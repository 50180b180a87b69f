package explorerbench

import org.apache.spark.scheduler._

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Spans and Spark counters for a traced run, kept in memory and written out
  * when the run ends.
  *
  * Every benchmark operation is a span (an operation window) on the single
  * client thread. The stream's own thread and the ingest write pool submit
  * most ingest jobs, so jobs are attributed by window: a job belongs to the
  * operation whose window holds its submission time. A job outside every
  * window is counted as unattributed.
  */
final class Tracer {
  import Tracer._

  val spans = mutable.ArrayBuffer.empty[Span]
  private val jobs = mutable.ArrayBuffer.empty[JobRec]
  private val stages = mutable.HashMap.empty[Int, StageRec]

  val listener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      jobs += JobRec(e.jobId, e.time, e.stageIds)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      jobs.find(_.id == e.jobId).foreach(_.end = e.time)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      val s = stages.getOrElseUpdate(e.stageId, new StageRec)
      s.tasks += 1
      s.durations += e.taskInfo.duration
      val m = e.taskMetrics
      if (m != null) {
        s.runMs += m.executorRunTime
        s.cpuNs += m.executorCpuTime
        s.gcMs += m.jvmGCTime
        s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        s.inputBytes += m.inputMetrics.bytesRead
        s.inputRecords += m.inputMetrics.recordsRead
      }
    }
  }

  def open(name: String, phase: String, parent: Int = -1): Span = synchronized {
    val s = Span(spans.size, name, phase, parent, System.currentTimeMillis())
    spans += s
    s
  }

  def close(s: Span): Unit = synchronized { s.end = System.currentTimeMillis() }

  /** Waits until every started job has ended and been counted. */
  def drain(timeoutMs: Long = 10000): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (synchronized(jobs.exists(_.end < 0)) && System.currentTimeMillis() < deadline)
      Thread.sleep(20)
    Thread.sleep(200)
  }

  /** The innermost span whose window holds the job's submission time. */
  private def ownerOf(j: JobRec): Option[Span] =
    spans.filter(w => w.start <= j.time && j.time <= w.end).sortBy(-_.start).headOption

  def unattributedJobs: Int = synchronized(jobs.count(j => ownerOf(j).isEmpty))

  def countsFor(span: Span): Counts = synchronized {
    val own = jobs.filter(j => ownerOf(j).exists(_.id == span.id))
    val st = own.flatMap(_.stages).distinct.flatMap(stages.get)
    // union of the job intervals: the part of the span some job was running
    val iv = own.map(j => (j.time, if (j.end < 0) j.time else j.end)).sortBy(_._1)
    var busy = 0L; var curS = -1L; var curE = -1L
    iv.foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) busy += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) busy += curE - curS
    val skew = st.filter(_.durations.size >= 2).map { s =>
      val d = s.durations.sorted
      val n = d.size
      val med = if (n % 2 == 1) d(n / 2).toDouble else (d(n / 2 - 1) + d(n / 2)) / 2.0
      if (med <= 0) 1.0 else d.last / med
    }
    Counts(own.size, st.map(_.tasks).sum, st.map(_.runMs).sum / 1e3,
      st.map(_.cpuNs).sum / 1e9, st.map(_.gcMs).sum / 1e3,
      st.map(s => s.shuffleRead + s.shuffleWrite).sum, st.map(_.spill).sum,
      st.map(_.inputBytes).sum, st.map(_.inputRecords).sum, busy / 1e3, skew.toSeq)
  }
}

object Tracer {
  final case class Span(id: Int, name: String, phase: String, parent: Int,
    start: Long, var end: Long = -1L)
  final case class JobRec(id: Int, time: Long, stages: Seq[Int], var end: Long = -1L)
  final class StageRec {
    var tasks = 0; var runMs = 0L; var cpuNs = 0L; var gcMs = 0L
    var shuffleRead = 0L; var shuffleWrite = 0L; var spill = 0L
    var inputBytes = 0L; var inputRecords = 0L
    val durations = mutable.ArrayBuffer.empty[Long]
  }

  /** Counters summed over the jobs a span owns. */
  final case class Counts(jobs: Int, tasks: Int, runS: Double, cpuS: Double,
    gcS: Double, shuffleBytes: Long, spillBytes: Long, inputBytes: Long,
    inputRecords: Long, jobBusyS: Double, skew: Seq[Double])

  /** Data files under a warehouse, keyed by path, with their sizes. */
  def listing(root: String): Map[String, Long] = {
    val r = Paths.get(root)
    if (!Files.exists(r)) Map.empty
    else {
      val walk = Files.walk(r)
      try walk.iterator().asScala.filter(p => Files.isRegularFile(p))
        .map(p => p.toString -> safeSize(p)).toMap
      finally walk.close()
    }
  }

  private def safeSize(p: Path): Long =
    try Files.size(p) catch { case _: java.io.IOException => 0L }

  /** The warehouse area a file belongs to: raw, entity tables, UTXO store,
    * hot-key counters, or anything else the ingest keeps.
    */
  def area(root: String, path: String): String = {
    val rel = path.stripPrefix(root).stripPrefix("/")
    rel.takeWhile(_ != '/') match {
      case "raw" => "raw"
      case "utxo" => "utxo"
      case "hot_keys" => "hot_keys"
      case "blocks" | "txs" | "outputs" | "inputs" | "assets" | "data_inputs" |
           "registers" | "tokens" => "entity"
      case _ => "other"
    }
  }
}
