package explorerbench

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}
import graft.GraftEngine
import graft.chain.{BlockDerivation, BlockSource, ForkResolver, UtxoQueries}
import graft.streaming.ChainIngest
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._

/** Drives the explorer through its public entry points on one closed-loop
  * client thread, following a plan written by `run.py`:
  *
  *  - set-up: Spark, a `ChainIngest.start` stream on an empty warehouse, the
  *    base chain dropped in as the first file, then untimed warm-up steps;
  *  - timed phase: the plan's rounds of steps, all of them;
  *    a commit step moves one staged JSON-lines file into the stream's
  *    source directory and waits for the batch to commit, a read step calls
  *    one `GraftEngine` lookup or stats method and collects the answer;
  *  - the final warehouse state, read back for the checks.
  *
  * Usage: Harness <plan.json>. Results go to the plan's `out` file; run.py
  * checks them against the generator's ledger and prints the metrics.
  */
object Harness {
  private val mapper = new ObjectMapper()

  def main(args: Array[String]): Unit = {
    val plan = mapper.readTree(Paths.get(args(0)).toFile)
    val dir = plan.get("dir").asText
    val traced = plan.get("trace").asInt == 1
    val out = mapper.createObjectNode()
    val wh = s"$dir/warehouse"
    val source = s"$dir/source"
    Files.createDirectories(Paths.get(source))

    val spark = SparkSession.builder()
      .master(s"local[${Runtime.getRuntime.availableProcessors}]")
      .appName("explorerbench")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.local.dir", s"$dir/spark-local")
      .config("spark.sql.warehouse.dir", s"$dir/spark-warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val tracer = if (traced) Some(new Tracer) else None
    tracer.foreach(t => spark.sparkContext.addSparkListener(t.listener))
    val feeTree = plan.get("fee_tree").asText
    val ingest = new ChainIngest(wh, feeTree = feeTree)
    val engine = new GraftEngine(spark, wh, feeTree = feeTree)
    val run = new Runner(spark, ingest, engine, wh, source, tracer, out)

    val query = ingest.start(spark, source, s"$dir/checkpoint", Trigger.ProcessingTime(0L))
    run.query = query
    try {
      run.commit(plan.get("base_file").asText, fork = false, "setup")
      plan.get("warmup").elements().asScala.foreach(s => run.step(s, "warmup"))

      val t0 = System.nanoTime()
      out.put("setup_s", (System.currentTimeMillis() - plan.get("t0_ms").asLong) / 1e3)
      val gc0 = gcMillis()
      val jit0 = jitMillis()
      plan.get("rounds").elements().asScala
        .foreach(_.elements().asScala.foreach(s => run.step(s, "timed")))
      out.put("timed_s", (System.nanoTime() - t0) / 1e9)
      out.put("jit_s", (jitMillis() - jit0) / 1e3)
      out.put("gc_s", (gcMillis() - gc0) / 1e3)
      out.put("peak_rss_mb", peakRssMb())
      out.put("peak_heap_mb", ManagementFactory.getMemoryPoolMXBeans.asScala
        .filter(_.getType == java.lang.management.MemoryType.HEAP)
        .map(_.getPeakUsage.getUsed).sum / 1048576.0)

      // the base chain is the stream's first file
      if (traced) run.layerProbes(s"$source/f1.json", feeTree)
      run.finalState()
      tracer.foreach { t =>
        t.drain()
        out.set[JsonNode]("trace", run.traceReport(t))
      }
    } finally {
      query.stop()
      spark.stop()
    }
    out.set[JsonNode]("ops", run.ops)
    mapper.writeValue(Paths.get(plan.get("out").asText).toFile, out)
  }

  def gcMillis(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  /** JIT compilation time so far, summed over the compiler threads. */
  private def jitMillis(): Long = ManagementFactory.getCompilationMXBean.getTotalCompilationTime

  /** The process's own peak resident set (VmHWM), in MB. */
  private def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0).getOrElse(-1.0)
}

/** One client: executes steps, records latencies, answers and spans. */
final class Runner(spark: SparkSession, ingest: ChainIngest, engine: GraftEngine,
  wh: String, source: String, tracer: Option[Tracer], out: ObjectNode) {

  private val mapper = new ObjectMapper()
  val ops: ArrayNode = mapper.createArrayNode()
  var query: StreamingQuery = _
  private var fileNo = 0
  private var lastBatchId = -1L
  /** Client-thread time spent on trace-only work during the timed phase. */
  var traceOverheadS = 0.0

  private def now(): Long = System.nanoTime()

  private def traceWork[A](phase: String)(f: => A): A = {
    val t0 = now()
    try f finally if (phase == "timed") traceOverheadS += (now() - t0) / 1e9
  }

  def step(s: JsonNode, phase: String): Unit = s.get("kind").asText match {
    case "commit" => commit(s.get("file").asText, s.get("fork").asBoolean, phase)
    case "read" => read(s, phase)
  }

  /** Drops one staged file into the source directory and waits until the
    * stream has committed it (landing to committed).
    */
  def commit(file: String, fork: Boolean, phase: String): Unit = {
    val before = tracer.map(_ => traceWork(phase)(Tracer.listing(wh)))
    val span = tracer.map(_.open(if (fork) "commit.fork" else "commit.append", phase))
    fileNo += 1
    val gc0 = Harness.gcMillis()
    val t0 = now()
    Files.move(Paths.get(file), Paths.get(s"$source/f$fileNo.json"),
      StandardCopyOption.ATOMIC_MOVE)
    query.processAllAvailable()
    val latency = (now() - t0) / 1e9
    val gcS = (Harness.gcMillis() - gc0) / 1e3
    for (t <- tracer; sp <- span) t.close(sp)
    val rec = ops.addObject()
    rec.put("kind", "commit").put("fork", fork).put("phase", phase)
      .put("latency_s", latency).put("jvm_gc_s", gcS)
    span.foreach(sp => rec.put("span", sp.id))
    val progress = query.recentProgress.filter(p => p.numInputRows > 0 && p.batchId > lastBatchId)
    if (progress.isEmpty) throw new IllegalStateException(s"no batch committed for $file")
    val p = progress.last
    lastBatchId = p.batchId
    rec.put("input_rows", p.numInputRows)
    if (tracer.isDefined) traceWork(phase) {
      val d = rec.putObject("durations_ms")
      p.durationMs.asScala.foreach { case (k, v) => d.put(k, v.longValue) }
      val after = Tracer.listing(wh)
      // files the batch wrote: new paths, or paths whose size changed
      val written = after.filter { case (q, n) => !before.get.get(q).contains(n) }
      val bytes = rec.putObject("bytes_written")
      written.groupBy { case (q, _) => Tracer.area(wh, q) }
        .foreach { case (a, fs) => bytes.put(a, fs.values.sum) }
      rec.put("files_written", written.keySet.count(_.endsWith(".parquet")))
    }
    if (tracer.isDefined) traceWork(phase) {
      // ForkResolver's tip-window walk over the raw table this batch
      // extended; the set-up commit's call is the layer's untimed warm-up
      val sp = tracer.get.open("layer.fork_resolve", "layer", parent = span.get.id)
      val t1 = now()
      ForkResolver.losingBlockIds(spark.read.parquet(s"$wh/raw"))
      tracer.get.close(sp)
      rec.put("fork_resolve_s", (now() - t1) / 1e9)
    }
  }

  private def mode(s: JsonNode): UtxoQueries.BoxMode = s.get("mode").asText match {
    case "unspent" => UtxoQueries.Unspent
    case "spent" => UtxoQueries.Spent
    case "any" => UtxoQueries.Any
  }

  private def readDf(s: JsonNode): DataFrame = {
    def str(k: String) = s.get(k).asText
    def boxes(df: DataFrame) = df.select("boxId", "ergValue")
    s.get("op").asText match {
      case "blockById" => engine.blockById(str("id")).select("blockId", "height")
      case "boxesByIds" =>
        boxes(engine.boxesByIds(mode(s), s.get("ids").elements().asScala.map(_.asText).toSeq))
      case "boxesByErgoTreeHash" => boxes(engine.boxesByErgoTreeHash(mode(s), str("hash")))
      case "boxesByAddress" => boxes(engine.boxesByAddress(mode(s), str("address")))
      case "boxesByTokenId" => boxes(engine.boxesByTokenId(mode(s), str("tokenId")))
      case "topAddressesByValue" =>
        engine.topAddressesByValue(s.get("k").asInt).select("ergoTreeHash", "totalValue")
      case "topAddressesByUtxoCount" =>
        engine.topAddressesByUtxoCount(s.get("k").asInt).select("ergoTreeHash", "utxoCount")
      case "epochRollup" =>
        engine.epochRollup.select("epoch", "nBlocks", "nTxs", "fees", "maxHeight")
      case "lastBlocks" => engine.lastBlocks(s.get("n").asInt).select("blockId", "height")
    }
  }

  def read(s: JsonNode, phase: String): Unit = {
    val op = s.get("op").asText
    val stats = Set("topAddressesByValue", "topAddressesByUtxoCount", "epochRollup",
      "lastBlocks").contains(op)
    // traced runs also time GraftEngine.tables alone (nine table reads)
    val tablesS = tracer.map { t =>
      traceWork(phase) {
        val sp = t.open("trace.tables", phase)
        val t0 = now(); engine.tables
        t.close(sp)
        (now() - t0) / 1e9
      }
    }
    val span = tracer.map(_.open(if (stats) s"stats.$op" else s"lookup.$op", phase))
    val t0 = now()
    var planS = 0.0
    // a failing read is recorded as a failed operation; the run goes on
    val rows = scala.util.Try {
      val df = readDf(s)
      if (tracer.isDefined) { df.queryExecution.executedPlan; planS = (now() - t0) / 1e9 }
      df.collect()
    }
    val latency = (now() - t0) / 1e9
    for (t <- tracer; sp <- span) t.close(sp)
    val rec = ops.addObject()
    rec.put("kind", if (stats) "stats" else "lookup").put("op", op).put("phase", phase)
      .put("latency_s", latency)
    span.foreach(sp => rec.put("span", sp.id))
    tablesS.foreach(v => rec.put("tables_s", v).put("plan_s", planS))
    rows.fold(e => rec.put("error", e.toString), { rs =>
      rec.put("rows", rs.length)
      val ans = rec.putArray("answer")
      rs.foreach(r => ans.add(rowJson(r)))
    })
  }

  private def rowJson(r: Row): ArrayNode = {
    val a = mapper.createArrayNode()
    r.toSeq.foreach {
      case v: String => a.add(v)
      case v: java.lang.Long => a.add(v.longValue)
      case v: java.lang.Integer => a.add(v.intValue)
      case null => a.addNull()
      case v => a.add(v.toString)
    }
    a
  }

  private def timedOp[A](name: String)(f: => A): (A, Double) = {
    val sp = tracer.map(_.open(name, "layer"))
    val t0 = now()
    val r = f
    val dt = (now() - t0) / 1e9
    for (t <- tracer; s <- sp) t.close(s)
    (r, dt)
  }

  /** Traced runs only: time decode and derive on the base chain file, the
    * live UTXO view, and GraftEngine.tables, each in its own window.
    */
  def layerProbes(baseFile: String, feeTree: String): Unit = {
    val noop = (df: DataFrame) => df.write.format("noop").mode("overwrite").save()
    val l = out.putObject("layers")
    def decode() = BlockSource.fromJsonLines(spark, baseFile)
    val nBlocks = timedOp("layer.decode")(decode().count())._1
    timedOp("layer.decode")(noop(decode().toDF()))                       // warm
    l.put("decode_s", timedOp("layer.decode")(noop(decode().toDF()))._2)
    l.put("blocks", nBlocks)
    val cached = decode().cache()
    timedOp("layer.decode")(cached.count())
    def deriveAll(): Long = {
      val t = BlockDerivation.derive(cached, feeTree)
      Seq(t.blocks, t.txs, t.outputs, t.inputs, t.assets, t.dataInputs, t.registers,
        t.tokens).map(_.count()).sum
    }
    timedOp("layer.derive")(deriveAll())                                   // warm
    val (rows, deriveS) = timedOp("layer.derive")(deriveAll())
    l.put("derive_s", deriveS).put("derive_rows", rows)
    cached.unpersist()
    l.put("utxo_view_s", timedOp("layer.utxo_view")(ingest.utxo(spark).count())._2)
    val live = {
      val m = Tracer.listing(s"$wh/utxo").keySet
      def vs(kind: String) = m.flatMap(p => s"utxo/$kind/v=(\\d+)".r
        .findFirstMatchIn(p).map(_.group(1).toLong))
      val base = vs("base").maxOption.getOrElse(-1L)
      vs("delta").count(_ > base)
    }
    l.put("utxo_live_deltas", live)
  }

  /** The warehouse read back for the checks: main chain, block ids and row
    * counts per entity table, minted tokens and the live UTXO set.
    */
  def finalState(): Unit = {
    val sp = tracer.map(_.open("check.final_state", "check"))
    val f = out.putObject("final")
    val chain = f.putArray("main_chain")
    spark.read.parquet(s"$wh/blocks").select("height", "blockId").collect()
      .sortBy(_.getInt(0)).foreach(r => chain.add(rowJson(r)))
    val ids = f.putObject("block_ids")
    val counts = f.putObject("counts")
    counts.put("blocks", chain.size)
    val tables = Seq("txs", "outputs", "inputs", "assets", "data_inputs", "registers")
    val perBlock = tables
      .map(t => spark.read.parquet(s"$wh/$t").select(lit(t).as("t"), col("blockId")))
      .reduce(_ unionByName _).groupBy("t", "blockId").count().collect()
      .groupBy(_.getString(0)).withDefaultValue(Array.empty[Row])
    tables.foreach { t =>
      val g = perBlock(t)
      counts.put(t, g.map(_.getLong(2)).sum)
      val a = ids.putArray(t)
      g.foreach(r => a.add(r.getString(1)))
    }
    val tokens = spark.read.parquet(s"$wh/tokens").select("tokenId").collect()
    counts.put("tokens", tokens.length)
    val ta = f.putArray("token_ids")
    tokens.foreach(r => ta.add(r.getString(0)))
    val utxo = f.putArray("utxo")
    ingest.utxo(spark).select("boxId", "ergValue").collect().foreach(r => utxo.add(rowJson(r)))
    for (t <- tracer; s <- sp) t.close(s)
  }

  def traceReport(t: Tracer): ObjectNode = {
    val r = mapper.createObjectNode()
    r.put("unattributed_jobs", t.unattributedJobs)
    r.put("overhead_s", traceOverheadS)
    val spans = r.putArray("spans")
    t.spans.foreach { s =>
      val c = t.countsFor(s)
      val o = spans.addObject()
      o.put("id", s.id).put("name", s.name).put("phase", s.phase).put("parent", s.parent)
        .put("start_ms", s.start).put("end_ms", s.end)
        .put("jobs", c.jobs).put("tasks", c.tasks).put("exec_run_s", c.runS)
        .put("exec_cpu_s", c.cpuS).put("gc_s", c.gcS).put("shuffle_bytes", c.shuffleBytes)
        .put("spill_bytes", c.spillBytes).put("input_bytes", c.inputBytes)
        .put("input_records", c.inputRecords).put("job_busy_s", c.jobBusyS)
      val sk = o.putArray("stage_skew")
      c.skew.foreach(v => sk.add(v))
    }
    r
  }
}
