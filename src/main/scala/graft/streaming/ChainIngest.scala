package graft.streaming

import graft.Lineage.LineageCut

import graft.chain._
import org.apache.spark.sql.{DataFrame, Dataset, Encoders, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

import java.nio.file.{Files, Paths}

/** Streaming chain ingest (SURVEY.md §2.9 ST1–ST4): a Structured Streaming
  * source of raw blocks driven through `foreachBatch`, maintaining the
  * entity tables incrementally and the UTXO set as base + delta versions.
  *
  * Design (vs the reference's MVStore/H2 pair, PersistentRepo.scala:58-73):
  *  - the COMMON path appends only the batch's own entity rows; cumulative
  *    stats are carried forward from the stored tip exactly like
  *    `BlockBuilder(prev)` — no re-scan of history per batch;
  *  - UTXO maintenance is the K2 delta as actual DELTAS: each batch commits
  *    {adds = outputs ∖ in-batch spends, removes = spends of pre-batch
  *    boxes} (a few MB), NOT a rewritten full snapshot (~10 GB at mainnet
  *    scale). The live view = (base ∪ adds*) ∖ removes* — sound because box
  *    ids never recur — and every `compactEvery` deltas the view is rolled
  *    into a new base (MVCC revisions, MvStorage.scala:296-298 keeps 10);
  *  - a FORK (incoming height ≤ stored tip, or competing same-height blocks
  *    in one batch) rebuilds ONLY `heightBucket ≥ fork bucket`: the winning
  *    chain's tail is re-derived with cumulative/global-index offsets seeded
  *    from the last untouched bucket's tip, and written with dynamic
  *    partition overwrite — files in earlier buckets are never touched.
  *
  * Checkpointing replaces the reference's Initializer integrity check: the
  * source offset and the tables advance together in foreachBatch, and
  * reprocessing a batch is idempotent (a redelivered batch lands on the
  * fork path, which rebuilds from id-deduped raw); [[heal]] covers every
  * crash window between the raw append and the UTXO commit by comparing the
  * raw tip against the blocks/txs/outputs tips AND the UTXO view's tip.
  */
class ChainIngest(
  val warehouse: String,
  keepVersions: Int = 10,
  bucketSize: Int = ChainConst.HeightBucketSize,
  compactEvery: Int = 8,
  feeTree: String = ChainFixture.FeeTree,
  protocolTrees: Seq[String] = Nil,
  /** Soft-delete retention (reference CassandraBlockUpdater.scala:21-57):
    * when true, every entity row carries a `mainChain` flag and a fork
    * RETAINS the losing branch's rows flagged false instead of dropping
    * them — explorers can then answer "orphaned blocks" queries from the
    * entity tables. Mainline views ([[mainChainBlocks]], the UTXO state,
    * range scans through [[mainChainOnly]]) exclude flagged rows. The mode
    * must stay constant for a warehouse's lifetime (it changes the table
    * schema). Reads declare the mode's schema rather than infer the files',
    * so a warehouse opened in the wrong mode does not fail: a missing
    * `mainChain` column reads as null and every mainline view returns no
    * rows. Cumulative/global-index columns on orphaned rows are
    * branch-local values, meaningful only along the main chain.
    */
  val retainLosers: Boolean = false,
  /** K6/S6 online hot-key learning (reference SuperNodeCollector.scala:37-65
    * + SuperNodeCounter.scala:8-19, threshold 500): each common-path batch
    * folds its per-script box activity into a PERSISTED running counter
    * table, and scripts whose cumulative ops exceed the threshold form the
    * learned hot list — surviving restarts exactly like the reference's
    * appended `*.gz` key files, and consumed as the salt list of
    * [[utxoByScript]] (targeted salting, SkewFunctions). Threshold ≤ 0
    * disables learning (no counter jobs on the ingest path).
    */
  val hotKeyThreshold: Long = 500) {

  require(keepVersions >= 1 && compactEvery >= 1 && bucketSize >= 1,
    "keepVersions, compactEvery, and bucketSize must be positive")

  /** In retain mode every written row carries the soft-delete flag. */
  private def flagged(df: DataFrame, main: Boolean): DataFrame =
    if (retainLosers) df.withColumn("mainChain", lit(main)) else df

  /** Restrict a retain-mode table view to main-chain rows (identity in the
    * default mode, where losers are physically dropped).
    */
  def mainChainOnly(df: DataFrame): DataFrame =
    if (retainLosers) df.filter(col("mainChain")) else df

  private def p(name: String) = s"$warehouse/$name"
  private def exists(name: String) = Files.exists(Paths.get(p(name)))

  /** Read a warehouse table under its [[knownSchema]], so no read infers a
    * schema: a read runs no Spark job until the query's own, and a root that
    * holds no part file yet (a sparse table before its first row, a root
    * emptied by a crash) reads as zero rows. The file listing and partition
    * discovery still run on every call, so each read sees the latest
    * committed files, including bucket dirs a fork deleted and rewrote.
    * `path` defaults to the table's own dir; the versioned tables (UTXO and
    * hot-key bases and deltas) pass one version's dir.
    */
  private[graft] def read(spark: SparkSession, table: String): DataFrame =
    read(spark, table, p(table))

  private[graft] def read(spark: SparkSession, table: String, path: String): DataFrame =
    spark.read.schema(knownSchema(table)).parquet(path)

  /** The eight entity tables of a derivation, each with its height column. */
  private def entities(t: ChainTables): Seq[(String, DataFrame, String)] = Seq(
    ("blocks", t.blocks, "height"), ("txs", t.txs, "height"),
    ("outputs", t.outputs, "settlementHeight"), ("inputs", t.inputs, "height"),
    ("assets", t.assets, "height"), ("data_inputs", t.dataInputs, "height"),
    ("registers", t.registers, "height"), ("tokens", t.tokens, "issuingHeight"))

  /** Append a derived entity table's rows to its bucket-partitioned root. */
  private def appendEntity(name: String, df: DataFrame, heightCol: String, main: Boolean): Unit =
    withBucket(flagged(df, main), heightCol).write.mode(SaveMode.Append)
      .partitionBy("heightBucket").parquet(p(name))

  /** Every stored table's schema, known without reading a file: raw from
    * its encoder, the UTXO base and delta halves from [[utxoSchema]], the
    * hot-key base and deltas from [[hotKeySchema]], and the rest from
    * [[derivedSchemas]]. An unknown table name is a caller's bug and throws.
    * The writers and these schemas are kept in step by a test that infers
    * every table's files.
    */
  private[graft] def knownSchema(table: String): StructType = table match {
    case "raw" => Encoders.product[RawBlock].schema
    case "utxo/base" | "utxo/delta/adds" => utxoSchema
    case "utxo/delta/removes" => utxoSchema(Set("boxId"))
    case "hot_keys/base" | "hot_keys/delta" => hotKeySchema
    case _ => derivedSchemas.getOrElse(table,
      throw new IllegalArgumentException(s"no known schema for warehouse table $table"))
  }

  /** The eight entity tables as written (a derivation over no blocks, plus
    * the retain-mode flag and the bucket column) and the script dims
    * ([[BlockDerivation.scriptDims]] over its outputs). Analysis only, no
    * job; computed once per instance at the first read of such a table, so
    * raw, UTXO and hot-key reads never pay for it.
    */
  private lazy val derivedSchemas: Map[String, StructType] = {
    val t = BlockDerivation.derive(
      SparkSession.active.emptyDataset(Encoders.product[RawBlock]), feeTree, protocolTrees)
    val (ergoTrees, t8s) = BlockDerivation.scriptDims(t.outputs)
    entities(t)
      .map { case (name, df, h) => name -> withBucket(flagged(df, main = true), h).schema }
      .toMap + ("ergo_trees" -> ergoTrees.schema) + ("ergo_tree_t8s" -> t8s.schema)
  }

  /** The pin hook for [[BlockDerivation.derive]]'s shared sub-plans. The
    * ingest paths fan one derivation out into 8 table writes plus tip/delta
    * actions; unpinned, every action BOTH re-runs the UDF-heavy decode of
    * the micro-batch AND re-pays Catalyst analysis and planning of the
    * ~200-operator derivation plan (measured 3–10× wall on the fork path).
    * `localCheckpoint` fixes both: partitions are computed once and the
    * lineage is CUT, so each downstream action analyzes a 3-node LogicalRDD
    * plan. The cut is eager, one job per pinned core before any table
    * write: a lazy cut materialized by whichever of the concurrent writes
    * finished first dropped the core's lineage while the other writes'
    * tasks over it still ran, so their SQL metrics were already collected
    * when those tasks reported ("non-existent accumulator"). Micro-batches
    * are trigger-bounded, so the checkpointed partitions are small; Spark's
    * ContextCleaner reclaims them once the batch's frames are unreachable.
    * Trade-off (documented Spark behavior): a lost executor loses local
    * checkpoints — recovery here is the STREAM's, not the plan's:
    * foreachBatch redelivers the batch and both ingest paths are idempotent
    * (raw is id-deduped; appends land on the fork path on replay).
    */
  private val pinCore: DataFrame => DataFrame = _.cutLineage()

  /** Fan independent entity-table writes out concurrently. The 8 sinks
    * share nothing below the pinned derivation cores (materialized before
    * the fan-out), so sequential submission would serialize 8 small jobs'
    * scheduling + commit latency for no ordering benefit — on a cluster the
    * writes land on disjoint executors/paths anyway. On failure the FULL
    * set is awaited before the first error propagates: the caller's
    * recovery (tip-cache drop → redelivery → fork rebuild) must never run
    * concurrently with a still-in-flight straggler append, or the straggler
    * could commit rows into buckets the rebuild already dropped.
    */
  private def parallelCommit(writes: Seq[() => Unit]): Unit = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.util.{Failure, Try}
    implicit val ec = ChainIngest.writeEc
    val outcomes: Seq[Try[Unit]] =
      Await.result(Future.sequence(writes.map(w => Future(w()).transform(Try(_)))), Duration.Inf)
    outcomes.collectFirst { case Failure(e) => throw e }
  }

  /** Run `f` with whole-stage codegen off and Spark's expression factories
    * interpreted, restoring the session's prior values afterwards. Every
    * plan whose input is the micro-batch or a fork's rebuilt tail runs in
    * this scope: such a batch needs 200–280 generated classes, more than
    * Spark's codegen cache holds (`spark.sql.codegen.cache.maxEntries`, 100
    * by default and a static conf), so compiled, it paid a Janino compile
    * per class on every batch while its few rows ran in microseconds
    * either way. Plans over stored history (the UTXO base rebuild and
    * compaction, the hot-key merge, fork resolution over raw, the tip
    * scans) stay compiled: interpreted, they are slower on millions of
    * rows, and with only those left the cache holds ingest's classes from
    * one batch to the next. Under [[start]] the session is the stream's own
    * clone, so readers' sessions never see these values; a direct
    * [[processBatch]] or [[heal]] caller's session runs interpreted for
    * the call's duration.
    */
  private def interpreted[A](spark: SparkSession)(f: => A): A = {
    val confs = Seq(
      "spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")
    val set = spark.conf.getAll
    val prior = confs.map { case (k, _) => k -> set.get(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try f
    finally prior.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  // ST2 tip carry — the reference's in-memory ChainTip FIFO
  // (ChainLinker.scala:46-54): the stored tip row is held across
  // micro-batches instead of being re-read from the blocks table every
  // trigger (which re-lists every heightBucket partition — O(history) work
  // on the ingest hot path). Seeded lazily from ONLY the max heightBucket
  // partition, updated from each batch's own derived rows thereafter, and
  // invalidated on any batch failure so a retry re-reads storage instead of
  // trusting a cache the half-applied batch may have outrun.
  @volatile private var cachedTip: Option[Row] = None
  @volatile private var tipSeeded = false
  private[graft] var tipSeedReads = 0 // test hook: storage reads of the tip

  /** Max heightBucket partition of `name` strictly below `below` — a single
    * directory listing, no Spark job.
    */
  private def maxBucketOf(name: String, below: Int = Int.MaxValue): Option[Int] = {
    val root = Paths.get(p(name))
    if (!Files.exists(root)) None
    else {
      val stream = Files.list(root)
      try {
        val buckets = stream.toArray.map(_.toString)
          .filter(_.contains("heightBucket="))
          .flatMap(d => d.substring(d.lastIndexOf('=') + 1).toIntOption)
          .filter(_ < below)
        if (buckets.isEmpty) None else Some(buckets.max)
      } finally stream.close()
    }
  }

  /** The tip seeding scan, pruned to one partition: the max-height row can
    * only live in the max heightBucket, so everything below it is never
    * listed or read. `belowBucket` bounds the scan for fork seeding (the
    * tip of the last UNTOUCHED bucket).
    */
  private[graft] def tipScan(spark: SparkSession,
    belowBucket: Int = Int.MaxValue): Option[DataFrame] =
    maxBucketOf("blocks", belowBucket).map(b =>
      mainChainOnly(read(spark, "blocks").filter(col("heightBucket") === b))
        .orderBy(desc("height")).limit(1))

  private def readTipFromStorage(spark: SparkSession,
    belowBucket: Int = Int.MaxValue): Option[Row] = {
    tipSeedReads += 1
    tipScan(spark, belowBucket).flatMap(_.collect().headOption)
  }

  /** Height-bucket partition column (application.conf compaction cadence). */
  private def withBucket(df: DataFrame, heightCol: String): DataFrame =
    df.withColumn("heightBucket", floor(col(heightCol) / bucketSize).cast("int"))

  def start(spark: SparkSession, sourceDir: String, checkpoint: String,
    trigger: Trigger = Trigger.ProcessingTime("5 seconds") /* ST1 cadence */): StreamingQuery =
    spark.readStream
      .schema(Encoders.product[RawBlock].schema)
      .json(sourceDir)
      .writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (df: DataFrame, batchId: Long) =>
        import df.sparkSession.implicits._
        processBatch(df.as[RawBlock], batchId)
      }
      .start()

  /** The per-batch pipeline — public so tests (and backfills) can drive it
    * directly (ST2).
    */
  def processBatch(batch: Dataset[RawBlock], batchId: Long): Unit = {
    val spark = batch.sparkSession
    // one aggregate pass over the batch: its size, lowest height,
    // duplicate-height detection, and the lowest block's timestamp (min
    // over (height, ts) structs — deterministic under same-height forks,
    // unlike a sort+take).
    val stats = interpreted(spark)(batch.toDF().select(
      count(lit(1)).as("n"),
      min(col("header.height")).as("minH"),
      countDistinct(col("header.height")).as("nh"),
      min(struct(col("header.height"), col("header.timestamp")))
        .getField("timestamp").as("firstTs")).head())
    if (stats.getAs[Long]("n") == 0) return
    interpreted(spark)(batch.toDF().write.mode(SaveMode.Append).parquet(p("raw")))

    // steady state touches NO stored table for the tip — it was carried from
    // the previous batch; only a fresh instance (start / restart / post-heal)
    // pays the one pruned seeding read.
    val tip: Option[Row] = {
      if (!tipSeeded) { cachedTip = readTipFromStorage(spark); tipSeeded = true }
      cachedTip
    }

    val minBatchHeight = stats.getAs[Int]("minH")
    val hasInBatchFork = stats.getAs[Long]("n") != stats.getAs[Long]("nh")
    // ST3: fork vs the stored tip, OR competing same-height blocks inside
    // the batch itself — both resolve through the bucket-scoped rebuild.
    val isFork = hasInBatchFork || tip.exists(t => minBatchHeight <= t.getAs[Int]("height"))

    try {
      if (isFork) reprocessFromRaw(spark, minBatchHeight)
      else appendIncremental(batch, tip, minBatchHeight,
        if (stats.isNullAt(3)) None else Some(stats.getAs[Long]("firstTs")))
    } catch {
      // a batch that failed mid-write may have advanced the stored tables
      // past the carried tip — drop the cache so the retry reseeds from
      // storage (the pre-carry behavior) instead of double-appending.
      case e: Throwable => tipSeeded = false; cachedTip = None; throw e
    }
  }

  /** Shift a freshly-derived (tail or batch) table set so its cumulative and
    * global-index columns continue from `tip` (the stored block the new rows
    * chain onto) — the `BlockBuilder(prev)` carry. `minHeight`/`firstTs`
    * identify the new range's lowest block for the mining-time boundary:
    * its in-derivation lag is null, so its true blockMiningTime
    * (firstTs − tip timestamp) is patched in and folded into the cumulative.
    */
  private def shiftFromTip(
    t: ChainTables, tip: Option[Row],
    minHeight: Int, firstTs: Option[Long]): (DataFrame, DataFrame, DataFrame) = {
    val (txBase, boxBase) = tip
      .map(r => (r.getAs[Long]("maxTxGix") + 1, r.getAs[Long]("maxBoxGix") + 1))
      .getOrElse((0L, 0L))
    val cumulativeCols = Seq(
      "blockChainTotalSize", "totalTxsCount", "totalMiningTime",
      "totalFees", "totalMinersReward", "totalCoinsInTxs")

    val blocksShifted0 = cumulativeCols.foldLeft(t.blocks) { case (df, c) =>
      tip.map(r => df.withColumn(c, col(c) + r.getAs[Long](c))).getOrElse(df)
    }
      .withColumn("maxTxGix", col("maxTxGix") + txBase)
      .withColumn("maxBoxGix", col("maxBoxGix") + boxBase)
    val blocksShifted = tip.map { r =>
      val firstDelta = firstTs.map(_ - r.getAs[Long]("timestamp")).getOrElse(0L)
      val firstH = col("height") === lit(minHeight)
      blocksShifted0
        .withColumn("blockMiningTime",
          when(firstH, lit(firstDelta)).otherwise(col("blockMiningTime")))
        .withColumn("totalMiningTime", col("totalMiningTime") + firstDelta)
    }.getOrElse(blocksShifted0)

    (blocksShifted,
      t.txs.withColumn("globalIndex", col("globalIndex") + txBase),
      t.outputs.withColumn("globalIndex", col("globalIndex") + boxBase))
  }

  /** Common path: derive the batch alone, shift by the stored tip, append,
    * and commit the batch's UTXO add/remove delta.
    */
  private def appendIncremental(
    batch: Dataset[RawBlock], tip: Option[Row],
    minBatchHeight: Int, firstTs: Option[Long]): Unit = {
    val spark = batch.sparkSession
    val (batchOutputs, batchInputIds) = interpreted(spark) {
      val t = BlockDerivation.derive(batch, feeTree, protocolTrees, pinCore)
      val (blocksShifted, txsShifted, outputsShifted) =
        shiftFromTip(t, tip, minBatchHeight, firstTs)

      // next batch's tip, computed from the micro-batch's own rows (a
      // batch-sized TakeOrdered) — assigned only after every write commits.
      val newTip = blocksShifted.orderBy(desc("height")).limit(1)
        .collect().headOption

      parallelCommit(entities(t.copy(
        blocks = blocksShifted, txs = txsShifted, outputs = outputsShifted)).map {
        case (name, df, heightCol) => () => appendEntity(name, df, heightCol, main = true)
      })

      // K2 delta commit: adds = batch outputs not spent in-batch; removes =
      // batch inputs that spend pre-batch boxes. View-level soundness needs
      // box ids to never recur — guaranteed by the protocol (a box id hashes
      // its creating tx).
      val batchOutputs = t.outputs.select(utxoCols.head, utxoCols.tail: _*)
      val batchInputIds = t.inputs.select("boxId")
      commitDelta(
        adds = batchOutputs.join(batchInputIds, Seq("boxId"), "left_anti"),
        removes = batchInputIds.join(batchOutputs.select("boxId"), Seq("boxId"), "left_anti"))
      cachedTip = newTip.orElse(tip)
      tipSeeded = true
      (batchOutputs, batchInputIds)
    }
    compactUtxoIfDue(spark)

    // K6 online learning: fold this batch's per-script box activity into
    // the persisted counters (after the batch commits — a failed batch
    // must not advance the learner).
    updateHotCounts(batchOutputs, batchInputIds)
  }

  // ---- K6/S6: learned hot-key list (supernode detection) ----
  // Counters use the UTXO store's base+delta commit discipline: each batch
  // appends only its OWN batch-sized ops delta (atomic tmp+rename), and
  // every `compactEvery` deltas fold into a new consolidated base — the
  // base rename is the commit point, so a crash anywhere leaves a
  // consistent view (base ∪ deltas-above-base) and per-batch cost never
  // grows with the accumulated distinct-script count. Counted activity is
  // what the batch alone observes: box creations per script plus in-batch
  // spends — no historical join on the ingest hot path (a removal-heavy
  // script always registered its creations first). The counter is a
  // heuristic learner (a redelivered batch may double-count); the
  // threshold semantics tolerate that exactly like the reference's op
  // counters.

  /** The hot-key base's and each delta's columns. */
  private val hotKeySchema = StructType.fromDDL("ergoTreeHash STRING, ops BIGINT")

  private def hotBaseVs(): Seq[Long] = versionsIn("hot_keys/base")
  private def hotDeltaVs(): Seq[Long] = versionsIn("hot_keys/delta")

  private def writeHot(df: DataFrame, kind: String, v: Long): Unit = {
    val tmp = p(s"hot_keys/$kind/v=$v.tmp")
    df.write.mode(SaveMode.Overwrite).parquet(tmp)
    Files.move(Paths.get(tmp), Paths.get(p(s"hot_keys/$kind/v=$v")))
  }

  private def hotCountsView(spark: SparkSession): Option[DataFrame] = {
    val baseV = hotBaseVs().lastOption.getOrElse(-1L)
    def version(kind: String, v: Long) = read(spark, s"hot_keys/$kind", p(s"hot_keys/$kind/v=$v"))
    val parts = hotBaseVs().lastOption.map(version("base", _)).toSeq ++
      hotDeltaVs().filter(_ > baseV).map(version("delta", _))
    if (parts.isEmpty) None
    else Some(parts.reduce(_ unionByName _)
      .groupBy("ergoTreeHash").agg(sum("ops").as("ops")))
  }

  private def updateHotCounts(batchOutputs: DataFrame, batchInputIds: DataFrame): Unit = {
    if (hotKeyThreshold <= 0) return
    val spark = batchOutputs.sparkSession
    val batchOps = batchOutputs.select("ergoTreeHash")
      .unionAll(batchOutputs.join(batchInputIds, Seq("boxId"), "left_semi")
        .select("ergoTreeHash"))
      .groupBy("ergoTreeHash").agg(count(lit(1)).as("ops"))
    val v = (hotBaseVs() ++ hotDeltaVs()).maxOption.getOrElse(-1L) + 1
    interpreted(spark)(writeHot(batchOps, "delta", v))
    val baseV = hotBaseVs().lastOption.getOrElse(-1L)
    val staleDeltas = hotDeltaVs().filter(_ <= baseV) // crashed pre-GC leftovers
    val liveDeltas = hotDeltaVs().filter(_ > baseV)
    if (liveDeltas.size >= compactEvery) {
      val merged = hotCountsView(spark).get.cutLineage() // pin pre-delete
      writeHot(merged, "base", v + 1) // the commit point
      (liveDeltas ++ staleDeltas).foreach(d => rm(p(s"hot_keys/delta/v=$d")))
      hotBaseVs().dropRight(1).foreach(b => rm(p(s"hot_keys/base/v=$b")))
    } else staleDeltas.foreach(d => rm(p(s"hot_keys/delta/v=$d")))
  }

  /** The persisted per-script op counters (the K6 report's input) — an
    * EAGER snapshot (the tiny hot-key table), so a held reference can never
    * break when a later batch's consolidation GCs the versions it read.
    */
  def scriptOpCounts(spark: SparkSession): DataFrame =
    hotCountsView(spark).map(_.cutLineage())
      .getOrElse(spark.createDataFrame(java.util.List.of[Row](), hotKeySchema))

  /** The learned hot list: scripts whose cumulative ops exceed the
    * threshold — loaded from storage, so a RESTARTED ingest starts salted
    * (the reference persists its learned list the same way). Bounded
    * collect: hot keys are by definition the few heaviest scripts.
    */
  def learnedHotKeys(spark: SparkSession): Set[String] =
    if (hotKeyThreshold <= 0) Set.empty
    else scriptOpCounts(spark).filter(col("ops") > hotKeyThreshold)
      .select("ergoTreeHash").collect().map(_.getString(0)).toSet

  /** A4 under supernode skew: the live UTXO set aggregated per script with
    * TARGETED salting from the learned hot list — cold scripts aggregate in
    * one pass, learned-hot scripts fan across `salts` partials first
    * (SkewFunctions.saltedSumWithHotList), the Spark translation of the
    * reference's dedicated supernode maps.
    */
  def utxoByScript(spark: SparkSession, salts: Int = 16): DataFrame =
    graft.functions.SkewFunctions.saltedSumWithHotList(
      utxo(spark), "ergoTreeHash", "ergValue", learnedHotKeys(spark), salts)

  /** Progress marker for the destructive rebuild: tip checks cannot protect
    * the SPARSE tables (tokens/registers/… legitimately lag the chain tip),
    * so a crash between dropBucketsFrom and the re-append is detected by
    * this marker instead — written before the first delete, removed after
    * the final commit, replayed by [[heal]].
    */
  private def rebuildMarker = Paths.get(p("_rebuild_from"))

  /** Fork path (ST3): resolve the main chain over id-deduped raw, re-derive
    * ONLY heights ≥ the fork bucket's floor, seed cumulative/gix offsets
    * from the preceding bucket's stored tip, and overwrite only the
    * affected heightBucket partitions (dynamic partition overwrite). Files
    * in buckets below the fork bucket are never rewritten.
    */
  private def reprocessFromRaw(spark: SparkSession, fromHeight: Int): Unit = {
    import spark.implicits._
    val forkBucket = math.max(fromHeight, 0) / bucketSize
    val rebuildFrom = forkBucket.toLong * bucketSize
    // marker published atomically (tmp + rename) — a truncated marker would
    // read as "rebuild from 0" and trigger a needless full rebuild.
    Files.createDirectories(Paths.get(warehouse))
    val markerTmp = Paths.get(p("_rebuild_from.tmp"))
    Files.writeString(markerTmp, fromHeight.toString)
    // ATOMIC_MOVE makes a non-atomic fallback (copy+delete on a foreign
    // FileSystem provider) throw instead of silently reopening the
    // truncated-marker crash window.
    Files.move(markerTmp, rebuildMarker,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    val raw = read(spark, "raw")
    // losers are resolved from the tip WINDOW only (a driver walk over
    // ≤window*4 header rows; duplicate ids are collapsed by the walk's
    // id-keyed map), so resolution needs no dedupe at all.
    val losers = ForkResolver.losingBlockIds(raw)
    // a replayed batch (foreachBatch redelivery after a crash) appends its
    // raw blocks twice — dedupe by block id so replay is idempotent
    // end-to-end. Only the REBUILT range can hold duplicates that matter
    // (heights below it are never re-derived), so the dedupe shuffle is
    // bounded to the tail instead of the whole raw history.
    val rangeDeduped = raw
      .filter(col("header.height") >= rebuildFrom)
      .withColumn("_bid", col("header.id"))
      .dropDuplicates("_bid")
      .drop("_bid")
    val tail = rangeDeduped
      .filter(if (losers.isEmpty) lit(true)
        else !col("header.id").isin(losers.toSeq: _*))
      .as[RawBlock]
    // seed from the last block BELOW the rebuilt range (untouched buckets
    // are correct by induction) — read pruned to the max surviving bucket;
    // the tail's own lowest block supplies the mining-time boundary
    // timestamp.
    val tip: Option[Row] =
      if (forkBucket > 0) readTipFromStorage(spark, belowBucket = forkBucket)
      else None

    val newTip = interpreted(spark) {
      val t = BlockDerivation.derive(tail, feeTree, protocolTrees, pinCore)
      val tailStats = tail.toDF().select(
        min(col("header.height")).as("minH"),
        min(struct(col("header.height"), col("header.timestamp")))
          .getField("timestamp").as("firstTs")).head()
      val (blocksShifted, txsShifted, outputsShifted) =
        if (tailStats.isNullAt(0)) (t.blocks, t.txs, t.outputs)
        else shiftFromTip(t, tip, tailStats.getAs[Int]("minH"),
          Some(tailStats.getAs[Long]("firstTs")))

      // Explicit bucket deletion, NOT dynamic partition overwrite: a sparse
      // table (tokens, data_inputs, registers…) can have ZERO winner rows in
      // a rebuilt bucket, and dynamic overwrite would then leave the losing
      // branch's stale partition in place — phantom tokens, and stale inputs
      // that corrupt the UTXO anti-join. Delete-then-append is not atomic; a
      // crash in between leaves the table tip behind raw, which heal()
      // detects and repairs.
      // cachedTip is only ASSIGNED after every write commits.
      val newTip = blocksShifted.orderBy(desc("height")).limit(1).collect().headOption
      parallelCommit(entities(t.copy(
        blocks = blocksShifted, txs = txsShifted, outputs = outputsShifted)).map {
        case (name, df, heightCol) => () =>
          dropBucketsFrom(name, forkBucket)
          appendEntity(name, df, heightCol, main = true)
      })

      // Soft-delete retention: the losing branch's rows are re-derived and
      // appended flagged mainChain=false — the dropBucketsFrom above wiped
      // any previously-flagged orphans in the rebuilt range, and every
      // still-relevant orphan is in the tip-window loser set (consensus
      // bounds fork depth, so orphans older than the window sit in untouched
      // buckets). Derivation of the losers is unseeded: cumulative/gix
      // columns on orphans are branch-local (documented on [[retainLosers]]).
      if (retainLosers && losers.nonEmpty) {
        val lt = BlockDerivation.derive(
          rangeDeduped.filter(col("header.id").isin(losers.toSeq: _*)).as[RawBlock],
          feeTree, protocolTrees, pinCore)
        parallelCommit(entities(lt).map {
          case (name, df, heightCol) => () => appendEntity(name, df, heightCol, main = false)
        })
      }
      newTip
    }

    // UTXO after a fork: rebuild from the (now-corrected) warehouse tables
    // as a fresh BASE version — the one full-table anti-join is the rare,
    // bounded-depth rollback cost (forks are ≤10 deep by consensus). In
    // retain mode the flagged orphan rows must not surface as UTXOs or
    // spend main-chain boxes.
    val rebuilt = mainChainOnly(read(spark, "outputs"))
      .select(utxoCols.head, utxoCols.tail: _*)
      .join(mainChainOnly(read(spark, "inputs")).select("boxId"),
        Seq("boxId"), "left_anti")
    commitBase(rebuilt)
    Files.deleteIfExists(rebuildMarker)

    // the rebuilt tail's max block is the chain tip the next batch chains
    // onto (or, for an all-loser tail, the seeded below-fork tip).
    cachedTip = newTip.orElse(tip)
    tipSeeded = true
  }

  /** Recursive delete (shared by partition drops and version retention). */
  private def rm(path: String): Unit = ChainIngest.rmTree(path)

  /** Delete every heightBucket partition dir ≥ `fromBucket` of `name`. */
  private def dropBucketsFrom(name: String, fromBucket: Int): Unit = {
    val root = Paths.get(p(name))
    if (Files.exists(root)) {
      val stream = Files.list(root)
      try stream.toArray.map(_.toString)
        .filter(_.contains("heightBucket="))
        .filter(d => d.substring(d.lastIndexOf('=') + 1).toIntOption.exists(_ >= fromBucket))
        .foreach(rm)
      finally stream.close()
    }
  }

  // ---- UTXO state: base snapshots + per-batch deltas (MVCC revisions) ----
  // Versions are one monotonic counter across bases and deltas: every commit
  // writes max+1, so a commit can never overwrite data its own lazy plan is
  // reading, and heal/backfill/stream interleavings stay ordered. The live
  // view is base(maxBase) ∪ {delta adds > maxBase} ∖ {delta removes >
  // maxBase}.

  /** The UTXO set's columns: the base and each delta's `adds` half. */
  private val utxoSchema = StructType.fromDDL(
    "boxId STRING, txId STRING, blockId STRING, settlementHeight INT, ergValue BIGINT, ergoTreeHash STRING")
  private val utxoCols = utxoSchema.fieldNames.toSeq

  private def basePath(v: Long) = p(s"utxo/base/v=$v")
  private def deltaPath(v: Long) = p(s"utxo/delta/v=$v")

  private def versionsIn(dir: String): Seq[Long] = {
    val path = Paths.get(p(dir))
    if (!Files.exists(path)) Nil
    else {
      val stream = Files.list(path)
      // strict v=<digits> only: an in-flight `v=N.tmp` (pre-rename delta
      // commit) must never be visible as a version.
      try stream.toArray.toSeq.map(_.toString)
        .flatMap { s =>
          val tail = s.substring(s.lastIndexOf('/') + 1)
          if (tail.matches("v=\\d+")) Some(tail.drop(2).toLong) else None
        }.sorted
      finally stream.close()
    }
  }

  private def baseVersions(): Seq[Long] = versionsIn("utxo/base")
  private def deltaVersions(): Seq[Long] = versionsIn("utxo/delta")

  def currentUtxoVersion(): Option[Long] =
    (baseVersions() ++ deltaVersions()).sorted.lastOption

  private def nextVersion(): Long = currentUtxoVersion().getOrElse(-1L) + 1

  private def commitBase(df: DataFrame): Unit = {
    // same atomic-publish discipline as deltas: a crash mid-write must not
    // leave a half-written dir that versionsIn() accepts as the newest base.
    val v = nextVersion()
    val tmp = s"${basePath(v)}.tmp"
    df.write.mode(SaveMode.Overwrite).parquet(tmp)
    Files.move(Paths.get(tmp), Paths.get(basePath(v)))
    cleanup()
  }

  private def commitDelta(adds: DataFrame, removes: DataFrame): Unit = {
    val v = nextVersion()
    // stage both halves in a tmp dir, then one atomic rename publishes the
    // delta — a crash mid-commit leaves only an invisible `v=N.tmp`, never
    // a half-delta that would crash utxo()/heal().
    val tmp = s"${deltaPath(v)}.tmp"
    adds.write.mode(SaveMode.Overwrite).parquet(s"$tmp/adds")
    removes.write.mode(SaveMode.Overwrite).parquet(s"$tmp/removes")
    Files.move(Paths.get(tmp), Paths.get(deltaPath(v)))
  }

  /** Roll deltas into a new base once enough have accumulated — bounds the
    * number of files the view unions AND gives the MVCC base cadence.
    */
  private def compactUtxoIfDue(spark: SparkSession): Unit = {
    val live = deltaVersions().count(dv => dv > baseVersions().lastOption.getOrElse(-1L))
    if (live >= compactEvery) commitBase(utxo(spark)) else cleanup()
  }

  /** Drop versions outside the retention window (rollbackTo analog). The
    * newest base is always retained, and deltas ABOVE the newest base are
    * never touched — they are the live view regardless of any retention
    * setting (deleting one would silently lose a batch's adds).
    */
  private def cleanup(): Unit = {
    val keepFloor = currentUtxoVersion().getOrElse(-1L) - keepVersions + 1
    val latestBase = baseVersions().lastOption
    baseVersions().filter(v => v < keepFloor && !latestBase.contains(v))
      .foreach(v => rm(basePath(v)))
    deltaVersions()
      .filter(v => latestBase.exists(v <= _) && v < keepFloor)
      .foreach(v => rm(deltaPath(v)))
    // clear any abandoned mid-commit staging dirs
    Seq("utxo/delta", "utxo/base").foreach { d =>
      val root = Paths.get(p(d))
      if (Files.exists(root)) {
        val stream = Files.list(root)
        try stream.toArray.map(_.toString).filter(_.endsWith(".tmp")).foreach(rm)
        finally stream.close()
      }
    }
  }

  /** The live UTXO view: base ∪ later adds ∖ later removes. */
  def utxo(spark: SparkSession): DataFrame = {
    val baseV = baseVersions().lastOption
    val liveDeltas = deltaVersions().filter(v => v > baseV.getOrElse(-1L))
    if (baseV.isEmpty && liveDeltas.isEmpty)
      throw new IllegalStateException("no utxo snapshot yet")
    val adds = liveDeltas.map(v => read(spark, "utxo/delta/adds", s"${deltaPath(v)}/adds"))
    val base = baseV.map(v => read(spark, "utxo/base", basePath(v)))
    val all = (base.toSeq ++ adds).reduce(_ unionByName _)
    if (liveDeltas.isEmpty) all
    else {
      val removes = liveDeltas
        .map(v => read(spark, "utxo/delta/removes", s"${deltaPath(v)}/removes"))
        .reduce(_ unionByName _)
      all.join(removes, Seq("boxId"), "left_anti")
    }
  }

  /** The MVCC utxo pin rendered as SQL TEXT: the current base + delta
    * version paths inlined into one statement (explicit column lists, so
    * positional UNION is safe), registerable as a PERSISTENT catalog view
    * — the "always on" form of [[utxo]] for JDBC/Thrift/second-session
    * clients. Same retention contract as the pinned DataFrame: readable
    * for `keepVersions` further commits; re-register to advance the pin.
    * Empty delta halves (no part files — their dirs are schema-less) are
    * skipped at generation time, which is sound because the view is a pin
    * of THIS version set.
    */
  def utxoViewSql(): String = {
    val baseV = baseVersions().lastOption
    val liveDeltas = deltaVersions().filter(v => v > baseV.getOrElse(-1L))
    if (baseV.isEmpty && liveDeltas.isEmpty)
      throw new IllegalStateException("no utxo snapshot yet")
    def hasParquet(dir: String): Boolean = {
      val path = Paths.get(dir)
      Files.exists(path) && {
        val s = Files.list(path)
        try s.anyMatch(f => f.toString.endsWith(".parquet"))
        finally s.close()
      }
    }
    val cols = utxoCols.mkString(", ")
    val addSelects =
      baseV.filter(v => hasParquet(basePath(v)))
        .map(v => s"SELECT $cols FROM parquet.`${basePath(v)}`").toSeq ++
        liveDeltas.filter(v => hasParquet(s"${deltaPath(v)}/adds"))
          .map(v => s"SELECT $cols FROM parquet.`${deltaPath(v)}/adds`")
    require(addSelects.nonEmpty, "utxo snapshot holds no readable rows yet")
    val union = addSelects.mkString(" UNION ALL ")
    val remSelects = liveDeltas
      .filter(v => hasParquet(s"${deltaPath(v)}/removes"))
      .map(v => s"SELECT boxId FROM parquet.`${deltaPath(v)}/removes`")
    if (remSelects.isEmpty) union
    else s"SELECT u.* FROM ($union) u LEFT ANTI JOIN " +
      s"(${remSelects.mkString(" UNION ALL ")}) r ON u.boxId = r.boxId"
  }

  /** Startup integrity check + self-heal (the Initializer.scala:15-37
    * analog): processBatch appends raw FIRST, then writes entities, then
    * commits the UTXO delta — a crash anywhere in between leaves later
    * artifacts behind earlier ones. Detect by comparing the raw tip against
    * the blocks/txs/outputs tips AND the UTXO view's settlement tip (the tip
    * block's coinbase output is always unspent at the tip, so a healthy view
    * reaches exactly the blocks tip), then re-derive from the first lagging
    * height. Idempotent; returns whether healing was needed.
    */
  def heal(spark: SparkSession): Boolean = {
    if (!exists("raw")) {
      // A pending rebuild marker without its replay source is only benign if
      // the whole warehouse went with it (fresh start). If derived tables
      // survive, they may be half-deleted by the interrupted rebuild and
      // there is nothing to replay from — fail loudly rather than erase the
      // only record of the corruption.
      if (Files.exists(rebuildMarker)) {
        val derived = Seq("blocks", "txs", "outputs", "inputs").filter(exists)
        if (derived.nonEmpty)
          throw new IllegalStateException(
            s"interrupted rebuild (marker present) but raw/ is gone while " +
              s"${derived.mkString(",")} survive — cannot replay; restore raw/ " +
              "or drop the warehouse")
        Files.deleteIfExists(rebuildMarker)
      }
      return false
    }
    // an interrupted destructive rebuild trumps every tip check: the sparse
    // tables it may have half-deleted cannot be tip-checked at all.
    if (Files.exists(rebuildMarker)) {
      val from = scala.util.Try(Files.readString(rebuildMarker).trim.toInt).getOrElse(0)
      reprocessFromRaw(spark, from)
      return true
    }
    // a table dir can exist but hold no part file mid-crash (only a
    // _temporary/ left) or no rows (max() == null) — both read as tip -1
    // ([[read]] declares the schema, so no part file means no rows). Genuine
    // I/O errors PROPAGATE: treating a transient read failure as "empty"
    // would trigger a full destructive rebuild.
    def tipOf(df: DataFrame, c: String): Int = {
      val r = df.agg(max(col(c))).head()
      if (r.isNullAt(0)) -1 else r.getInt(0)
    }
    val rawTip = tipOf(read(spark, "raw"), "header.height")
    if (rawTip < 0) return false // raw itself empty/absent: nothing to replay from
    val tips = Seq(
      if (exists("blocks")) tipOf(read(spark, "blocks"), "height") else -1,
      if (exists("txs")) tipOf(read(spark, "txs"), "height") else -1,
      if (exists("outputs")) tipOf(read(spark, "outputs"), "settlementHeight") else -1,
      if (currentUtxoVersion().isDefined) tipOf(utxo(spark), "settlementHeight") else -1)
    if (tips.exists(_ != rawTip)) {
      reprocessFromRaw(spark, math.max(tips.min + 1, 0)); true
    } else false
  }

  def blocks(spark: SparkSession): DataFrame = read(spark, "blocks")

  def mainChainBlocks(spark: SparkSession): DataFrame =
    mainChainOnly(blocks(spark))

  /** Orphaned (losing-branch) blocks — the explorer's "orphaned blocks"
    * surface; requires [[retainLosers]] mode (K4 soft delete).
    */
  def orphanedBlocks(spark: SparkSession): DataFrame = {
    require(retainLosers, "orphanedBlocks requires retainLosers mode")
    blocks(spark).filter(!col("mainChain"))
  }

  /** Height-range scan WITH partition pruning: a height predicate alone
    * cannot prune `heightBucket` partitions (Spark does not invert the
    * bucket function), so the derived bucket-range predicate is added
    * explicitly — at chain scale this is the difference between reading
    * two bucket directories and scanning the whole table. `heightCol`
    * names the table's height column ("height", "settlementHeight",
    * "issuingHeight").
    */
  def rangeScan(spark: SparkSession, table: String, heightCol: String,
    fromHeight: Int, toHeight: Int): DataFrame = {
    require(fromHeight <= toHeight, "empty height range")
    read(spark, table)
      .filter(col("heightBucket")
        .between(fromHeight / bucketSize, toHeight / bucketSize))
      .filter(col(heightCol).between(fromHeight, toHeight))
  }

  def blocksInRange(spark: SparkSession, fromHeight: Int, toHeight: Int): DataFrame =
    rangeScan(spark, "blocks", "height", fromHeight, toHeight)
}

object ChainIngest {
  /** Recursive tree delete, shared with the other bucket-partitioned
    * stores ([[StreamingDupClusters]]).
    */
  private[graft] def rmTree(path: String): Unit = {
    val victim = Paths.get(path)
    if (Files.exists(victim)) {
      val walk = Files.walk(victim)
      try walk.sorted(java.util.Comparator.reverseOrder())
        .forEach(f => Files.deleteIfExists(f))
      finally walk.close()
    }
  }

  /** Shared bounded pool for concurrent entity-table writes — daemon
    * threads so a hung write never blocks JVM exit; 8 = the entity fan-out
    * width (Spark's scheduler handles concurrent job submission natively).
    */
  private[streaming] lazy val writeEc: scala.concurrent.ExecutionContext =
    scala.concurrent.ExecutionContext.fromExecutorService(
      java.util.concurrent.Executors.newFixedThreadPool(8,
        (r: Runnable) => {
          val t = new Thread(r, "graft-ingest-write")
          t.setDaemon(true)
          t
        }))
}
