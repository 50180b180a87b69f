package graft.streaming

import graft.Lineage.LineageCut

import graft.chain._
import org.apache.spark.sql.{DataFrame, Dataset, Encoders, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

import java.nio.file.{Files, Paths, StandardCopyOption}

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
  *    from the last untouched bucket's tip, and written after those buckets
  *    are dropped — files in earlier buckets are never touched.
  *
  * One commit path: both kinds of batch write their derived range through
  * [[writeRange]], and the UTXO and hot-key stores publish, list, resolve
  * and GC their versions through the same routines ([[publish]], [[live]],
  * [[cleanup]]). A batch's commit points, in order:
  *  1. the raw append (`raw/`);
  *  2. fork path only: the rebuild marker `_rebuild_from` is published;
  *  3. the eight entity-table appends, in one concurrent fan-out (fork path:
  *     each table's buckets ≥ the fork bucket are dropped first; retain
  *     mode: a second fan-out then appends the losers flagged);
  *  4. the UTXO commit: a delta `utxo/delta/v=N` (append path) or a rebuilt
  *     base `utxo/base/v=N` (fork path), each published by one rename;
  *  5. fork path only: the rebuild marker is deleted;
  *  6. append path only: UTXO compaction (a new base once `compactEvery`
  *     deltas are live), then the hot-key delta `hot_keys/delta/v=N` (and a
  *     hot-key base when due).
  * The in-memory tip carry is assigned after the UTXO commit (after 5 on
  * the fork path), and a failure anywhere drops it.
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

  /** Carry `tip` to the next batch as the stored chain tip. */
  private def carryTip(tip: Option[Row]): Unit = { cachedTip = tip; tipSeeded = true }

  /** The paths of the entries of dir `path`, none if it does not exist — a
    * single directory listing, no Spark job. Every listing of the
    * warehouse (height buckets, store versions, staging dirs, part files)
    * goes through it.
    */
  private def ls(path: String): Seq[String] = {
    val dir = Paths.get(path)
    if (!Files.exists(dir)) Nil
    else {
      val stream = Files.list(dir)
      try stream.toArray.toSeq.map(_.toString)
      finally stream.close()
    }
  }

  /** The heightBucket partition dirs of table `name`, each with its bucket. */
  private def bucketsOf(name: String): Seq[(Int, String)] =
    ls(p(name)).filter(_.contains("heightBucket="))
      .flatMap(d => d.substring(d.lastIndexOf('=') + 1).toIntOption.map(_ -> d))

  /** Max heightBucket partition of `name` strictly below `below`. */
  private def maxBucketOf(name: String, below: Int = Int.MaxValue): Option[Int] =
    bucketsOf(name).map(_._1).filter(_ < below).maxOption

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
    val stats = interpreted(spark)(rangeStats(batch))
    if (stats.getAs[Long]("n") == 0) return
    interpreted(spark)(batch.toDF().write.mode(SaveMode.Append).parquet(p("raw")))

    // steady state touches NO stored table for the tip — it was carried from
    // the previous batch; only a fresh instance (start / restart / post-heal)
    // pays the one pruned seeding read.
    val tip: Option[Row] = {
      if (!tipSeeded) carryTip(readTipFromStorage(spark))
      cachedTip
    }

    val minBatchHeight = stats.getAs[Int]("minH")
    val hasInBatchFork = stats.getAs[Long]("n") != stats.getAs[Long]("nh")
    // ST3: fork vs the stored tip, OR competing same-height blocks inside
    // the batch itself — both resolve through the bucket-scoped rebuild.
    val isFork = hasInBatchFork || tip.exists(t => minBatchHeight <= t.getAs[Int]("height"))

    try {
      if (isFork) reprocessFromRaw(spark, minBatchHeight)
      else appendIncremental(batch, tip, stats)
    } catch {
      // a batch that failed mid-write may have advanced the stored tables
      // past the carried tip — drop the cache so the retry reseeds from
      // storage (the pre-carry behavior) instead of double-appending.
      case e: Throwable => tipSeeded = false; cachedTip = None; throw e
    }
  }

  /** One aggregate pass over a range of raw blocks: its size `n`, lowest
    * height `minH`, number of distinct heights `nh` (fewer than `n` means
    * competing same-height blocks), and the lowest block's timestamp
    * `firstTs` (min over (height, ts) structs — deterministic under
    * same-height forks, unlike a sort+take).
    */
  private def rangeStats(range: Dataset[RawBlock]): Row = range.toDF().select(
    count(lit(1)).as("n"),
    min(col("header.height")).as("minH"),
    countDistinct(col("header.height")).as("nh"),
    min(struct(col("header.height"), col("header.timestamp")))
      .getField("timestamp").as("firstTs")).head()

  /** Shift a freshly-derived (tail or batch) table set so its cumulative and
    * global-index columns continue from the seed's tip (the stored block the
    * new rows chain onto) — the `BlockBuilder(prev)` carry. The seed's
    * [[rangeStats]] identify the new range's lowest block for the
    * mining-time boundary: its in-derivation lag is null, so its true
    * blockMiningTime (firstTs − tip timestamp) is patched in and folded into
    * the cumulative. Without a seed (the chain's first range, or retained
    * losers) the derivation's own values stand.
    */
  private def shiftFromTip(t: ChainTables, seed: Option[(Row, Row)]): ChainTables =
    seed.fold(t) { case (tip, stats) =>
      val txBase = tip.getAs[Long]("maxTxGix") + 1
      val boxBase = tip.getAs[Long]("maxBoxGix") + 1
      val firstDelta =
        if (stats.isNullAt(stats.fieldIndex("firstTs"))) 0L
        else stats.getAs[Long]("firstTs") - tip.getAs[Long]("timestamp")
      val cumulativeCols = Seq(
        "blockChainTotalSize", "totalTxsCount", "totalMiningTime",
        "totalFees", "totalMinersReward", "totalCoinsInTxs")
      val blocks = cumulativeCols
        .foldLeft(t.blocks) { case (df, c) => df.withColumn(c, col(c) + tip.getAs[Long](c)) }
        .withColumn("maxTxGix", col("maxTxGix") + txBase)
        .withColumn("maxBoxGix", col("maxBoxGix") + boxBase)
        .withColumn("blockMiningTime", when(col("height") === lit(stats.getAs[Int]("minH")),
          lit(firstDelta)).otherwise(col("blockMiningTime")))
        .withColumn("totalMiningTime", col("totalMiningTime") + firstDelta)
      t.copy(blocks = blocks,
        txs = t.txs.withColumn("globalIndex", col("globalIndex") + txBase),
        outputs = t.outputs.withColumn("globalIndex", col("globalIndex") + boxBase))
    }

  /** Write one derived range of the chain — the entity writes of both the
    * append and the fork path. Derives `range` with [[pinCore]], shifts it
    * from `seed` ([[shiftFromTip]]), collects its top block (a range-sized
    * TakeOrdered; a losers' range, `main = false`, carries no tip, so none
    * is collected), then appends the eight entity tables in one
    * [[parallelCommit]], flagged `main` in retain mode. With `dropFrom`
    * (the fork path) each table's buckets ≥ `dropFrom` are dropped first.
    * Every plan here is over the batch or the rebuilt tail, so it all runs
    * [[interpreted]]. Returns the tables as written and the top block; the
    * caller carries the top only after its UTXO commit.
    */
  private def writeRange(range: Dataset[RawBlock], seed: Option[(Row, Row)],
    main: Boolean = true, dropFrom: Option[Int] = None): (ChainTables, Option[Row]) =
    interpreted(range.sparkSession) {
      val t = shiftFromTip(BlockDerivation.derive(range, feeTree, protocolTrees, pinCore), seed)
      val top = if (main) t.blocks.orderBy(desc("height")).limit(1).collect().headOption else None
      // Explicit bucket deletion, NOT dynamic partition overwrite: a sparse
      // table (tokens, data_inputs, registers…) can have ZERO winner rows in
      // a rebuilt bucket, and dynamic overwrite would then leave the losing
      // branch's stale partition in place — phantom tokens, and stale inputs
      // that corrupt the UTXO anti-join. Delete-then-append is not atomic; a
      // crash in between leaves the table tip behind raw, which heal()
      // detects and repairs.
      parallelCommit(entities(t).map { case (name, df, heightCol) => () =>
        dropFrom.foreach(dropBucketsFrom(name, _))
        appendEntity(name, df, heightCol, main)
      })
      (t, top)
    }

  /** Common path: write the batch alone, shifted by the stored tip, and
    * commit the batch's UTXO add/remove delta.
    */
  private def appendIncremental(batch: Dataset[RawBlock], tip: Option[Row], stats: Row): Unit = {
    val spark = batch.sparkSession
    val (t, top) = writeRange(batch, tip.map(_ -> stats))

    // K2 delta commit: adds = batch outputs not spent in-batch; removes =
    // batch inputs that spend pre-batch boxes. View-level soundness needs
    // box ids to never recur — guaranteed by the protocol (a box id hashes
    // its creating tx).
    val batchOutputs = t.outputs.select(utxoCols.head, utxoCols.tail: _*)
    val batchInputIds = t.inputs.select("boxId")
    interpreted(spark)(commitDelta(
      adds = batchOutputs.join(batchInputIds, Seq("boxId"), "left_anti"),
      removes = batchInputIds.join(batchOutputs.select("boxId"), Seq("boxId"), "left_anti")))
    carryTip(top.orElse(tip))
    compactUtxoIfDue(spark)

    // K6 online learning: fold this batch's per-script box activity into
    // the persisted counters (after the batch commits — a failed batch
    // must not advance the learner).
    updateHotCounts(batchOutputs, batchInputIds)
  }

  // ---- K6/S6: learned hot-key list (supernode detection) ----
  // Counters are a versioned store like the UTXO set (`hot_keys/`): each
  // batch appends only its OWN batch-sized ops delta, and every
  // `compactEvery` deltas fold into a new consolidated base — the base
  // publish is the commit point, so a crash anywhere leaves a consistent
  // view (base ∪ deltas-above-base) and per-batch cost never grows with
  // the accumulated distinct-script count. Counted activity is what the
  // batch alone observes: box creations per script plus in-batch spends —
  // no historical join on the ingest hot path (a removal-heavy script
  // always registered its creations first). The counter is a heuristic
  // learner (a redelivered batch may double-count); the threshold
  // semantics tolerate that exactly like the reference's op counters.

  /** The hot-key base's and each delta's columns. */
  private val hotKeySchema = StructType.fromDDL("ergoTreeHash STRING, ops BIGINT")

  private def hotCountsView(spark: SparkSession): Option[DataFrame] = {
    val (baseV, deltas) = live("hot_keys")
    def version(kind: String, v: Long) =
      read(spark, s"hot_keys/$kind", versionDir("hot_keys", kind, v))
    val parts = baseV.map(version("base", _)).toSeq ++ deltas.map(version("delta", _))
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
    interpreted(spark)(
      commitVersion("hot_keys", "delta")(batchOps.write.mode(SaveMode.Overwrite).parquet(_)))
    if (live("hot_keys")._2.size >= compactEvery) commitVersion("hot_keys", "base")(
      hotCountsView(spark).get.write.mode(SaveMode.Overwrite).parquet(_))
    cleanup("hot_keys")
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
    * from the preceding bucket's stored tip, and rewrite only the affected
    * heightBucket partitions through [[writeRange]]. Files in buckets below
    * the fork bucket are never rewritten.
    */
  private def reprocessFromRaw(spark: SparkSession, fromHeight: Int): Unit = {
    import spark.implicits._
    val forkBucket = math.max(fromHeight, 0) / bucketSize
    val rebuildFrom = forkBucket.toLong * bucketSize
    // marker published atomically — a truncated marker would read as
    // "rebuild from 0" and trigger a needless full rebuild.
    Files.createDirectories(Paths.get(warehouse))
    publish(rebuildMarker.toString)(tmp => Files.writeString(Paths.get(tmp), fromHeight.toString))
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
    // timestamp. A fork in the first bucket has no tip below it, and so
    // nothing to shift from and no tail stats to take.
    val tip: Option[Row] =
      if (forkBucket > 0) readTipFromStorage(spark, belowBucket = forkBucket)
      else None
    val (_, top) = writeRange(tail, tip.map(_ -> interpreted(spark)(rangeStats(tail))),
      dropFrom = Some(forkBucket))

    // Soft-delete retention: the losing branch's rows are re-derived and
    // appended flagged mainChain=false — the bucket drop above wiped any
    // previously-flagged orphans in the rebuilt range, and every
    // still-relevant orphan is in the tip-window loser set (consensus
    // bounds fork depth, so orphans older than the window sit in untouched
    // buckets). Derivation of the losers is unseeded: cumulative/gix
    // columns on orphans are branch-local (documented on [[retainLosers]]).
    if (retainLosers && losers.nonEmpty)
      writeRange(rangeDeduped.filter(col("header.id").isin(losers.toSeq: _*)).as[RawBlock],
        seed = None, main = false)

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
    carryTip(top.orElse(tip))
  }

  /** Recursive delete (shared by partition drops and version retention). */
  private def rm(path: String): Unit = ChainIngest.rmTree(path)

  /** Delete every heightBucket partition dir ≥ `fromBucket` of `name`. */
  private def dropBucketsFrom(name: String, fromBucket: Int): Unit =
    bucketsOf(name).filter(_._1 >= fromBucket).foreach { case (_, d) => rm(d) }

  /** Publish `target` atomically: `write` fills `<target>.tmp`, then one
    * rename makes it visible, so a crash mid-write leaves only an invisible
    * `.tmp` (never read as a version, swept by [[cleanup]]) — never a
    * half-written version dir that [[live]] would accept, nor a truncated
    * rebuild marker. ATOMIC_MOVE makes a non-atomic fallback (copy+delete on
    * a foreign FileSystem provider) throw instead of silently reopening
    * that crash window. Serves the UTXO and hot-key bases and deltas and
    * the rebuild marker.
    */
  private def publish(target: String)(write: String => Unit): Unit = {
    val tmp = s"$target.tmp"
    write(tmp)
    Files.move(Paths.get(tmp), Paths.get(target),
      StandardCopyOption.REPLACE_EXISTING, StandardCopyOption.ATOMIC_MOVE)
  }

  // ---- versioned stores: base snapshots + per-batch deltas (MVCC revisions) ----
  // The UTXO set (`utxo/`) and the hot-key counters (`hot_keys/`) are each
  // a store of `base/v=N` and `delta/v=N` version dirs. Versions are one
  // monotonic counter across a store's bases and deltas: every commit
  // writes max+1, so a commit can never overwrite data its own lazy plan is
  // reading, and heal/backfill/stream interleavings stay ordered. The live
  // view is the newest base plus the deltas above it ([[live]]).

  /** The versions in store dir `dir`, ascending — strict `v=<digits>`
    * only: an in-flight `v=N.tmp` (pre-rename commit) must never be visible
    * as a version.
    */
  private def versionsIn(dir: String): Seq[Long] =
    ls(p(dir)).map(s => s.substring(s.lastIndexOf('/') + 1))
      .collect { case v if v.matches("v=\\d+") => v.drop(2).toLong }.sorted

  /** The dir of version `v` of a store's `kind` (`base` or `delta`). */
  private def versionDir(store: String, kind: String, v: Long) = p(s"$store/$kind/v=$v")

  private def latestVersion(store: String): Option[Long] =
    (versionsIn(s"$store/base") ++ versionsIn(s"$store/delta")).maxOption

  /** A store's live set: its newest base, if any, and the deltas above it. */
  private def live(store: String): (Option[Long], Seq[Long]) = {
    val base = versionsIn(s"$store/base").lastOption
    (base, versionsIn(s"$store/delta").filter(_ > base.getOrElse(-1L)))
  }

  /** Publish the store's next version as `kind` (see [[publish]]). */
  private def commitVersion(store: String, kind: String)(write: String => Unit): Unit =
    publish(versionDir(store, kind, latestVersion(store).getOrElse(-1L) + 1))(write)

  /** Drop a store's versions outside the retention window (rollbackTo
    * analog). The newest base is always retained, and deltas ABOVE the
    * newest base are never touched — they are the live view regardless of
    * any retention setting (deleting one would silently lose a batch's
    * adds). Abandoned mid-commit staging dirs are cleared.
    */
  private def cleanup(store: String): Unit = {
    val keepFloor = latestVersion(store).getOrElse(-1L) - keepVersions + 1
    val bases = versionsIn(s"$store/base")
    bases.filter(v => v < keepFloor && !bases.lastOption.contains(v))
      .foreach(v => rm(versionDir(store, "base", v)))
    versionsIn(s"$store/delta")
      .filter(v => bases.lastOption.exists(v <= _) && v < keepFloor)
      .foreach(v => rm(versionDir(store, "delta", v)))
    Seq("delta", "base").foreach(kind =>
      ls(p(s"$store/$kind")).filter(_.endsWith(".tmp")).foreach(rm))
  }

  /** The UTXO set's columns: the base and each delta's `adds` half. */
  private val utxoSchema = StructType.fromDDL(
    "boxId STRING, txId STRING, blockId STRING, settlementHeight INT, ergValue BIGINT, ergoTreeHash STRING")
  private val utxoCols = utxoSchema.fieldNames.toSeq

  private def basePath(v: Long) = versionDir("utxo", "base", v)
  private def deltaPath(v: Long) = versionDir("utxo", "delta", v)

  def currentUtxoVersion(): Option[Long] = latestVersion("utxo")

  private def commitBase(df: DataFrame): Unit = {
    commitVersion("utxo", "base")(df.write.mode(SaveMode.Overwrite).parquet(_))
    cleanup("utxo")
  }

  /** Both halves are staged in one dir, so one rename publishes the delta —
    * never a half-delta that would crash utxo()/heal().
    */
  private def commitDelta(adds: DataFrame, removes: DataFrame): Unit =
    commitVersion("utxo", "delta") { tmp =>
      adds.write.mode(SaveMode.Overwrite).parquet(s"$tmp/adds")
      removes.write.mode(SaveMode.Overwrite).parquet(s"$tmp/removes")
    }

  /** Roll deltas into a new base once enough have accumulated — bounds the
    * number of files the view unions AND gives the MVCC base cadence.
    */
  private def compactUtxoIfDue(spark: SparkSession): Unit =
    if (live("utxo")._2.size >= compactEvery) commitBase(utxo(spark)) else cleanup("utxo")

  /** The UTXO store's live set; throws before its first commit. */
  private def liveUtxo(): (Option[Long], Seq[Long]) = {
    val (baseV, deltas) = live("utxo")
    if (baseV.isEmpty && deltas.isEmpty)
      throw new IllegalStateException("no utxo snapshot yet")
    (baseV, deltas)
  }

  /** The live UTXO view: base ∪ later adds ∖ later removes. */
  def utxo(spark: SparkSession): DataFrame = {
    val (baseV, deltas) = liveUtxo()
    val adds = deltas.map(v => read(spark, "utxo/delta/adds", s"${deltaPath(v)}/adds"))
    val base = baseV.map(v => read(spark, "utxo/base", basePath(v)))
    val all = (base.toSeq ++ adds).reduce(_ unionByName _)
    if (deltas.isEmpty) all
    else {
      val removes = deltas
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
    val (baseV, deltas) = liveUtxo()
    def selects(cols: String, dirs: Seq[String]): Seq[String] =
      dirs.filter(ls(_).exists(_.endsWith(".parquet")))
        .map(d => s"SELECT $cols FROM parquet.`$d`")
    val addSelects = selects(utxoCols.mkString(", "),
      baseV.map(basePath).toSeq ++ deltas.map(v => s"${deltaPath(v)}/adds"))
    require(addSelects.nonEmpty, "utxo snapshot holds no readable rows yet")
    val union = addSelects.mkString(" UNION ALL ")
    val remSelects = selects("boxId", deltas.map(v => s"${deltaPath(v)}/removes"))
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
