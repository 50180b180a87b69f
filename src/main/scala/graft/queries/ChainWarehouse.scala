package graft.queries

import graft.chain._
import graft.streaming.ChainIngest
import org.apache.spark.sql.{DataFrame, SparkSession}

import java.nio.file.{Files, Paths}

/** The chain-domain queries' storage layer: a REAL [[ChainIngest]] parquet
  * warehouse built from the deterministic fixture through the incremental
  * ingest path (8 batches), NOT an in-memory derivation. Every chain query
  * that runs over [[tables]] therefore exercises, under the DuckDB oracle
  * gate, exactly what a production deployment reads:
  *
  *  - height-bucket-partitioned entity tables written batch-by-batch with
  *    cumulative/global-index offsets carried from the stored tip
  *    (`BlockBuilder(prev)` semantics, reference BlockBuilder.scala:19-66);
  *  - the MVCC UTXO state as base + live delta versions — `compactEvery` is
  *    sized so the final state is one base AND several uncompacted deltas,
  *    so the live view's `base ∪ adds ∖ removes` union is what q34/q94 (and
  *    every UTXO-derived query) actually compute over;
  *  - partition-pruned range scans ([[ChainIngest.rangeScan]]) — `bucketSize`
  *    is far below the 10k production default so the 80-block fixture spans
  *    5 real bucket directories and pruning is observable in plans (PlanSpec)
  *    and results (q95).
  *
  * The build is disk-cached under the oracle dir (version-stamped like the
  * backfill fixtures — ChainOracle.CacheFormatVersion invalidates it when
  * the fixture or decode shape changes; LayoutVersion when the warehouse
  * parameters here do).
  */
object ChainWarehouse {

  val Dir: String = s"${ChainOracle.Dir}/warehouse-fixture"

  /** 80 fixture blocks / bucket 16 → 5 bucket partitions per table. */
  val BucketSize = 16

  /** 8 batches of 10 blocks; compaction after 5 deltas → final UTXO state =
    * base v5 + live deltas v6..v8 (both view legs exercised).
    */
  val BatchSize = 10
  val CompactEvery = 5

  /** Bump when the warehouse build parameters or layout change. */
  val LayoutVersion = 2

  private def stamp = s"${ChainOracle.CacheFormatVersion}-$LayoutVersion"

  /** Reuse the disk-cached build under `dir` when its `marker` file holds
    * the current [[stamp]] and the build reached its `blocks` table;
    * otherwise wipe `dir`, run `build`, then write the marker (last, so an
    * interrupted build is redone).
    */
  private[queries] def cachedBuild(dir: String, marker: String)(build: => Unit): Unit = {
    val stampFile = Paths.get(s"$dir/$marker")
    val valid = Files.exists(stampFile) &&
      scala.util.Try(Files.readString(stampFile).trim).toOption.contains(stamp) &&
      Files.exists(Paths.get(s"$dir/blocks"))
    if (!valid) {
      ChainIngest.rmTree(dir)
      build
      Files.writeString(stampFile, stamp)
    }
  }

  private def ingest(): ChainIngest =
    new ChainIngest(Dir, bucketSize = BucketSize, compactEvery = CompactEvery)

  /** Build (or reuse) the fixture warehouse; returns the ingest handle whose
    * [[ChainIngest.utxo]] / [[ChainIngest.rangeScan]] views the queries use.
    */
  def ensure(s: SparkSession): ChainIngest = synchronized {
    val ing = ingest()
    cachedBuild(Dir, "_graft_warehouse_version") {
      import s.implicits._
      ChainFixture.generate(ChainQueries.FixtureBlocks)
        .grouped(BatchSize).zipWithIndex
        .foreach { case (b, i) => ing.processBatch(s.createDataset(b), i.toLong) }
      // Script dims are MATERIALIZED warehouse tables, not per-query
      // derivations: they aggregate UDF-heavy address rendering over every
      // output, so a production warehouse computes them once at ingest (the
      // reference keeps the same per-script tables), and twenty queries
      // reading them pay a columnar scan, not twenty re-renderings.
      val (ergoTrees, t8) = BlockDerivation.scriptDims(
        ing.read(s, "outputs").drop("heightBucket"))
      ergoTrees.write.mode("overwrite").parquet(s"$Dir/ergo_trees")
      t8.write.mode("overwrite").parquet(s"$Dir/ergo_tree_t8s")
    }
    ing
  }

  /** The warehouse read view as ChainTables — every table straight off
    * parquet under its declared schema (the partition column dropped so the
    * schema is identical to a direct derivation); nothing pinned in
    * executor memory.
    */
  def tables(s: SparkSession): ChainTables = {
    val ing = ensure(s)
    def t(name: String): DataFrame = ing.read(s, name).drop("heightBucket")
    ChainTables(
      blocks = t("blocks"),
      txs = t("txs"),
      outputs = t("outputs"),
      inputs = t("inputs"),
      assets = t("assets"),
      ergoTrees = t("ergo_trees"),
      ergoTreeT8s = t("ergo_tree_t8s"),
      dataInputs = t("data_inputs"),
      registers = t("registers"),
      tokens = t("tokens"))
  }
}

/** q38's storage layer: the PRE-fork warehouse state (trunk + losing short
  * branch already ingested batch-by-batch) is built once and disk-cached;
  * each q38 invocation copies it to a scratch dir and delivers the winning
  * branch, so the measured work is exactly what a production fork costs —
  * detection, tip-window resolution, bucket-scoped rebuild, UTXO re-base —
  * and NOT the fixture's full from-scratch derivation (VERDICT r04
  * finding #3: q38 was benching derivation, not resolution).
  */
object ForkReplay {

  val PreForkDir: String = s"${ChainOracle.Dir}/fork-prefork"

  private var lastScratch: Option[java.nio.file.Path] = None

  /** The fork fixture split into its trunk (heights ≤ `ForkAt`), the short
    * losing branch, and the long winning branch.
    */
  private def branches(): (Seq[RawBlock], Seq[RawBlock], Seq[RawBlock]) = {
    val (all, winnerIds) = ChainFixture.generateWithFork(
      ChainQueries.ForkAt, ChainQueries.ForkShortLen, ChainQueries.ForkLongLen)
    val winners = winnerIds.toSet
    val (trunk, branched) = all.partition(_.header.height <= ChainQueries.ForkAt)
    val (long, short) = branched.partition(b => winners.contains(b.header.id))
    (trunk, short, long)
  }

  private def ingestAt(dir: String) = new ChainIngest(dir,
    bucketSize = ChainWarehouse.BucketSize,
    compactEvery = ChainWarehouse.CompactEvery)

  /** Build (or reuse) the cached pre-fork warehouse: trunk batch, then the
    * short (losing) branch appended on top — the state a node holds the
    * moment the longer branch arrives.
    */
  def ensurePreFork(s: SparkSession): Unit = synchronized {
    ChainWarehouse.cachedBuild(PreForkDir, "_graft_prefork_version") {
      import s.implicits._
      val (trunk, short, _) = branches()
      val ing = ingestAt(PreForkDir)
      ing.processBatch(s.createDataset(trunk), 0L)
      ing.processBatch(s.createDataset(short), 1L)
    }
  }

  private def copyTree(src: java.nio.file.Path, dst: java.nio.file.Path): Unit = {
    val walk = Files.walk(src)
    try walk.forEach { p =>
      val target = dst.resolve(src.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(target)
      else {
        Files.createDirectories(target.getParent)
        Files.copy(p, target,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      }
    } finally walk.close()
  }

  /** Retain-mode (soft delete) fork warehouse for the orphaned-blocks
    * query: same fixture and batches, but ingested with
    * `retainLosers = true` so the losing branch survives flagged
    * `mainChain = false`. The fork is applied during the cached build —
    * the post-resolution state is what q114 reads.
    */
  val RetainDir: String = s"${ChainOracle.Dir}/fork-retain"

  def ensureRetain(s: SparkSession): ChainIngest = synchronized {
    val ing = new ChainIngest(RetainDir,
      bucketSize = ChainWarehouse.BucketSize,
      compactEvery = ChainWarehouse.CompactEvery,
      retainLosers = true)
    ChainWarehouse.cachedBuild(RetainDir, "_graft_retain_version") {
      import s.implicits._
      val (trunk, short, long) = branches()
      ing.processBatch(s.createDataset(trunk), 0L)
      ing.processBatch(s.createDataset(short), 1L)
      ing.processBatch(s.createDataset(long), 2L)
    }
    ing
  }

  /** Copy the cached pre-fork warehouse to a scratch dir and deliver the
    * winning branch; returns the ingest handle over the post-resolution
    * warehouse. The previous scratch copy is reclaimed on the next call.
    */
  def replayFork(s: SparkSession): ChainIngest = synchronized {
    ensurePreFork(s)
    lastScratch.foreach(p => ChainIngest.rmTree(p.toString))
    val scratch = Files.createTempDirectory("graft-fork-replay")
    lastScratch = Some(scratch)
    copyTree(Paths.get(PreForkDir), scratch)
    import s.implicits._
    val (_, _, long) = branches()
    val ing = ingestAt(scratch.toString)
    ing.processBatch(s.createDataset(long), 2L)
    ing
  }
}
