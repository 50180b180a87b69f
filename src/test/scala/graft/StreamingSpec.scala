package graft

import graft.chain._
import graft.streaming._
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files

/** Streaming-layer tests (SURVEY.md §2.9): incremental ingest equals batch
  * rebuild, fork rollback mid-stream, watermarked mempool dedup, and the
  * high-value analyzer.
  */
class StreamingSpec extends AnyFunSuite {
  import TestSpark._

  private def tmpDir(prefix: String) =
    Files.createTempDirectory(prefix).toString

  test("incremental ingest over 3 batches equals one-shot derivation") {
    import spark.implicits._
    val all = ChainFixture.generate(30)
    val ingest = new ChainIngest(tmpDir("graft-ingest"))
    all.grouped(10).zipWithIndex.foreach { case (chunk, i) =>
      ingest.processBatch(spark.createDataset(chunk), i.toLong)
    }

    val oneShot = BlockDerivation.derive(spark.createDataset(all))
    val streamedBlocks = ingest.blocks(spark)
    assert(streamedBlocks.count() == 30)

    // cumulative columns at the tip must match the one-shot derivation
    val cols = Seq("totalTxsCount", "totalFees", "totalMinersReward",
      "totalCoinsInTxs", "totalMiningTime", "maxTxGix", "maxBoxGix")
    val sTip = streamedBlocks.orderBy(desc("height")).limit(1).collect()(0)
    val bTip = oneShot.blocks.orderBy(desc("height")).limit(1).collect()(0)
    cols.foreach { c =>
      assert(sTip.getAs[Long](c) == bTip.getAs[Long](c), s"tip $c mismatch")
    }

    // the maintained utxo snapshot == rebuild from scratch (J5 law)
    val streamedUtxo = ingest.utxo(spark).select("boxId")
      .collect().map(_.getString(0)).toSet
    val rebuiltUtxo = UtxoQueries.utxos(oneShot).select("boxId")
      .collect().map(_.getString(0)).toSet
    assert(streamedUtxo == rebuiltUtxo)
  }

  test("the readStream wiring ingests a growing block directory with checkpointing") {
    import spark.implicits._
    val base = tmpDir("graft-stream-e2e")
    val srcDir = s"$base/blocks"
    val all = ChainFixture.generate(30)
    // wave 1: first 20 blocks as one json-lines file
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(srcDir))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$srcDir/wave1.json"),
      spark.createDataset(all.take(20)).toJSON.collect().mkString("\n"))
    val ingest = new ChainIngest(s"$base/warehouse")
    val query = ingest.start(spark, srcDir, s"$base/checkpoint")
    try {
      query.processAllAvailable()
      assert(ingest.blocks(spark).count() == 20)
      // wave 2: ten more blocks appear in the source dir
      java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$srcDir/wave2.json"),
        spark.createDataset(all.drop(20)).toJSON.collect().mkString("\n"))
      query.processAllAvailable()
      assert(ingest.blocks(spark).count() == 30)
      val expected = UtxoQueries.utxos(
        BlockDerivation.derive(spark.createDataset(all)))
        .select("boxId").collect().map(_.getString(0)).toSet
      assert(ingest.utxo(spark).select("boxId")
        .collect().map(_.getString(0)).toSet == expected)
    } finally query.stop()
  }

  test("range scans prune heightBucket partitions and stay result-identical") {
    import spark.implicits._
    val base = tmpDir("graft-prune")
    val ingest = new ChainIngest(s"$base/warehouse", bucketSize = 10)
    ingest.processBatch(spark.createDataset(ChainFixture.generate(30)), 0L)
    val pruned = ingest.blocksInRange(spark, 5, 9)
    // the scan's PartitionFilters must constrain heightBucket — a bare
    // height predicate reads every bucket directory
    val plan = pruned.queryExecution.executedPlan.toString
    val pf = plan.linesIterator.find(_.contains("PartitionFilters:")).getOrElse("")
    assert(pf.contains("heightBucket"), s"no partition pruning in:\n$plan")
    // result-identical to the unpruned filter, and only bucket 0 is read
    val expect = ingest.blocks(spark).filter(col("height").between(5, 9))
      .select("blockId").collect().map(_.getString(0)).toSet
    assert(pruned.select("blockId").collect().map(_.getString(0)).toSet == expect)
    assert(pruned.count() == 5)
    // cross-bucket range still prunes (covers exactly buckets 0 and 1)
    val two = ingest.rangeScan(spark, "blocks", "height", 8, 12)
    assert(two.count() == 5)
    assert(two.queryExecution.executedPlan.toString
      .linesIterator.find(_.contains("PartitionFilters:"))
      .exists(_.contains("heightBucket")))
  }

  test("steady-state ingest carries the tip in memory; seeding reads only the max bucket partition") {
    import spark.implicits._
    val all = ChainFixture.generate(40)
    val wh = tmpDir("graft-tip-carry")
    val ingest = new ChainIngest(wh, bucketSize = 10)
    all.take(30).grouped(10).zipWithIndex.foreach { case (chunk, i) =>
      ingest.processBatch(spark.createDataset(chunk), i.toLong)
    }
    // one storage read total (the first batch's seed over an empty
    // warehouse); batches 2 and 3 must run off the carried tip
    assert(ingest.tipSeedReads == 1,
      s"steady state must not re-read the blocks table (${ingest.tipSeedReads} reads)")

    // a fresh instance (restart) seeds once, and its scan prunes to the max
    // heightBucket partition instead of listing the whole table
    val ingest2 = new ChainIngest(wh, bucketSize = 10)
    val plan = ingest2.tipScan(spark).get.queryExecution.executedPlan.toString
    val pf = plan.linesIterator.find(_.contains("PartitionFilters:")).getOrElse("")
    assert(pf.contains("heightBucket"), s"seed scan must prune buckets:\n$plan")
    ingest2.processBatch(spark.createDataset(all.drop(30)), 3L)
    assert(ingest2.tipSeedReads == 1, "restart pays exactly one seeding read")

    // the carried tip chains cumulative stats identically to a one-shot run
    val got = ingest2.blocks(spark).orderBy(desc("height")).limit(1).collect()(0)
    val want = BlockDerivation.derive(spark.createDataset(all)).blocks
      .orderBy(desc("height")).limit(1).collect()(0)
    Seq("totalTxsCount", "totalFees", "totalMinersReward", "totalMiningTime",
      "maxTxGix", "maxBoxGix").foreach { c =>
      assert(got.getAs[Long](c) == want.getAs[Long](c), s"tip $c mismatch")
    }
  }

  test("replaying a delivered batch leaves the warehouse unchanged (idempotency)") {
    import spark.implicits._
    val all = ChainFixture.generate(20)
    val ingest = new ChainIngest(tmpDir("graft-replay-idem"))
    val (b0, b1) = all.splitAt(10)
    ingest.processBatch(spark.createDataset(b0), 0L)
    ingest.processBatch(spark.createDataset(b1), 1L)
    val before = ingest.utxo(spark).select("boxId").collect().map(_.getString(0)).toSet
    // redelivery of batch 1 (its min height ≤ tip → reprocess path)
    ingest.processBatch(spark.createDataset(b1), 2L)
    assert(ingest.blocks(spark).count() == 20)
    assert(ingest.blocks(spark).select("blockId").distinct().count() == 20)
    val after = ingest.utxo(spark).select("boxId").collect().map(_.getString(0)).toSet
    assert(after == before)
    // cumulative stats did not double-count
    val tip = ingest.blocks(spark).orderBy(org.apache.spark.sql.functions.desc("height"))
      .limit(1).collect()(0)
    val expectTip = BlockDerivation.derive(spark.createDataset(all)).blocks
      .orderBy(org.apache.spark.sql.functions.desc("height")).limit(1).collect()(0)
    assert(tip.getAs[Long]("totalTxsCount") == expectTip.getAs[Long]("totalTxsCount"))
    assert(tip.getAs[Long]("maxBoxGix") == expectTip.getAs[Long]("maxBoxGix"))
  }

  test("competing same-height blocks inside one batch resolve through the fork path") {
    import spark.implicits._
    val (all, winnerIds) = ChainFixture.generateWithFork(forkAt = 15, shortLen = 2, longLen = 4)
    val trunk = all.filter(_.header.height <= 15)
    val branches = all.filter(_.header.height > 15) // both branches in ONE batch
    val ingest = new ChainIngest(tmpDir("graft-inbatch-fork"))
    ingest.processBatch(spark.createDataset(trunk), 0L)
    ingest.processBatch(spark.createDataset(branches), 1L)
    val blocks = ingest.blocks(spark)
    assert(blocks.count() == 19, "15 trunk + 4 winner blocks")
    assert(blocks.groupBy("height").count().filter(col("count") > 1).count() == 0,
      "no height may hold two blocks after resolution")
    val ids = blocks.select("blockId").collect().map(_.getString(0)).toSet
    assert(winnerIds.toSet.subsetOf(ids))
  }

  test("fork mid-stream rolls back the losing branch") {
    import spark.implicits._
    val (all, winnerIds) = ChainFixture.generateWithFork(forkAt = 20, shortLen = 2, longLen = 4)
    val trunk = all.filter(_.header.height <= 20)
    val shortBranch = all.filter(b => b.header.height > 20 && !winnerIds.contains(b.header.id))
    val longBranch = all.filter(b => winnerIds.contains(b.header.id))

    val ingest = new ChainIngest(tmpDir("graft-fork"))
    ingest.processBatch(spark.createDataset(trunk), 0L)
    ingest.processBatch(spark.createDataset(shortBranch), 1L)
    ingest.processBatch(spark.createDataset(longBranch), 2L) // heights overlap → fork path

    val blocks = ingest.blocks(spark)
    assert(blocks.count() == 24, "20 trunk + 4 winner blocks")
    val ids = blocks.select("blockId").collect().map(_.getString(0)).toSet
    assert(winnerIds.toSet.subsetOf(ids))
    assert(blocks.groupBy("height").count().filter(col("count") > 1).count() == 0)

    // utxo rebuilt over the winning chain only
    val expected = UtxoQueries.utxos(
      BlockDerivation.derive(spark.createDataset(trunk ++ longBranch)))
      .select("boxId").collect().map(_.getString(0)).toSet
    val got = ingest.utxo(spark).select("boxId").collect().map(_.getString(0)).toSet
    assert(got == expected)
  }

  test("fork rebuild touches only heightBucket >= fork bucket; earlier files stay byte-identical") {
    import spark.implicits._
    // bucketSize=10 so a 25-block trunk spans buckets 0,1,2 and the fork
    // (heights 26+) lands in bucket 2 — buckets 0 and 1 must never be
    // rewritten by the fork path.
    val (all, winnerIds) = ChainFixture.generateWithFork(forkAt = 25, shortLen = 2, longLen = 4)
    val trunk = all.filter(_.header.height <= 25)
    val shortBranch = all.filter(b => b.header.height > 25 && !winnerIds.contains(b.header.id))
    val longBranch = all.filter(b => winnerIds.contains(b.header.id))
    val wh = tmpDir("graft-bucket-fork")
    val ingest = new ChainIngest(wh, bucketSize = 10)
    ingest.processBatch(spark.createDataset(trunk), 0L)
    ingest.processBatch(spark.createDataset(shortBranch), 1L)

    def fingerprint(table: String): Map[String, (Long, Long)] = {
      val root = java.nio.file.Paths.get(s"$wh/$table")
      val walk = java.nio.file.Files.walk(root)
      try walk.toArray.map(_.toString)
        .filter(f => f.contains("heightBucket=0") || f.contains("heightBucket=1"))
        .filter(_.endsWith(".parquet"))
        .map { f =>
          val path = java.nio.file.Paths.get(f)
          f -> (java.nio.file.Files.size(path),
            java.nio.file.Files.getLastModifiedTime(path).toMillis)
        }.toMap
      finally walk.close()
    }
    val before = Seq("blocks", "txs", "outputs", "inputs").map(t => t -> fingerprint(t)).toMap

    ingest.processBatch(spark.createDataset(longBranch), 2L) // fork path

    before.foreach { case (table, files) =>
      assert(files.nonEmpty, s"$table should have files in buckets 0/1")
      assert(fingerprint(table) == files, s"$table buckets 0/1 were rewritten")
    }

    // NO stale losing-branch rows in ANY entity table — sparse tables
    // (tokens, data_inputs, registers) must lose their loser-bucket
    // partitions even when the winner writes zero rows into that bucket
    val oneShot = BlockDerivation.derive(spark.createDataset(trunk ++ longBranch))
    Seq("txs" -> oneShot.txs, "outputs" -> oneShot.outputs,
      "inputs" -> oneShot.inputs, "assets" -> oneShot.assets,
      "data_inputs" -> oneShot.dataInputs, "registers" -> oneShot.registers,
      "tokens" -> oneShot.tokens).foreach { case (name, expect) =>
      assert(spark.read.parquet(s"$wh/$name").count() == expect.count(),
        s"$name row count differs from one-shot after fork (stale loser rows?)")
    }
    val got = ingest.blocks(spark).orderBy(desc("height")).limit(1).collect()(0)
    val want = oneShot.blocks.orderBy(desc("height")).limit(1).collect()(0)
    Seq("totalTxsCount", "totalFees", "totalMinersReward", "totalCoinsInTxs",
      "totalMiningTime", "blockChainTotalSize", "maxTxGix", "maxBoxGix").foreach { c =>
      assert(got.getAs[Long](c) == want.getAs[Long](c), s"tip $c mismatch after seeded rebuild")
    }
    assert(ingest.blocks(spark).count() == 29)
    // utxo rebuilt over the winning chain only
    val expected = UtxoQueries.utxos(oneShot).select("boxId")
      .collect().map(_.getString(0)).toSet
    assert(ingest.utxo(spark).select("boxId").collect().map(_.getString(0)).toSet == expected)
  }

  test("retain mode keeps losing-branch rows flagged mainChain=false, excluded from mainline views") {
    import spark.implicits._
    val (all, winnerIds) = ChainFixture.generateWithFork(forkAt = 20, shortLen = 2, longLen = 4)
    val trunk = all.filter(_.header.height <= 20)
    val shortBranch = all.filter(b => b.header.height > 20 && !winnerIds.contains(b.header.id))
    val longBranch = all.filter(b => winnerIds.contains(b.header.id))
    val ingest = new ChainIngest(tmpDir("graft-retain-fork"),
      bucketSize = 10, retainLosers = true)
    ingest.processBatch(spark.createDataset(trunk), 0L)
    ingest.processBatch(spark.createDataset(shortBranch), 1L)
    ingest.processBatch(spark.createDataset(longBranch), 2L) // fork → soft delete

    assert(ingest.blocks(spark).count() == 26, "24 winners + 2 retained orphans")
    assert(ingest.orphanedBlocks(spark).select("blockId")
      .collect().map(_.getString(0)).toSet == shortBranch.map(_.header.id).toSet,
      "orphans must be exactly the losing branch")
    assert(ingest.mainChainBlocks(spark).count() == 24)
    assert(ingest.mainChainBlocks(spark).select("blockId")
      .collect().map(_.getString(0)).toSet ==
      (trunk ++ longBranch).map(_.header.id).toSet)
    // the loser rows survive flagged in the entity tables too
    assert(spark.read.parquet(ingest.warehouse + "/txs")
      .filter(!col("mainChain")).count() > 0, "orphan txs must be retained")
    assert(spark.read.parquet(ingest.warehouse + "/outputs")
      .filter(!col("mainChain")).count() > 0, "orphan outputs must be retained")
    // the UTXO view excludes orphan outputs and orphan spends
    val expect = UtxoQueries.utxos(
      BlockDerivation.derive(spark.createDataset(trunk ++ longBranch)))
      .select("boxId").collect().map(_.getString(0)).toSet
    assert(ingest.utxo(spark).select("boxId")
      .collect().map(_.getString(0)).toSet == expect)
    // and the carried tip still chains the next batch off the WINNER branch
    val tip = ingest.mainChainBlocks(spark).orderBy(desc("height")).limit(1).collect()(0)
    val want = BlockDerivation.derive(spark.createDataset(trunk ++ longBranch)).blocks
      .orderBy(desc("height")).limit(1).collect()(0)
    assert(tip.getAs[Long]("maxBoxGix") == want.getAs[Long]("maxBoxGix"))
  }

  test("utxo delta commits + compaction equal the anti-join rebuild at every batch") {
    import spark.implicits._
    // the 40-block trunk is ChainFixture.generate(40); the branches above
    // it end the test with a fork batch
    val (forked, winnerIds) = ChainFixture.generateWithFork(forkAt = 40, shortLen = 2, longLen = 4)
    val all = forked.filter(_.header.height <= 40)
    // compactEvery=3 forces at least two base roll-ups over 8 batches
    val ingest = new ChainIngest(tmpDir("graft-utxo-delta"), compactEvery = 3)
    def boxIds(blocks: Seq[RawBlock]): Set[String] = UtxoQueries.utxos(
      BlockDerivation.derive(spark.createDataset(blocks)))
      .select("boxId").collect().map(_.getString(0)).toSet
    // the SQL-text pin (what registerCatalog registers) must read the same
    // boxes, row for row, as the DataFrame view it renders
    def assertSqlPinMatches(when: String): Unit = {
      def rows(df: DataFrame) = df.select(ingest.utxo(spark).columns.map(col): _*)
        .collect().toSeq.sortBy(_.getString(0))
      assert(rows(spark.sql(ingest.utxoViewSql())) == rows(ingest.utxo(spark)),
        s"utxoViewSql diverged from utxo() $when")
    }
    all.grouped(5).zipWithIndex.foreach { case (chunk, i) =>
      ingest.processBatch(spark.createDataset(chunk), i.toLong)
      val got = ingest.utxo(spark).select("boxId").collect().map(_.getString(0)).toSet
      assert(got == boxIds(all.take((i + 1) * 5)), s"utxo view diverged after batch $i")
      assertSqlPinMatches(s"after batch $i")
    }
    // a fork batch (both branches at once) republishes the set as a base
    ingest.processBatch(spark.createDataset(forked.filter(_.header.height > 40)), 8L)
    val winners = forked.filter(b => winnerIds.contains(b.header.id))
    assert(ingest.utxo(spark).select("boxId").collect().map(_.getString(0)).toSet ==
      boxIds(all ++ winners), "utxo view diverged after the fork batch")
    assertSqlPinMatches("after the fork batch")
  }

  test("heal replays an interrupted fork rebuild from the progress marker (sparse-table crash window)") {
    import spark.implicits._
    val all = ChainFixture.generate(20)
    val wh = tmpDir("graft-heal-marker")
    val ingest = new ChainIngest(wh, bucketSize = 10)
    ingest.processBatch(spark.createDataset(all.take(10)), 0L)
    ingest.processBatch(spark.createDataset(all.drop(10)), 1L)
    // simulate a rebuild that crashed after deleting a sparse table's tail
    // bucket: tips of blocks/txs/outputs/utxo all still match raw, so ONLY
    // the marker can reveal the damage
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$wh/_rebuild_from"), "11")
    val victim = java.nio.file.Paths.get(s"$wh/inputs/heightBucket=1")
    assert(java.nio.file.Files.exists(victim))
    val walk = java.nio.file.Files.walk(victim)
    try walk.sorted(java.util.Comparator.reverseOrder())
      .forEach(f => java.nio.file.Files.deleteIfExists(f))
    finally walk.close()
    assert(ingest.heal(spark), "heal must replay the marked rebuild")
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(s"$wh/_rebuild_from")))
    val expect = BlockDerivation.derive(spark.createDataset(all))
    assert(spark.read.parquet(s"$wh/inputs").count() == expect.inputs.count(),
      "inputs tail bucket must be restored")
    assert(!ingest.heal(spark), "second heal is a no-op")
  }

  test("retention never deletes live deltas, even when keepVersions < deltas-per-base") {
    import spark.implicits._
    val all = ChainFixture.generate(30)
    // keepVersions(2) < compactEvery(8): every delta is below the retention
    // floor almost immediately — they must survive until a base covers them
    val ingest = new ChainIngest(tmpDir("graft-retention"), keepVersions = 2, compactEvery = 8)
    all.grouped(5).zipWithIndex.foreach { case (chunk, i) =>
      ingest.processBatch(spark.createDataset(chunk), i.toLong)
    }
    val expect = UtxoQueries.utxos(BlockDerivation.derive(spark.createDataset(all)))
      .select("boxId").collect().map(_.getString(0)).toSet
    val got = ingest.utxo(spark).select("boxId").collect().map(_.getString(0)).toSet
    assert(got == expect, "live deltas were garbage-collected")
  }

  test("heal detects a stale utxo view and re-derives (crash between entity writes and delta commit)") {
    import spark.implicits._
    val all = ChainFixture.generate(20)
    val wh = tmpDir("graft-heal-utxo")
    val ingest = new ChainIngest(wh)
    ingest.processBatch(spark.createDataset(all.take(10)), 0L)
    ingest.processBatch(spark.createDataset(all.drop(10)), 1L)
    // simulate the crash window: delete the newest utxo delta so the view
    // lags the blocks tip while raw/blocks agree
    val deltaDir = java.nio.file.Paths.get(s"$wh/utxo/delta")
    val newest = java.nio.file.Files.list(deltaDir).toArray.map(_.toString).sorted.last
    val walk = java.nio.file.Files.walk(java.nio.file.Paths.get(newest))
    try walk.sorted(java.util.Comparator.reverseOrder())
      .forEach(f => java.nio.file.Files.deleteIfExists(f))
    finally walk.close()
    assert(ingest.heal(spark), "heal must detect the lagging utxo view")
    val expect = UtxoQueries.utxos(BlockDerivation.derive(spark.createDataset(all)))
      .select("boxId").collect().map(_.getString(0)).toSet
    assert(ingest.utxo(spark).select("boxId").collect().map(_.getString(0)).toSet == expect)
    assert(!ingest.heal(spark), "second heal must be a no-op")
  }

  test("mempool dedup drops replayed txIds within the watermark") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[MempoolTx]
    val deduped = MempoolStream.dedupedTxs(stream.toDF())
    val query = deduped.writeStream
      .format("memory").queryName("mempool_dedup").outputMode("append").start()
    try {
      val t0 = new java.sql.Timestamp(1700000000000L)
      def tx(id: String) = MempoolTx(id, t0, Nil, Nil)
      stream.addData(tx("a"), tx("b"), tx("a"))
      query.processAllAvailable()
      stream.addData(tx("b"), tx("c")) // b replayed across batches
      query.processAllAvailable()
      val seen = spark.table("mempool_dedup").select("txId")
        .collect().map(_.getString(0)).sorted
      assert(seen.toSeq == Seq("a", "b", "c"))
    } finally query.stop()
  }

  test("stream-stream confirmation join pairs within the horizon, drops outside it") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val pending = MemoryStream[(String, java.sql.Timestamp)]
    val confirmed = MemoryStream[(String, java.sql.Timestamp, Int)]
    val joined = graft.streaming.ConfirmationJoin.confirmations(
      pending.toDF().toDF("txId", "seenAt"),
      confirmed.toDF().toDF("txId", "confirmedAt", "height"),
      horizon = "30 minutes")
    val query = joined.writeStream
      .format("memory").queryName("confirmations").outputMode("append").start()
    try {
      val t0 = 1700000000000L
      def ts(offsetS: Long) = new java.sql.Timestamp(t0 + offsetS * 1000)
      pending.addData(("a", ts(0)), ("b", ts(0)), ("c", ts(0)))
      query.processAllAvailable()
      confirmed.addData(
        ("a", ts(120), 10),      // 2 min wait → pairs
        ("b", ts(3600), 11),     // 60 min > horizon → dropped
        ("z", ts(120), 10))      // never pending → no pair
      query.processAllAvailable()
      // cross-micro-batch pairing: c confirms two batches later, still
      // inside the horizon — the state store must have kept it
      confirmed.addData(("c", ts(600), 12))
      query.processAllAvailable()
      val got = spark.table("confirmations")
        .select("txId", "height", "waitS").collect()
        .map(r => (r.getString(0), r.getInt(1), r.getDouble(2))).sorted
      assert(got.toSeq == Seq(("a", 10, 120.0), ("c", 12, 600.0)))
    } finally query.stop()
  }

  test("misra-gries sketch aggregates across micro-batches (mergeable streaming state)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[String]
    // the sketch as streaming state: k counters per group, merged batch
    // over batch — the supernode counter (A8) with O(k) memory instead of
    // per-key state for an unbounded key space
    val sketched = stream.toDS()
      .groupByKey(_ => 0)
      .agg(new graft.functions.FrequentItemsAggregator(4).toColumn.name("sk"))
    val query = sketched.toDF("g", "sk").writeStream
      .format("memory").queryName("mg_sketch").outputMode("complete").start()
    try {
      stream.addData(Seq.fill(50)("hot") ++ (0 until 20).map(i => s"a$i"): _*)
      query.processAllAvailable()
      stream.addData(Seq.fill(30)("hot") ++ (0 until 20).map(i => s"b$i"): _*)
      query.processAllAvailable()
      val sk = spark.table("mg_sketch")
        .select("sk").head().getMap[String, Long](0)
      // N=120, k=4 ⇒ anything over N/5=24 must survive; 'hot' has 80
      assert(sk.contains("hot"), s"hot key missing from streaming sketch: $sk")
      assert(sk("hot") <= 80 && sk("hot") >= 80 - 24, s"bound violated: $sk")
      assert(sk.size <= 4)
    } finally query.stop()
  }

  test("tumbling event-time windows aggregate incrementally and drop late data") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    case object T { def at(min: Long) = new java.sql.Timestamp(1700000000000L + min * 60000L) }
    val stream = MemoryStream[(java.sql.Timestamp, String, Double)]
    val events = stream.toDF().toDF("ts", "event_type", "value")
    val windowed = EventTimeWindows.tumbling(events, "ts", "event_type",
      width = "10 minutes", watermark = "10 minutes")
    val query = windowed.writeStream
      .format("memory").queryName("etw").outputMode("append").start()
    try {
      stream.addData((T.at(1), "a", 1.0), (T.at(5), "a", 2.0), (T.at(12), "b", 5.0))
      query.processAllAvailable()
      // advance the watermark far enough to close the first two windows
      stream.addData((T.at(40), "c", 1.0))
      query.processAllAvailable()
      // this event is behind the watermark → dropped
      stream.addData((T.at(2), "a", 100.0))
      query.processAllAvailable()
      stream.addData((T.at(60), "d", 1.0))
      query.processAllAvailable()
      val rows = spark.table("etw")
        .select(col("event_type"), col("n"), col("sum_value"))
        .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
      assert(rows.contains(("a", 2L, 3.0)), s"window a wrong: $rows") // late 100.0 dropped
      assert(rows.contains(("b", 1L, 5.0)))
    } finally query.stop()
  }

  test("drift monitor tracks per-window OOV and quality against a fixed vocab") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    case object T { def at(min: Long) = new java.sql.Timestamp(1700000000000L + min * 60000L) }
    val stream = MemoryStream[(java.sql.Timestamp, String)]
    val docsDf = stream.toDF().toDF("ts", "text")
    val monitored = CorpusDriftMonitor.drift(docsDf,
      vocab = Seq("table", "scan", "join"), width = "10 minutes",
      qualityMin = 0.99, watermark = "10 minutes")
    val query = monitored.writeStream
      .format("memory").queryName("drift").outputMode("append").start()
    try {
      // window 1: 2 docs, 5 tokens, 2 OOV ("zzz", "qqq")
      stream.addData((T.at(1), "table scan zzz"), (T.at(5), "join qqq"))
      query.processAllAvailable()
      stream.addData((T.at(40), "table"))    // advances watermark, closes w1
      query.processAllAvailable()
      stream.addData((T.at(2), "late late")) // behind watermark → dropped
      query.processAllAvailable()
      stream.addData((T.at(70), "flush"))
      query.processAllAvailable()
      val w1 = spark.table("drift")
        .select("n_docs", "n_tokens", "n_oov", "oov_rate")
        .orderBy("window.start").collect().head
      assert(w1.getLong(0) == 2 && w1.getLong(1) == 5 && w1.getLong(2) == 2,
        s"window-1 counters wrong: $w1")
      assert(w1.getDouble(3) == 0.4, s"oov_rate wrong: $w1")
    } finally query.stop()
  }

  test("compaction collapses micro-batch file sprawl without changing data") {
    import spark.implicits._
    val dir = tmpDir("graft-compact") + "/t"
    (1 to 8).foreach { i =>
      Seq.tabulate(100)(j => (i, j)).toDF("batch", "v")
        .repartition(4).write.mode("append").parquet(dir)
    }
    val before = Compaction.fileCount(dir)
    assert(before >= 32)
    val checksum = spark.read.parquet(dir).agg(sum(col("v")), count(lit(1))).collect()(0)
    Compaction.compact(spark, dir, targetFiles = 4)
    assert(Compaction.fileCount(dir) <= 4)
    val after = spark.read.parquet(dir).agg(sum(col("v")), count(lit(1))).collect()(0)
    assert(checksum == after)
  }

  test("sorted compaction yields files with disjoint key ranges") {
    import spark.implicits._
    val dir = tmpDir("graft-sortcompact") + "/t"
    // write deliberately shuffled data across many files
    (1 to 6).foreach { i =>
      Seq.tabulate(200)(j => (j * 31 + i) % 1200).toDF("k")
        .repartition(3).write.mode("append").parquet(dir)
    }
    val before = spark.read.parquet(dir).count()
    Compaction.compactSorted(spark, dir, "k", targetFiles = 4)
    assert(spark.read.parquet(dir).count() == before)
    // per-file min/max ranges must not overlap → min/max stats prune to 1 file
    val files = java.nio.file.Files.list(java.nio.file.Paths.get(dir))
      .toArray.map(_.toString).filter(_.endsWith(".parquet")).sorted
    assert(files.length <= 4 && files.length >= 2)
    val ranges = files.map { f =>
      val r = spark.read.parquet(f)
        .agg(org.apache.spark.sql.functions.min("k"),
          org.apache.spark.sql.functions.max("k")).head
      (r.getInt(0), r.getInt(1))
    }.sortBy(_._1)
    ranges.sliding(2).foreach {
      case Array((_, maxA), (minB, _)) =>
        assert(maxA <= minB, s"file ranges overlap: ${ranges.toSeq}")
      case _ =>
    }
  }

  test("z-ordered compaction clusters files on BOTH dims; 1-D sort does not") {
    import spark.implicits._
    val dir = tmpDir("graft-zcompact") + "/t"
    // 2-D grid data shuffled across many files: x and y independent
    val rows = for { x <- 0L until 64L; y <- 0L until 64L } yield (x * 7 % 64, y)
    rows.toDF("x", "y").repartition(6).write.parquet(dir)
    val before = spark.read.parquet(dir).count()

    def spans(d: String): (Double, Double) = {
      val files = java.nio.file.Files.list(java.nio.file.Paths.get(d))
        .toArray.map(_.toString).filter(_.endsWith(".parquet"))
      val fr = files.map { f =>
        val r = spark.read.parquet(f).agg(
          org.apache.spark.sql.functions.min("x"), org.apache.spark.sql.functions.max("x"),
          org.apache.spark.sql.functions.min("y"), org.apache.spark.sql.functions.max("y")).head
        ((r.getLong(1) - r.getLong(0)) / 63.0, (r.getLong(3) - r.getLong(2)) / 63.0)
      }
      (fr.map(_._1).sum / fr.length, fr.map(_._2).sum / fr.length)
    }

    Compaction.compactZOrdered(spark, dir, "x", "y", targetFiles = 16)
    assert(spark.read.parquet(dir).count() == before, "compaction preserves rows")
    val (zx, zy) = spans(dir)
    assert(zx < 0.6 && zy < 0.6,
      s"z-order must cluster BOTH dims: avg x-span $zx, y-span $zy")

    // the 1-D baseline: sorted on x only, y spans stay ~the full range
    val dir1 = tmpDir("graft-zcompact1") + "/t"
    rows.toDF("x", "y").repartition(6).write.parquet(dir1)
    Compaction.compactSorted(spark, dir1, "x", targetFiles = 16)
    val (_, sy) = spans(dir1)
    assert(sy > 0.9, s"1-D layout's secondary dim should span ~full range: $sy")
    assert(zy < sy / 1.5, "z-order must beat the 1-D layout on the secondary dim")
  }

  test("mempool pipeline streams dedup → analyzer → alert sink end-to-end") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val t = BlockDerivation.derive(spark.createDataset(ChainFixture.generate(40)))
    val utxo = UtxoQueries.utxos(t).cache()
    val big = utxo.orderBy(org.apache.spark.sql.functions.desc("ergValue"))
      .limit(1).collect()(0)
    val alerts = scala.collection.mutable.ArrayBuffer[String]()
    val stream = MemoryStream[MempoolTx]
    val detector = new MempoolStream.HighValueDetector(1000000000L, "nofee")
    val query = MempoolStream.start(
      stream.toDF(), () => utxo, Seq(detector),
      tmpDir("graft-mempool-cp"),
      (_, df) => alerts ++= df.collect().map(_.getAs[String]("txId")))
    try {
      // NB: event times must be past the initial watermark (epoch 0) or the
      // dedup operator drops them as late.
      val bigTx = MempoolTx("whale", new java.sql.Timestamp(1700000000000L),
        Seq(RawInput(big.getString(0))),
        Seq(RawOutput("nb", big.getAs[Long]("ergValue"), 1, "aa" * 16, Nil, Map.empty)))
      stream.addData(bigTx, bigTx) // duplicate within batch → one alert
      query.processAllAvailable()
      stream.addData(bigTx) // replay across batches → deduped, no new alert
      query.processAllAvailable()
      assert(alerts.toSeq == Seq("whale"))
    } finally query.stop()
  }

  test("stateful streaming sessionization closes sessions by gap timeout and in-batch gaps") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import StatefulSessions._
    def ev(u: String, min: Long, v: Double) =
      SessionEvent(u, new java.sql.Timestamp(1700000000000L + min * 60000L), v)
    val stream = MemoryStream[SessionEvent]
    val out = sessions(stream.toDS(), gapMs = 5 * 60000L, watermarkDelay = "1 second")
    val query = out.writeStream
      .format("memory").queryName("ssessions").outputMode("append").start()
    try {
      // session 1 for a: minutes 0,2,4; then an in-batch gap at minute 30
      stream.addData(ev("a", 0, 1.0), ev("a", 2, 2.0), ev("a", 4, 3.0), ev("a", 30, 7.0))
      query.processAllAvailable()
      // watermark advance: far-future event for b triggers a's open-session timeout
      stream.addData(ev("b", 120, 1.0))
      query.processAllAvailable()
      stream.addData(ev("b", 240, 1.0))
      query.processAllAvailable()
      val got = spark.table("ssessions").as[Session].collect()
        .map(s => (s.userId, s.nEvents, s.sumValue, s.durationMs)).toSet
      assert(got.contains(("a", 3L, 6.0, 4 * 60000L)), s"in-batch-gap session: $got")
      assert(got.contains(("a", 1L, 7.0, 0L)), s"timeout-closed session: $got")
    } finally query.stop()
  }

  test("streaming dedup flags duplicates across micro-batch boundaries") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import StreamingDedup._
    val stream = MemoryStream[Doc]
    val out = dedup(stream.toDS())
    val query = out.writeStream
      .format("memory").queryName("sdedup").outputMode("append").start()
    try {
      // batch 1: 2 is an in-batch dup of 1 after canonicalization
      // (case + whitespace collapse); 3 is unique
      stream.addData(Doc(1, "hello world"), Doc(2, "Hello   World"),
        Doc(3, "something else"))
      query.processAllAvailable()
      // batch 2: 4 duplicates content first seen in batch 1 — the state
      // store must remember across the micro-batch boundary
      stream.addData(Doc(4, "hello  world"), Doc(5, "brand new"))
      query.processAllAvailable()
      val got = spark.table("sdedup").as[DedupVerdict].collect()
        .map(v => v.docId -> ((v.isDuplicate, v.firstSeenId, v.nthOccurrence)))
        .toMap
      assert(got(1L) == ((false, 1L, 1L)))
      assert(got(2L) == ((true, 1L, 2L)), s"in-batch dup: $got")
      assert(got(3L) == ((false, 3L, 1L)))
      assert(got(4L) == ((true, 1L, 3L)), s"cross-batch dup ordinal must span batches: $got")
      assert(got(5L) == ((false, 5L, 1L)))
    } finally query.stop()
  }

  test("streaming clean gate verdicts docs on arrival with q108's rule priority") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import StreamingCleanExport._
    val stream = MemoryStream[Doc]
    val out = gate(stream.toDS(),
      Seq("slow", "drop", "slow fast", "table value", "big table"), 0.62)
    val query = out.writeStream
      .format("memory").queryName("scleangate").outputMode("append").start()
    try {
      // batch 1: 1 kept; 2 hits the bigram blocklist; 3 fails the quality
      // floor (1 distinct token, all stopwords); 4 is a canonicalization
      // dup of 1 in the SAME batch
      stream.addData(
        Doc(1, "fresh unique spark content here"),
        Doc(2, "this query was slow fast and strange"),
        Doc(3, "a a a a a a"),
        Doc(4, "Fresh  Unique   spark content HERE"))
      query.processAllAvailable()
      // batch 2: 5 duplicates 1 across the batch boundary; 6 is blocked by
      // a unigram AND a dup of nothing; 7 kept
      stream.addData(
        Doc(5, "fresh unique spark content here"),
        Doc(6, "please drop this immediately"),
        Doc(7, "another genuinely novel document"))
      query.processAllAvailable()
      val got = spark.table("scleangate").as[Verdict].collect()
        .map(v => v.docId -> ((v.keep, v.reason))).toMap
      assert(got(1L) == ((true, "kept")))
      assert(got(2L) == ((false, "blocklist")), s"bigram phrase must block: $got")
      assert(got(3L) == ((false, "quality")))
      assert(got(4L) == ((false, "exact_dup")), s"in-batch dup: $got")
      assert(got(5L) == ((false, "exact_dup")), s"cross-batch dup: $got")
      assert(got(6L) == ((false, "blocklist")))
      assert(got(7L) == ((true, "kept")))
    } finally query.stop()
  }

  test("clean gate with maskPii scrubs kept text but dedups on the original") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import StreamingCleanExport._
    val stream = MemoryStream[Doc]
    val out = gateWithText(stream.toDS(), Nil, 0.0, maskPii = true)
    val query = out.writeStream
      .format("memory").queryName("spiigate").outputMode("append").start()
    try {
      stream.addData(
        Doc(1, "ping alice@example.com about the perfectly normal report"),
        // same text except the contact: a DIFFERENT doc (near-dup, not
        // exact) — masking must not collapse them into one fingerprint
        Doc(2, "ping bob@example.org about the perfectly normal report"))
      query.processAllAvailable()
      val got = spark.table("spiigate").as[VerdictDoc].collect()
        .map(v => v.docId -> v).toMap
      assert(got(1L).keep && got(2L).keep,
        s"PII-differing docs are distinct, both kept: $got")
      got.values.foreach { v =>
        assert(!v.text.contains("@"), s"email leaked: ${v.text}")
        assert(v.text.contains("<EMAIL>"), s"placeholder missing: ${v.text}")
      }
    } finally query.stop()
  }

  test("streaming near-dup pairs docs across micro-batches via LSH buckets") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import StreamingNearDup._
    val stream = MemoryStream[Doc]
    val out = pairs(stream.toDS())
    val query = out.writeStream
      .format("memory").queryName("sneardup").outputMode("append").start()
    try {
      val base = "the quick brown fox jumps over the lazy dog while " +
        "rain falls on the dusty road tonight"
      stream.addData(Doc(1, base),
        Doc(3, "completely different words about catalyst codegen " +
          "partitions shuffles joins windows aggregates and scans"))
      query.processAllAvailable()
      // batch 2: 2 is a near-copy of 1 (one appended token) — the LSH
      // bucket state must remember 1's signature across the batch boundary
      stream.addData(Doc(2, base + " again"),
        Doc(4, "another unrelated text mentioning parquet files and " +
          "broadcast variables in cluster deployments everywhere"))
      query.processAllAvailable()
      val got = spark.table("sneardup").as[NearDupPair].collect()
      val pairSet = got.map(p => (p.aId, p.bId)).toSet
      assert(pairSet.contains((1L, 2L)), s"cross-batch near-dup missed: $pairSet")
      assert(got.forall(_.estSim >= 0.5), s"threshold leak: ${got.mkString(",")}")
      assert(pairSet.forall { case (a, b) => Set(a, b).subsetOf(Set(1L, 2L)) },
        s"false positives: $pairSet")
    } finally query.stop()
  }

  test("incremental dup-cluster labels across micro-batches equal the batch components") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import StreamingNearDup._
    val stream = MemoryStream[Doc]
    val store = tmpDir("graft-dupclusters")
    val clusters = new StreamingDupClusters(s"$store/clusters", buckets = 8)
    val streamed = scala.collection.mutable.ArrayBuffer.empty[NearDupPair]
    val query = pairs(stream.toDS()).writeStream
      .outputMode("append")
      .option("checkpointLocation", s"$store/ckpt")
      .foreachBatch { (b: org.apache.spark.sql.Dataset[NearDupPair], _: Long) =>
        streamed.synchronized { streamed ++= b.collect() }
        clusters.update(b.toDF())
      }.start()
    try {
      val base = "the quick brown fox jumps over the lazy dog while " +
        "rain falls on the dusty road tonight and nothing else moves"
      val other = "an entirely different passage discussing catalyst " +
        "codegen partitions shuffles joins windows aggregates and scans"
      // batch 1: two separate dup families seed two components
      stream.addData(Doc(10, base), Doc(11, base + " again"),
        Doc(20, other), Doc(21, other + " too"))
      query.processAllAvailable()
      val afterB1 = clusters.labels(spark).as[(Long, Long)].collect().toMap
      assert(afterB1.nonEmpty && afterB1.values.toSet.size >= 2,
        s"two families must form two components: $afterB1")
      // batch 2: a doc similar to BOTH 11 and nothing else extends family 1
      stream.addData(Doc(12, base + " again twice"))
      query.processAllAvailable()
      // batch 3: a LOWER doc id joins family 1 — the merged cid must drop
      // to the new minimum across the whole component (cross-batch merge)
      stream.addData(Doc(5, base + " again"))
      query.processAllAvailable()

      val got = clusters.labels(spark).as[(Long, Long)].collect().toMap
      // ground truth: batch components over exactly the streamed pair set
      val pairSet = streamed.synchronized {
        streamed.map(p => (p.aId, p.bId)).toSet }
      val edges = pairSet.toSeq.toDF("a", "b")
      val doubled = edges.select(col("a").as("src"), col("b").as("dst"))
        .unionByName(edges.select(col("b").as("src"), col("a").as("dst")))
      val expected = graft.functions.Clustering.minLabelComponents(doubled)
        .as[(Long, Long)].collect().toMap
      assert(got == expected,
        s"incremental labels diverged from batch components:\n got=$got\n exp=$expected")
      assert(got(10L) == 5L && got(11L) == 5L,
        s"family-1 labels must have merged down to doc 5: $got")

      // streaming split assignment (q126's twin): after the replay it must
      // equal the batch assignment — reps from the converged store, routing
      // verified against an INDEPENDENT Scala recompute of the md5 bucket
      // (not the shared Column expression). 999 is a never-paired doc: it
      // must self-represent.
      val ids = (got.keys.toSeq :+ 999L).toDF("doc_id")
      val assigned = clusters.splitAssignments(spark, ids)
        .collect().map(r => (r.getLong(0), (r.getLong(1), r.getString(2)))).toMap
      def splitScala(rep: Long): String = {
        val hex = java.security.MessageDigest.getInstance("MD5")
          .digest(s"41:$rep".getBytes("UTF-8"))
          .map("%02x".format(_)).mkString.take(15)
        val b = java.lang.Long.parseLong(hex, 16) % 100
        if (b < 90) "train" else if (b < 95) "val" else "test"
      }
      assigned.foreach { case (id, (rep, sp)) =>
        assert(rep == expected.getOrElse(id, id),
          s"doc $id must route by its converged component rep")
        assert(sp == splitScala(rep),
          s"doc $id split $sp != independent recompute ${splitScala(rep)}")
      }
      assert(assigned(999L)._1 == 999L, "unpaired docs self-represent")

      // foreachBatch redelivery (crash after the manifest publish):
      // re-applying already-folded pairs must reproduce identical labels
      clusters.update(streamed.synchronized {
        streamed.map(p => (p.aId, p.bId, p.estSim)) }.toSeq
        .toDF("aId", "bId", "estSim"))
      val replayed = clusters.labels(spark).as[(Long, Long)].collect().toMap
      assert(replayed == got, s"redelivered batch changed labels: $replayed")

      // crash BEFORE the manifest publish: a prior attempt died mid-write at
      // exactly the version the NEXT update will recompute (manifest max +
      // 1), leaving orphan version dirs and half-written staging dirs in
      // EVERY bucket — readers must ignore them, and the next update must
      // hit writeBucketed's staging-clear and rmTree-dst recovery branches
      // (a same-version dst collision on Files.move) rather than sidestep
      // them with a version that can never recur
      val nf = java.nio.file.Files.list(
        java.nio.file.Paths.get(s"$store/clusters/manifest"))
      val head = try nf.toArray.map(_.toString).filter(_.matches(".*/m=\\d+$"))
        .maxBy(s => s.substring(s.lastIndexOf('=') + 1).toLong)
      finally nf.close()
      val crashV = java.nio.file.Files.readString(
        java.nio.file.Paths.get(head)).linesIterator.filter(_.nonEmpty)
        .map(_.split(",")(2).toLong).max + 1
      for (cb <- 0L until 64L; t <- Seq("labels", "edges")) {
        val orphan = java.nio.file.Paths.get(
          s"$store/clusters/$t/cb=$cb/v=$crashV")
        java.nio.file.Files.createDirectories(orphan)
        java.nio.file.Files.writeString(orphan.resolve("junk"), "not parquet")
      }
      for (t <- Seq("labels", "edges")) {
        val stag = java.nio.file.Paths.get(
          s"$store/clusters/.staging-$t-v=$crashV/cb=3")
        java.nio.file.Files.createDirectories(stag)
        java.nio.file.Files.writeString(stag.resolve("junk"), "not parquet")
      }
      assert(clusters.labels(spark).as[(Long, Long)].collect().toMap == got,
        "unpublished orphan versions must be invisible to readers")
      clusters.update(Seq((5L, 12L, 0.9)).toDF("aId", "bId", "estSim"))
      val afterCrashy = clusters.labels(spark).as[(Long, Long)].collect().toMap
      assert(afterCrashy == got, // (5,12) pair was already known
        s"update over crash leftovers diverged: $afterCrashy")
    } finally query.stop()
  }

  test("pinned labels stay readable across 3+ updates; transient frames across one") {
    import spark.implicits._
    val store = tmpDir("graft-pinlabels")
    val clusters = new StreamingDupClusters(s"$store/c", buckets = 8)
    clusters.update(Seq((10L, 11L, 0.9)).toDF("aId", "bId", "estSim"))
    val pinned = clusters.pinnedLabels(spark)
    val snapshot = pinned.df.as[(Long, Long)].collect().toMap
    assert(snapshot == Map(10L -> 10L, 11L -> 10L))
    // three further updates, each rewriting the touched label buckets —
    // under the unpinned two-head grace the first manifest's versions
    // would be GC'd after the second; the lease must keep them readable
    clusters.update(Seq((11L, 12L, 0.9)).toDF("aId", "bId", "estSim"))
    clusters.update(Seq((5L, 10L, 0.9)).toDF("aId", "bId", "estSim"))
    clusters.update(Seq((20L, 21L, 0.9)).toDF("aId", "bId", "estSim"))
    assert(pinned.df.as[(Long, Long)].collect().toMap == snapshot,
      "pinned frame must keep serving its manifest's snapshot")
    // the CURRENT view moved on (family merged down to 5, new family 20)
    assert(clusters.labels(spark).as[(Long, Long)].collect().toMap ==
      Map(5L -> 5L, 10L -> 5L, 11L -> 5L, 12L -> 5L, 20L -> 20L, 21L -> 20L))
    pinned.close()
    // after release, the next update may GC the old manifest; the current
    // view must stay intact
    clusters.update(Seq((20L, 22L, 0.9)).toDF("aId", "bId", "estSim"))
    assert(clusters.labels(spark).as[(Long, Long)].collect().toMap ==
      Map(5L -> 5L, 10L -> 5L, 11L -> 5L, 12L -> 5L,
        20L -> 20L, 21L -> 20L, 22L -> 20L))
  }

  test("terminal streaming verdict (keep, reason, split) equals batch q108 x q126 after replay") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import StreamingCleanExport.Doc
    // the batch pipeline's q103/q108 blocklist and quality floor, passed
    // verbatim to the gate (the constants are package-private by design)
    val blocklist = Seq("slow", "drop", "slow fast", "table value", "big table")
    val qualityMin = 0.62
    val base = "the quick brown fox jumps over lazy dogs while " +
      "rain falls on dusty roads tonight and nothing else moves"
    val other = "an entirely different passage discussing catalyst " +
      "codegen partitions shuffles joins windows aggregates and scans"
    val docRows = Seq(
      1L -> base, // near-dup canonical → kept
      2L -> (base + " again"), // near-dup non-canonical → near_dup
      3L -> other, // kept
      4L -> "please drop this immediately right away", // blocklist
      5L -> Seq.fill(20)("spam").mkString(" "), // quality (score 0.525)
      6L -> "one more genuinely novel document about streams here")
    // batch ground truth: the SAME docs as a documents table, through the
    // real q108 and q126 operators
    val dir = tmpDir("graft-verdict-batch")
    docRows.toDF("doc_id", "text").write.mode("overwrite")
      .parquet(s"$dir/documents.parquet")
    val batch = SparkEntry.queries("q108_clean_export")(spark, dir)
      .join(SparkEntry.queries("q126_cluster_split")(spark, dir)
        .select("doc_id", "split"), "doc_id")
      .collect().map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Int]("keep"), r.getAs[String]("reason"),
          r.getAs[String]("split")))).toMap

    // streaming replay: gate verdicts (query 1) + gate→pairs→label store
    // (query 2), fed identical batches; then the terminal composition
    val store = tmpDir("graft-verdict-stream")
    val clusters = new StreamingDupClusters(s"$store/c", buckets = 8)
    val gateStream = MemoryStream[Doc]
    val pairStream = MemoryStream[Doc]
    val gateQuery = StreamingCleanExport
      .gate(gateStream.toDS(), blocklist, qualityMin)
      .writeStream.format("memory").queryName("sverdicts")
      .outputMode("append").start()
    val pairQuery = StreamingPipeline.cleanDupClusters(
      pairStream.toDS(), blocklist, qualityMin, clusters, s"$store/ckpt")
    try {
      val batches = Seq(docRows.take(3), docRows.drop(3))
      batches.foreach { b =>
        val ds = b.map { case (id, t) => Doc(id, t) }
        gateStream.addData(ds); pairStream.addData(ds)
        gateQuery.processAllAvailable(); pairQuery.processAllAvailable()
      }
      val composed = StreamingPipeline.curationVerdicts(
        spark, spark.table("sverdicts"), clusters)
        .collect().map(r => r.getAs[Long]("doc_id") ->
          ((r.getAs[Int]("keep"), r.getAs[String]("reason"),
            r.getAs[String]("split")))).toMap
      assert(composed == batch,
        s"streaming (keep, reason, split) diverged from batch:\n" +
          s" streaming=$composed\n batch=$batch")
      // sanity on the interesting rows, independent of the batch engine
      assert(composed(2L)._2 == "near_dup" && composed(2L)._1 == 0)
      assert(composed(4L)._2 == "blocklist")
      assert(composed(5L)._2 == "quality")
      assert(composed(1L) == ((1, "kept", composed(2L)._3)),
        "a near-dup family shares one split by construction")
    } finally { gateQuery.stop(); pairQuery.stop() }
  }

  test("pool-state pairing tags each batch with the pool before it and tracks evictions") {
    import spark.implicits._
    def tx(id: String) = MempoolTx(id, new java.sql.Timestamp(1700000000000L), Nil, Nil)
    val tracker = new MempoolStream.PoolStateTracker
    val p1 = tracker.pair(Seq(tx("a"), tx("b")).toDF())
    assert(p1.select("poolStateBefore").collect()
      .forall(_.getSeq[String](0).isEmpty), "first batch sees an empty pool")
    val p2 = tracker.pair(Seq(tx("c")).toDF())
    assert(p2.select("poolStateBefore").head().getSeq[String](0).toSet == Set("a", "b"))
    tracker.retain(Set("c")) // a and b were mined
    val p3 = tracker.pair(Seq(tx("d")).toDF())
    assert(p3.select("poolStateBefore").head().getSeq[String](0).toSet == Set("c"))
    assert(tracker.snapshot.toSet == Set("c", "d"))
  }

  test("compaction recovery completes an interrupted swap") {
    import spark.implicits._
    val dir = tmpDir("graft-compact-recover") + "/t"
    Seq.tabulate(50)(i => (i, i * 2)).toDF("k", "v").write.parquet(dir)
    val sum0 = spark.read.parquet(dir).agg(sum("v")).head().getLong(0)
    // simulate a crash between swapIn's two renames: dir moved aside to
    // .compact-old, completed tmp present, dir missing
    java.nio.file.Files.move(java.nio.file.Paths.get(dir),
      java.nio.file.Paths.get(dir + ".compact-old"))
    spark.read.parquet(dir + ".compact-old").coalesce(1)
      .write.parquet(dir + ".compact-tmp")
    assert(Compaction.recover(dir), "recover must repair the missing dir")
    assert(spark.read.parquet(dir).agg(sum("v")).head().getLong(0) == sum0)
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(dir + ".compact-old")))
    assert(!Compaction.recover(dir), "second recover is a no-op")
  }

  test("high-value detector alerts only above threshold, net of paybacks and fees") {
    import spark.implicits._
    val t = BlockDerivation.derive(spark.createDataset(ChainFixture.generate(40)))
    val utxo = UtxoQueries.utxos(t)
    // craft mempool txs spending real utxos
    val boxes = utxo.select("boxId", "ergValue", "ergoTreeHash")
      .orderBy(desc("ergValue")).limit(2).collect()
    val big = boxes(0)
    val detector = new MempoolStream.HighValueDetector(
      threshold = 1000000000L, feeTreeHash = "nofee")
    val mempool = Seq(
      // large external transfer: spends the biggest utxo to a fresh script
      MempoolTx("bigtx", new java.sql.Timestamp(0), Seq(RawInput(big.getString(0))),
        Seq(RawOutput("newbox1", big.getAs[Long]("ergValue"), 1, "aabbccdd" + "e" * 24, Nil, Map.empty))),
      // dust transfer: below threshold
      MempoolTx("smalltx", new java.sql.Timestamp(0), Seq(RawInput(boxes(1).getString(0))),
        Seq(RawOutput("newbox2", 1000L, 1, "aabbccdd" + "f" * 24, Nil, Map.empty)))
    ).toDF()
    val alerts = detector.onNewTransactions(mempool, utxo).collect()
    assert(alerts.length == 1 && alerts(0).getAs[String]("txId") == "bigtx")
  }

  test("composed pipeline: only gate-kept docs enter near-dup state, across batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import StreamingCleanExport.Doc
    val stream = MemoryStream[Doc]
    val out = StreamingPipeline.cleanNearDups(stream.toDS(), Seq("forbidden"), 0.3)
    val query = out.writeStream
      .format("memory").queryName("spipeline").outputMode("append").start()
    try {
      val base = "the quick brown fox jumps over the lazy dog while " +
        "rain falls on the dusty road tonight"
      // batch 1: 1 kept; 10 is a near-copy of 1 but BLOCKLISTED — it must
      // never occupy an LSH bucket, so it can never pair with anything
      stream.addData(Doc(1, base), Doc(10, base + " forbidden"))
      query.processAllAvailable()
      // batch 2: 2 is a kept near-copy of 1 (cross-batch pair through the
      // bucket state); 11 is an exact dup of 1 — dropped by the gate, so no
      // (1,11) pair despite identical signatures
      stream.addData(Doc(2, base + " again"), Doc(11, base))
      query.processAllAvailable()
      val got = spark.table("spipeline").as[StreamingNearDup.NearDupPair].collect()
      val pairSet = got.map(p => (p.aId, p.bId)).toSet
      assert(pairSet.contains((1L, 2L)), s"cross-batch pair through composed gate: $pairSet")
      assert(pairSet.forall { case (a, b) => Set(a, b).subsetOf(Set(1L, 2L)) },
        s"a gate-dropped doc leaked into near-dup pairing: $pairSet")
    } finally query.stop()
  }

  test("terminal composition: gate -> pairs -> incremental labels -> suppression list") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import StreamingCleanExport.Doc
    val stream = MemoryStream[Doc]
    val store = tmpDir("graft-cleanclusters")
    val clusters = new StreamingDupClusters(s"$store/clusters", buckets = 8)
    val query = StreamingPipeline.cleanDupClusters(
      stream.toDS(), Seq("forbidden"), 0.3, clusters, s"$store/ckpt")
    try {
      val base = "the quick brown fox jumps over the lazy dog while " +
        "rain falls on the dusty road tonight and nothing else moves"
      // 3 kept near-copies across two batches + one blocklisted near-copy
      // that must never reach the cluster store
      stream.addData(Doc(1, base), Doc(10, base + " forbidden"))
      query.processAllAvailable()
      stream.addData(Doc(2, base + " again"), Doc(3, base + " again twice"))
      query.processAllAvailable()
      val labels = clusters.labels(spark).as[(Long, Long)].collect().toMap
      assert(labels.keySet == Set(1L, 2L, 3L),
        s"cluster store must hold exactly the kept dup family: $labels")
      assert(labels.values.forall(_ == 1L), s"canonical must be min kept id: $labels")
      val suppressed = StreamingPipeline.nearDupSuppressed(spark, clusters)
        .select("doc_id").as[Long].collect().toSet
      assert(suppressed == Set(2L, 3L),
        s"suppression = non-canonical members only: $suppressed")
    } finally query.stop()
  }

  test("streaming line dedup == batch q142 under ordered replay; late lines flag") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import StreamingLineDedup._

    // ordered replay of real corpus docs across a micro-batch boundary
    val docs = spark.read.parquet(s"$sf001/documents.parquet")
      .select("doc_id", "text").orderBy("doc_id").limit(40)
      .collect().map(r => Doc(r.getLong(0), r.getString(1)))
    val dir = tmpDir("graft-linededup")
    spark.createDataset(docs.toSeq)
      .select(col("docId").as("doc_id"), col("text"),
        lit("en").as("lang"), lit("src0").as("source"),
        length(col("text")).as("n_chars"))
      .write.parquet(s"$dir/documents.parquet")

    val stream = MemoryStream[Doc]
    val out = verdicts(stream.toDS())
    val query = out.writeStream
      .format("memory").queryName("slinededup").outputMode("append").start()
    try {
      val (b1, b2) = docs.splitAt(20)
      stream.addData(b1.toIndexedSeq); query.processAllAvailable()
      stream.addData(b2.toIndexedSeq); query.processAllAvailable()

      val streamed = rollup(spark.table("slinededup"))
        .orderBy("doc_id").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      val batch = SparkEntry.queries("q142_line_dedup")(spark, dir)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      assert(streamed.toSeq == batch.toSeq,
        "streamed verdicts must aggregate to batch q142 exactly")
      assert(spark.table("slinededup").filter(col("outOfOrder")).isEmpty,
        "ordered replay must never flag out-of-order")
    } finally query.stop()
  }

  test("streaming line dedup == batch q142 on a MIXED newline/window fixture") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import StreamingLineDedup._
    // both geometries in one stream: the twins must agree line-for-line
    // because they share ONE definition (TextQueries.lineArrays)
    val docs = Seq(
      Doc(1, "alpha beta\n\ngamma delta epsilon\nalpha beta"),
      Doc(2, "one two three four five six seven eight nine ten"),
      Doc(3, "gamma delta epsilon\nunique tail line"),
      Doc(4, "alpha beta\nnine ten"))
    val dir = tmpDir("graft-nlstream")
    spark.createDataset(docs)
      .select(col("docId").as("doc_id"), col("text"), lit("en").as("lang"),
        lit("src0").as("source"), length(col("text")).as("n_chars"))
      .write.parquet(s"$dir/documents.parquet")
    val stream = MemoryStream[Doc]
    val query = verdicts(stream.toDS()).writeStream
      .format("memory").queryName("snlline").outputMode("append").start()
    try {
      val (b1, b2) = docs.splitAt(2)
      stream.addData(b1); query.processAllAvailable()
      stream.addData(b2); query.processAllAvailable()
      val streamed = rollup(spark.table("snlline")).orderBy("doc_id").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      val batch = SparkEntry.queries("q142_line_dedup")(spark, dir).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      assert(streamed.toSeq == batch.toSeq,
        s"stream==batch across geometries: ${streamed.toSeq} vs ${batch.toSeq}")
      // doc 4 re-uses one newline line (doc 1's) AND one window line
      // (doc 2's tail) — both geometries' hashes must collide for it
      assert(streamed.find(_._1 == 4L).get._4 == 0L,
        "doc 4 must keep zero tokens: both its lines were first seen in " +
          "earlier docs of BOTH geometries")
    } finally query.stop()
  }

  test("streaming quality gate == batch q154 per-doc buckets across batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import StreamingQualityGate._
    // fit ONCE on the reference corpus (the type-level LM + thresholds),
    // then stream the same docs in two batches: every scorable doc must
    // land in exactly the bucket batch q154's kernel assigns it
    val model = fit(spark, sf0001)
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
      .select("doc_id", "lang", "text").orderBy("doc_id").collect()
      .map(r => Doc(r.getLong(0), r.getString(1), r.getString(2)))
    val out = tmpDir("graft-qgate")
    val ckpt = tmpDir("graft-qgate-ckpt")
    val stream = MemoryStream[Doc]
    val query = route(stream.toDS(), model, out, ckpt,
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0))
    try {
      val (b1, b2) = docs.splitAt(docs.length / 2)
      stream.addData(b1.toIndexedSeq); query.processAllAvailable()
      stream.addData(b2.toIndexedSeq); query.processAllAvailable()
    } finally query.stop()
    val streamed = verdicts(spark, out)
      .filter(col("bucket") >= 0)
      .select("doc_id", "nb", "sq", "bucket").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    val batch = graft.queries.TextQueries
      .perpThresholdDocBuckets(spark, sf0001,
        graft.queries.TextQueries.PerpSampleMod,
        graft.queries.TextQueries.PerpSampleMax)
      .select("doc_id", "nb", "sq", "bucket").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    assert(streamed == batch,
      s"gate verdicts must equal the batch kernel (${streamed.size} vs ${batch.size})")
    // nothing vanishes: unscorable docs surface with bucket = -1
    assert(verdicts(spark, out).count() == docs.length)
  }

  test("streaming line dedup: out-of-order arrival keeps arrival-first and flags") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import StreamingLineDedup._
    val stream = MemoryStream[Doc]
    val out = verdicts(stream.toDS())
    val query = out.writeStream
      .format("memory").queryName("slinelate").outputMode("append").start()
    try {
      // doc 9 arrives before doc 2 with identical content: arrival-first
      // (doc 9) keeps the line; doc 2's later arrival has LOWER rank —
      // it must flag outOfOrder, not silently re-claim
      stream.addData(Doc(9, "alpha beta gamma")); query.processAllAvailable()
      stream.addData(Doc(2, "alpha beta gamma")); query.processAllAvailable()
      val vs = spark.table("slinelate").as[LineVerdict].collect()
        .map(v => v.docId -> v).toMap
      assert(vs(9L).kept && !vs(9L).outOfOrder)
      assert(!vs(2L).kept, "arrival-first semantics: later arrival drops")
      assert(vs(2L).outOfOrder, "lower-rank late arrival must flag for re-dedup")
      assert(vs(2L).firstRk == 9L * 1000000L, "stored first must be untouched")
    } finally query.stop()
  }
}
