package graft

import graft.chain._
import graft.streaming.ChainIngest
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Paths}
import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

/** End-to-end facade test: the reference-user workflow (backfill → query
  * surface) through GraftEngine, plus the crash-heal integrity path.
  */
class EngineSpec extends AnyFunSuite {
  import TestSpark._

  private val n = 50

  /** A warehouse backfilled with the `n`-block fixture, shared read-only. */
  private lazy val backfilled: String = {
    import spark.implicits._
    val base = Files.createTempDirectory("graft-engine").toString
    BlockSource.writeJsonLines(
      spark.createDataset(ChainFixture.generate(n)), s"$base/blocks")
    new GraftEngine(spark, s"$base/warehouse").backfill(s"$base/blocks")
    s"$base/warehouse"
  }

  /** Spark jobs that `f` submits from this thread. They run under a job
    * group of their own; a marker job submitted after `f` bounds the wait
    * for the listener bus, which delivers job starts in submission order.
    */
  private def jobsIn(f: => Unit): Int = {
    val sc = spark.sparkContext
    val group = s"counted-${java.util.UUID.randomUUID}"
    val marker = s"$group-marker"
    val jobs = new AtomicInteger
    val markerSeen = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")).foreach { g =>
          if (g == group) jobs.incrementAndGet()
          else if (g == marker) markerSeen.countDown()
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "counted")
      f
      sc.setJobGroup(marker, "listener-bus marker")
      sc.parallelize(Seq(1), 1).count()
      assert(markerSeen.await(30, TimeUnit.SECONDS), "listener bus did not drain in 30 s")
      jobs.get
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  /** An engine's answers for these ids: each block by id, the boxes by id
    * in two modes, and the last five blocks.
    */
  private def answers(e: GraftEngine, blockIds: Seq[String],
    boxIds: Seq[String]): Seq[Seq[Row]] = {
    def rows(df: DataFrame) = df.collect().toSeq.sortBy(_.toString)
    blockIds.map(id => rows(e.blockById(id))) ++ Seq(
      rows(e.boxesByIds(UtxoQueries.Any, boxIds)),
      rows(e.boxesByIds(UtxoQueries.Unspent, boxIds)),
      e.lastBlocks(5).collect().toSeq)
  }

  test("backfill then serve the full query surface through the facade") {
    import spark.implicits._
    val engine = new GraftEngine(spark, backfilled)

    val direct = BlockDerivation.derive(spark.createDataset(ChainFixture.generate(n)))
    assert(engine.utxos.count() == UtxoQueries.utxos(direct).count())
    assert(engine.lastBlocks(5).collect().map(_.getAs[Int]("height")).toSeq ==
      Seq(n, n - 1, n - 2, n - 3, n - 4))
    assert(engine.missingHeights(n).count() == 0)
    assert(engine.topAddressesByValue(3).count() == 3)
    assert(engine.epochRollup.count() == 1) // 50 blocks < one 1024 epoch
    assert(engine.txEdges.count() > 0)

    // box matrix through the facade: pick a real address, flagship query
    val addr = engine.tables.ergoTrees.orderBy("hash").limit(1)
      .select("address").head.getString(0)
    val unspent = engine.boxesByAddress(UtxoQueries.Unspent, addr).count()
    val spent = engine.boxesByAddress(UtxoQueries.Spent, addr).count()
    val any = engine.boxesByAddress(UtxoQueries.Any, addr).count()
    assert(unspent + spent == any && any > 0)

    // the same box matrix through the SQL surface: registered views + plain
    // SQL strings must agree with the Scala facade exactly
    engine.registerViews()
    def sqlCount(q: String): Long = spark.sql(q).count()
    def byAddrSql(view: String): Long = sqlCount(
      s"""SELECT b.* FROM $view b JOIN graft_ergo_trees d
          ON b.ergoTreeHash = d.hash WHERE d.address = '$addr'""")
    assert(byAddrSql("graft_utxo") == unspent)
    assert(byAddrSql("graft_spent_boxes") == spent)
    assert(byAddrSql("graft_outputs") == any)
    val hash = engine.tables.ergoTrees.filter(col("address") === addr)
      .select("hash").head.getString(0)
    assert(sqlCount(s"SELECT * FROM graft_utxo WHERE ergoTreeHash = '$hash'") ==
      engine.boxesByErgoTreeHash(UtxoQueries.Unspent, hash).count())
    val tok = engine.tables.assets.select("tokenId").head.getString(0)
    assert(sqlCount(
      s"""SELECT b.* FROM graft_utxo b WHERE EXISTS
          (SELECT 1 FROM graft_assets a
           WHERE a.boxId = b.boxId AND a.tokenId = '$tok')""") ==
      engine.boxesByTokenId(UtxoQueries.Unspent, tok).count())
    val someBox = engine.tables.outputs.select("boxId").head.getString(0)
    assert(sqlCount(s"SELECT * FROM graft_outputs WHERE boxId = '$someBox'") ==
      engine.boxesByIds(UtxoQueries.Any, Seq(someBox)).count())

    // beyond-parity analytics over the PARQUET warehouse (not the cached
    // fixture): clusters cover every script, ledger ties to the live UTXO,
    // flows and the hot-script sketch return non-trivial results
    val clusters = engine.addressClusters
    assert(clusters.count() ==
      engine.tables.outputs.select("ergoTreeHash").distinct().count())
    val lastBal = engine.balanceHistory.groupBy("ergoTreeHash")
      .agg(max_by(col("balance"), col("height")).as("b"))
      .agg(sum("b")).head.getLong(0)
    val liveTotal = engine.utxos.agg(sum("ergValue")).head.getLong(0)
    assert(lastBal == liveTotal, "ledger tips must sum to the live UTXO value")
    assert(engine.richListAt(n, 5).count() == 5)
    assert(engine.flows(dust = 1000000L).count() > 0)
    assert(engine.hotScripts(8).count() >= 1)
    assert(engine.tokenHolders().count() > 0)

    // BlockService lookups: by one id, by an id set, miss → empty
    val tipRow = engine.lastBlocks(2).select("blockId").collect().map(_.getString(0))
    assert(engine.blockById(tipRow.head).count() == 1)
    assert(engine.blocksByIds(tipRow.toSeq).count() == 2)
    assert(engine.blockById("no-such-block").count() == 0)

    // velocity + age analytics over the warehouse
    assert(engine.coinBlocksDestroyed.agg(sum("nSpends")).head.getLong(0) ==
      engine.tables.inputs.count(), "every spend is aged exactly once")
    val ageBoxes = engine.utxoAgeDistribution().agg(sum("nBoxes")).head.getLong(0)
    assert(ageBoxes == engine.utxos.count(), "age buckets partition the UTXO set")

    // PageRank is a probability distribution over every script
    val prSum = engine.scriptPageRank().agg(sum("pagerank")).head.getDouble(0)
    assert(math.abs(prSum - 1.0) < 1e-3, s"pagerank mass $prSum must be ~1")
  }

  test("a new engine's first lookup runs one Spark job: no read infers a schema") {
    val tipId = new GraftEngine(spark, backfilled).lastBlocks(1)
      .select("blockId").head.getString(0)
    val engine = new GraftEngine(spark, backfilled)
    val jobs = jobsIn {
      engine.tables
      assert(engine.blockById(tipId).collect().length == 1)
    }
    assert(jobs == 1, s"a new engine's tables + blockById submitted $jobs jobs; no read may infer")
  }

  test("a long-lived engine answers like a new one across an append and a fork; heal unchanged") {
    import spark.implicits._
    val (all, winnerIds) = ChainFixture.generateWithFork(forkAt = 20, shortLen = 2, longLen = 4)
    val trunk = all.filter(_.header.height <= 20)
    val loser = all.filter(b => b.header.height > 20 && !winnerIds.contains(b.header.id))
    val winner = all.filter(b => winnerIds.contains(b.header.id))
    val wh = Files.createTempDirectory("graft-engine-ryw").toString + "/warehouse"
    val writer = new ChainIngest(wh)
    writer.processBatch(spark.createDataset(trunk), 0L)

    val engine = new GraftEngine(spark, wh)
    val blockIds = Seq(trunk.last, loser.last, winner.last).map(_.header.id)
    val boxIds = all.filter(_.header.height >= 19)
      .flatMap(_.transactions.transactions.flatMap(_.outputs.map(_.boxId)))
    def agrees(): Seq[Seq[Row]] = {
      val got = answers(engine, blockIds, boxIds)
      assert(got == answers(new GraftEngine(spark, wh), blockIds, boxIds),
        "the long-lived engine must answer exactly as a new engine does")
      got
    }
    assert(agrees().head.size == 1)

    writer.processBatch(spark.createDataset(loser), 1L) // append
    val afterAppend = agrees()
    assert(afterAppend(1).size == 1, "the appended losing tip must be visible")
    assert(afterAppend(3).nonEmpty)

    // fork: the default 10000-height bucket puts the whole chain in one
    // bucket, so dropBucketsFrom deletes and rewrites every table's dir
    writer.processBatch(spark.createDataset(winner), 2L)
    val afterFork = agrees()
    assert(afterFork(1).isEmpty, "the losing tip must be gone after the fork")
    assert(afterFork(2).size == 1, "the winning tip must be visible after the fork")
    assert(afterFork.last.map(_.getAs[Int]("height")) == (24 to 20 by -1))

    // heal through the long-lived engine: a table root with no part files
    // reads as tip -1 and is rebuilt ...
    ChainIngest.rmTree(s"$wh/txs")
    Files.createDirectories(Paths.get(s"$wh/txs"))
    assert(engine.tables.txs.count() == 0)
    assert(engine.heal(), "an empty txs root must read as tip -1 and trigger healing")
    assert(agrees() == afterFork)
    assert(engine.tables.txs.count() ==
      BlockDerivation.derive(spark.createDataset(trunk ++ winner)).txs.count())

    // ... and a genuine read failure propagates instead of reading as empty
    val part = {
      val w = Files.walk(Paths.get(s"$wh/outputs"))
      try w.toArray.map(_.toString).filter(_.endsWith(".parquet")).head
      finally w.close()
    }
    Files.write(Paths.get(part), "not a parquet file".getBytes)
    intercept[org.apache.spark.SparkException](engine.heal())
  }

  /** Janino compiles of generated classes while `f` runs, JVM-wide. */
  private def compilesIn(f: => Unit): Long = {
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    f
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
  }

  test("tip batches run interpreted: few compiles per append and fork; the caller's confs survive") {
    import spark.implicits._
    val (all, winnerIds) = ChainFixture.generateWithFork(forkAt = 20, shortLen = 4, longLen = 6)
    val trunk = all.filter(_.header.height <= 20)
    val loser = all.filter(b => b.header.height > 20 && !winnerIds.contains(b.header.id))
    val winner = all.filter(b => winnerIds.contains(b.header.id))
    val wh = Files.createTempDirectory("graft-interp").toString + "/warehouse"
    val ingest = new ChainIngest(wh)
    val keys = Seq("spark.sql.codegen.wholeStage", "spark.sql.codegen.factoryMode")
    def codegenConfs = keys.map(spark.conf.getAll.get)
    spark.conf.set(keys.head, "true") // one key set, the other unset
    try {
      val prior = codegenConfs
      ingest.processBatch(spark.createDataset(trunk), 0L)
      val appends = loser.zipWithIndex.map { case (b, i) =>
        compilesIn(ingest.processBatch(spark.createDataset(Seq(b)), i + 1L))
      }
      val fork = compilesIn(ingest.processBatch(spark.createDataset(winner), 9L))
      info(s"compiles per 1-block append: ${appends.mkString(", ")}; fork batch: $fork")
      // compiled, each 1-block append compiled ~200 classes and the fork ~275
      assert(appends.drop(2).forall(_ <= 10),
        s"1-block appends compiled ${appends.mkString(", ")} classes")
      assert(fork <= 40, s"the fork batch compiled $fork classes")
      assert(codegenConfs == prior)
      assert(ingest.blocks(spark).select("blockId").as[String].collect().toSet ==
        (trunk ++ winner).map(_.header.id).toSet)

      val file = Files.createTempFile("graft-interp", ".not-a-dir")
      intercept[Exception](new ChainIngest(s"$file/warehouse")
        .processBatch(spark.createDataset(trunk.take(1)), 0L))
      assert(codegenConfs == prior, "a failed batch must restore the confs too")
    } finally spark.conf.unset(keys.head)
  }

  test("a new engine serves every lookup on a chain whose sparse tables hold no rows") {
    import spark.implicits._
    val chain = ChainFixture.generate(5).map(b => b.copy(transactions =
      b.transactions.copy(transactions = b.transactions.transactions.map(tx =>
        tx.copy(dataInputs = Nil, outputs = tx.outputs.map(o =>
          o.copy(assets = Nil, additionalRegisters = Map.empty)))))))
    val wh = Files.createTempDirectory("graft-sparse").toString + "/warehouse"
    new ChainIngest(wh).processBatch(spark.createDataset(chain), 0L)
    def parquetFiles(table: String): Int = {
      val w = Files.walk(Paths.get(s"$wh/$table"))
      try w.toArray.count(_.toString.endsWith(".parquet")) finally w.close()
    }
    Seq("tokens", "registers", "data_inputs", "assets").foreach(t =>
      assert(parquetFiles(t) == 0, s"$t must hold no part file on this chain"))

    val engine = new GraftEngine(spark, wh)
    val tip = chain.last.header.id
    val outs = chain.flatMap(_.transactions.transactions.flatMap(_.outputs))
    val spent = chain.flatMap(_.transactions.transactions.flatMap(_.inputs.map(_.boxId))).toSet
    val boxIds = outs.map(_.boxId)
    val tree = outs.head.ergoTree
    val hash = engine.tables.outputs.filter(col("boxId") === outs.head.boxId)
      .select("ergoTreeHash").head.getString(0)
    val address = engine.tables.ergoTrees.filter(col("hash") === hash)
      .select("address").head.getString(0)
    assert(engine.blockById(tip).count() == 1)
    assert(engine.blocksByIds(chain.map(_.header.id)).count() == 5)
    assert(engine.boxesByIds(UtxoQueries.Any, boxIds).count() == boxIds.size)
    assert(engine.boxesByIds(UtxoQueries.Unspent, boxIds).count() ==
      boxIds.count(id => !spent.contains(id)))
    val byTree = outs.count(_.ergoTree == tree)
    assert(engine.boxesByAddress(UtxoQueries.Any, address).count() == byTree)
    assert(engine.boxesByErgoTreeHash(UtxoQueries.Any, hash).count() == byTree)
    assert(engine.boxesByTokenId(UtxoQueries.Any, "no-such-token").count() == 0)
    assert(engine.lastBlocks(5).count() == 5)
    assert(engine.topAddressesByValue(3).count() > 0)
    assert(engine.topAddressesByUtxoCount(3).count() > 0)
    assert(engine.epochRollup.count() == 1)
    assert(engine.blocksInRange(2, 4).count() == 3)
    assert(engine.tokenHolders().count() == 0)
    assert(!engine.heal())

    // a new instance derives the entity schemas cold, and that runs no job
    assert(jobsIn(new ChainIngest(backfilled).knownSchema("blocks")) == 0)
  }

  test("every stored table's files infer to its known schema, default and retain mode") {
    // a declared column missing from the files would read as silent nulls,
    // so the writers and knownSchema are checked against plain inference
    def hasParts(dir: String): Boolean = Files.exists(Paths.get(dir)) && {
      val w = Files.walk(Paths.get(dir))
      try w.anyMatch(_.toString.endsWith(".parquet")) finally w.close()
    }
    def versions(dir: String): Seq[String] =
      if (!Files.exists(Paths.get(dir))) Nil
      else new java.io.File(dir).list().toSeq.filter(_.matches("v=\\d+")).map(v => s"$dir/$v")
    val entities = Set("blocks", "txs", "outputs", "inputs", "assets", "data_inputs",
      "registers", "tokens")
    def checked(ing: ChainIngest, wh: String): Set[String] = {
      val stored = (entities ++ Seq("raw", "ergo_trees", "ergo_tree_t8s")).toSeq
        .map(t => t -> s"$wh/$t") ++
        versions(s"$wh/utxo/base").map("utxo/base" -> _) ++
        versions(s"$wh/utxo/delta").flatMap(v =>
          Seq("utxo/delta/adds" -> s"$v/adds", "utxo/delta/removes" -> s"$v/removes")) ++
        versions(s"$wh/hot_keys/base").map("hot_keys/base" -> _) ++
        versions(s"$wh/hot_keys/delta").map("hot_keys/delta" -> _)
      stored.filter { case (_, dir) => hasParts(dir) }.map { case (t, dir) =>
        assert(spark.read.parquet(dir).schema.catalogString ==
          ing.knownSchema(t).catalogString, s"$t at $dir")
        t
      }.toSet
    }
    val dims = Set("ergo_trees", "ergo_tree_t8s")
    val all = entities ++ dims ++ Set("raw", "utxo/base", "utxo/delta/adds",
      "utxo/delta/removes", "hot_keys/base", "hot_keys/delta")
    assert(checked(queries.ChainWarehouse.ensure(spark), queries.ChainWarehouse.Dir) == all)
    // the retain-mode fixture materializes no script dims and folds no
    // hot-key base in its three batches; neither schema depends on the mode
    val retain = queries.ForkReplay.ensureRetain(spark)
    assert(retain.retainLosers)
    assert(checked(retain, queries.ForkReplay.RetainDir) == all -- dims - "hot_keys/base")
  }

  test("persistent catalog: a SECOND session queries warehouse and corpus by name") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft-catalog").toString
    val engine = new GraftEngine(spark, s"$base/warehouse")
    engine.ingest.processBatch(
      spark.createDataset(ChainFixture.generate(30)), 0L)
    engine.registerCatalog(prefix = "cat_")
    queries.CorpusSurface.mountCatalog(spark, sf0001, prefix = "ccat_")

    // a FRESH session (no temp views, no Scala mounts, no memos) — the
    // catalog alone must resolve every table/view by name
    val s2 = spark.newSession()
    assert(s2.catalog.tableExists("cat_blocks"))
    // external entity table == facade
    assert(s2.sql("SELECT count(*) FROM cat_blocks").head.getLong(0) ==
      engine.tables.blocks.count())
    // catalog VIEW over external tables (always fresh)
    assert(s2.sql("SELECT count(*) FROM cat_utxo_live").head.getLong(0) ==
      engine.utxos.count())
    // the MVCC pin as a catalog view over the manifest == the Scala frame,
    // value-for-value (hash of the sorted box set, not just the count)
    val viaSql = s2.sql(
      "SELECT boxId, ergValue FROM cat_utxo ORDER BY boxId")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    val viaScala = engine.utxos.select("boxId", "ergValue").orderBy("boxId")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(viaSql == viaScala)
    // snapshot dims
    assert(s2.sql("SELECT count(*) FROM cat_ergo_trees").head.getLong(0) ==
      engine.tables.ergoTrees.count())
    assert(s2.sql("SELECT count(*) FROM cat_tx_edges").head.getLong(0) ==
      engine.txEdges.count())

    // corpus twin: the snapshot verdict tables equal the batch operators
    val cleanSql = s2.sql(
      "SELECT doc_id, keep, reason FROM ccat_clean ORDER BY doc_id")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSeq
    val cleanScala = SparkEntry.queries("q108_clean_export")(spark, sf0001)
      .collect().map(r => (r.getAs[Long]("doc_id"),
        r.getAs[Int]("keep"), r.getAs[String]("reason"))).toSeq
    assert(cleanSql == cleanScala)
    assert(s2.sql("SELECT count(*) FROM ccat_documents").head.getLong(0) ==
      Tables.load(spark, sf0001, "documents").count())
    // the pin advances on re-registration after further ingest
    engine.ingest.processBatch(
      spark.createDataset(ChainFixture.generate(40).drop(30)), 1L)
    engine.registerCatalog(prefix = "cat_")
    assert(s2.sql("SELECT count(*) FROM cat_blocks").head.getLong(0) == 40L)
    assert(s2.sql("SELECT count(*) FROM cat_utxo").head.getLong(0) ==
      engine.utxos.count())
  }

  test("catalog staleness stamp: refresh only when the warehouse advanced, snapshots GC'd") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft-catalog-stale").toString
    val engine = new GraftEngine(spark, s"$base/warehouse")
    val all = ChainFixture.generate(30)
    engine.ingest.processBatch(spark.createDataset(all.take(20)), 0L)
    engine.registerCatalog(prefix = "scat_")
    val v0 = engine.catalogVersion("scat_")
    assert(v0.isDefined, "registered catalog must carry the version stamp")
    assert(!engine.refreshCatalog("scat_"),
      "refresh at an unchanged warehouse version must be a no-op")
    // further ingest: the STAMP exposes the staleness before any refresh
    engine.ingest.processBatch(spark.createDataset(all.drop(20)), 1L)
    assert(engine.catalogVersion("scat_") == v0,
      "pinned views must keep their registration-time stamp")
    assert(engine.ingest.currentUtxoVersion().exists(c => !v0.contains(c)),
      "warehouse version must have advanced past the stamp")
    val stale = spark.sql("SELECT count(*) FROM scat_ergo_trees").head.getLong(0)
    assert(engine.refreshCatalog("scat_"),
      "refresh at an advanced warehouse version must re-register")
    assert(engine.catalogVersion("scat_")
      .zip(v0).exists { case (a, b) => a > b })
    // refreshed snapshot equals a fresh derivation, value-for-value
    val viaSql = spark.sql("SELECT hash FROM scat_ergo_trees ORDER BY hash")
      .collect().map(_.getString(0)).toSeq
    val viaScala = engine.tables.ergoTrees.select("hash").orderBy("hash")
      .collect().map(_.getString(0)).toSeq
    assert(viaSql == viaScala)
    assert(viaSql.size >= stale, "the refresh must see the new ingest")
    assert(!engine.refreshCatalog("scat_"), "second refresh must be a no-op")
    // versioned snapshot GC: current + one previous dir retained, no more
    engine.ingest.processBatch(
      spark.createDataset(ChainFixture.generate(35).drop(30)), 2L)
    assert(engine.refreshCatalog("scat_"))
    // r10: roots are prefix-scoped — two prefixes never share a v= chain
    val vs = new java.io.File(s"$base/warehouse/_catalog/scat_ergo_trees")
      .list().toSeq.filter(_.startsWith("v=")).sorted
    assert(vs.size == 2, s"expected current+previous snapshot dirs, got $vs")
  }

  test("catalog registration survives an ingest commit landing mid-registration") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft-catalog-race").toString
    val engine = new GraftEngine(spark, s"$base/warehouse")
    val all = ChainFixture.generate(40)
    engine.ingest.processBatch(spark.createDataset(all.take(20)), 0L)

    // scenario 1: ONE commit lands between the version pre-read and the
    // snapshot writes — registration must detect the advance and re-run
    // the pass, so the stamp matches the (post-commit) snapshot content
    // and refreshCatalog sees a FRESH catalog, not an undetectably stale
    // one (r09 VERDICT #5: a stamp read before materialization made the
    // stamp an UPPER bound; refreshCatalog then refused to refresh until
    // the commit after next).
    var fired = false
    engine.midRegistrationHook = () => if (!fired) {
      fired = true
      engine.ingest.processBatch(spark.createDataset(all.slice(20, 30)), 1L)
    }
    engine.registerCatalog(prefix = "rcat_")
    engine.midRegistrationHook = () => ()
    assert(fired, "the race hook must have interleaved a commit")
    assert(engine.catalogVersion("rcat_") == engine.ingest.currentUtxoVersion(),
      "stamp must match the warehouse version the snapshots were built at")
    assert(!engine.refreshCatalog("rcat_"),
      "registration re-ran against the interleaved commit — nothing stale")
    // the snapshots really contain the mid-registration commit's data
    assert(spark.sql("SELECT count(*) FROM rcat_ergo_trees").head.getLong(0) ==
      engine.tables.ergoTrees.count())

    // scenario 2: a commit lands on EVERY pass (continuous ingest) — the
    // bounded retry bails with its pre-read stamp, a LOWER bound on the
    // snapshot content, so refreshCatalog still DETECTS the staleness
    // (one redundant refresh, never an undetected stale catalog).
    var batch = 2L
    var from = 30
    engine.midRegistrationHook = () => if (from < 40) {
      engine.ingest.processBatch(
        spark.createDataset(all.slice(from, from + 3)), batch)
      from += 3; batch += 1
    }
    engine.registerCatalog(prefix = "rcat_")
    engine.midRegistrationHook = () => ()
    assert(engine.refreshCatalog("rcat_"),
      "a lower-bound stamp must still surface as refreshable staleness")
    assert(!engine.refreshCatalog("rcat_"))
  }

  test("heal detects a crash between raw append and derivation and repairs it") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft-heal").toString
    val engine = new GraftEngine(spark, s"$base/warehouse")
    val all = ChainFixture.generate(30)
    engine.ingest.processBatch(spark.createDataset(all.take(20)), 0L)
    assert(!engine.heal(), "consistent state must not trigger healing")

    // simulate the crash: raw gets the last 10 blocks, entities don't
    spark.createDataset(all.drop(20)).toDF()
      .write.mode("append").parquet(s"$base/warehouse/raw")
    assert(engine.heal(), "raw ahead of tables must trigger healing")

    val blocks = engine.ingest.blocks(spark)
    assert(blocks.count() == 30)
    val expected = UtxoQueries.utxos(
      BlockDerivation.derive(spark.createDataset(all)))
      .select("boxId").collect().map(_.getString(0)).toSet
    val got = engine.utxos.select("boxId").collect().map(_.getString(0)).toSet
    assert(got == expected)
  }

  test("claimVersion: atomic-rename arbiter — winner claims, loser adopts") {
    // r10 ADVICE: two APPLICATIONS sharing one snapshot root race past
    // JVM-local locks; the v= claim must be an atomic rename. This pins the
    // arbiter's mechanics directly (an in-process race cannot reach the
    // window — the per-root lock serializes it).
    val hconf = spark.sessionState.newHadoopConf()
    val root = new org.apache.hadoop.fs.Path(
      Files.createTempDirectory("graft-claim").toString)
    val fs = root.getFileSystem(hconf)

    def writeDir(p: org.apache.hadoop.fs.Path, marker: String): Unit = {
      fs.mkdirs(p)
      val out = fs.create(new org.apache.hadoop.fs.Path(p, marker), true)
      try out.write(1) finally out.close()
    }

    // winner path: temp renames into v=0, temp gone, content carried over
    val tmp1 = new org.apache.hadoop.fs.Path(root, ".tmp-a")
    writeDir(tmp1, "mine.parquet")
    val (p1, won1) = GraftEngine.claimVersion(fs, root, tmp1, 0L)
    assert(won1 && p1.getName == "v=0")
    assert(!fs.exists(tmp1))
    assert(fs.exists(new org.apache.hadoop.fs.Path(p1, "mine.parquet")))

    // loser path: v=1 already exists (the other application won) — our
    // temp is dropped wherever it landed, the WINNER's dir is adopted and
    // its bytes are untouched
    val winner = new org.apache.hadoop.fs.Path(root, "v=1")
    writeDir(winner, "theirs.parquet")
    val tmp2 = new org.apache.hadoop.fs.Path(root, ".tmp-b")
    writeDir(tmp2, "mine2.parquet")
    val (p2, won2) = GraftEngine.claimVersion(fs, root, tmp2, 1L)
    assert(!won2 && p2.getName == "v=1")
    assert(!fs.exists(tmp2), "the loser's temp must be cleaned up")
    assert(!fs.exists(new org.apache.hadoop.fs.Path(winner, ".tmp-b")),
      "a nested rename-into-existing-dir must be cleaned up")
    assert(fs.exists(new org.apache.hadoop.fs.Path(winner, "theirs.parquet")),
      "the winner's snapshot must be untouched")
    assert(!fs.exists(new org.apache.hadoop.fs.Path(winner, "mine2.parquet")))
  }
}
