package graft

import graft.chain._
import graft.functions.{CryptoFunctions, SkewFunctions}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files

/** Golden replay through the file source (the reference's
  * StreamSchedulerSpec shape: canned blocks → full pipeline → end-state
  * assertions) plus skew-handling and register-parser checks.
  */
class ReplayAndSkewSpec extends AnyFunSuite {
  import TestSpark._

  test("golden replay: json-lines file source → derivation → exact end state") {
    import spark.implicits._
    val n = 64
    val dir = Files.createTempDirectory("graft-replay").toString + "/blocks"
    BlockSource.writeJsonLines(spark.createDataset(ChainFixture.generate(n)), dir)

    val replayed = BlockSource.fromJsonLines(spark, dir)
    assert(replayed.count() == n)
    val t = BlockDerivation.derive(replayed)
    // end-state assertions à la StreamSchedulerSpec: tip height, no gaps,
    // utxo cardinality matches the in-memory derivation exactly
    assert(t.blocks.agg(max("height")).head.getInt(0) == n)
    assert(UtxoQueries.missingHeights(t, n).count() == 0)
    val direct = BlockDerivation.derive(spark.createDataset(ChainFixture.generate(n)))
    assert(UtxoQueries.utxos(t).count() == UtxoQueries.utxos(direct).count())
    assert(t.outputs.count() == direct.outputs.count())

    // height offset pushes into the source
    assert(BlockSource.fromJsonLines(spark, dir, fromHeight = 33).count() == 32)
  }

  test("register parser round-trips sigma primitive encodings") {
    assert(RegisterParser.parse(RegisterParser.encodeInt(2)) ==
      RegisterParser.ParsedRegister("SInt", "2"))
    assert(RegisterParser.parse(RegisterParser.encodeInt(-300)) ==
      RegisterParser.ParsedRegister("SInt", "-300"))
    assert(RegisterParser.parse(RegisterParser.encodeLong(1234567890123L)) ==
      RegisterParser.ParsedRegister("SLong", "1234567890123"))
    val coll = RegisterParser.parse(RegisterParser.encodeUtf8("token42"))
    assert(coll.sigmaType == "Coll[SByte]")
    assert(RegisterParser.renderUtf8(RegisterParser.encodeUtf8("token42")).contains("token42"))
    // opaque passthrough for unknown type tags / garbage
    assert(RegisterParser.parse("ff00").sigmaType == "SUnparsed")
    assert(RegisterParser.parse("zz").sigmaType == "SUnparsed")
  }

  test("minted token props flow through the sigma parser in the pipeline") {
    import spark.implicits._
    val t = BlockDerivation.derive(spark.createDataset(ChainFixture.generate(40)))
    val minted = t.assets.filter(col("minted")).select("tokenName", "tokenDecimals").collect()
    assert(minted.nonEmpty)
    minted.foreach { r =>
      assert(r.getString(0).startsWith("token"))
      assert(r.getInt(1) == 2)
    }
  }

  test("salted aggregation matches plain aggregation under a hot key") {
    import spark.implicits._
    // 100k rows, 90% on one hot key (the supernode shape)
    val df = spark.range(100000)
      .select(when(col("id") % 10 =!= 0, "hotkey")
        .otherwise(concat(lit("k"), col("id"))).as("k"),
        (col("id") % 97).cast("double").as("v"))
    val plain = df.groupBy("k").agg(sum("v").as("s"), count(lit(1)).as("c"))
      .orderBy(desc("c"), asc("k")).limit(5)
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getLong(2)))
    val salted = SkewFunctions.saltedSum(df, "k", "v", salts = 16)
      .orderBy(desc("count"), asc("k")).limit(5)
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getLong(2)))
    assert(plain.toSeq == salted.toSeq)

    val topk = SkewFunctions.saltedTopKByCount(df, "k", 1).collect()
    assert(topk(0).getString(0) == "hotkey" && topk(0).getLong(1) == 90000L)
  }

  test("hot-key stats flag only keys above the op threshold") {
    import spark.implicits._
    val changes = (Seq.fill(600)("whale") ++ Seq.fill(100)("minnow"))
      .zipWithIndex
      .map { case (k, i) => (k, if (i % 3 == 0) "remove" else "add") }
      .toDF("key", "op")
    val hot = SkewFunctions.hotKeyStats(changes, "key", threshold = 500).collect()
    assert(hot.length == 1 && hot(0).getString(0) == "whale")
    assert(hot(0).getAs[Long]("added") + hot(0).getAs[Long]("removed") == 600)
  }

  test("sigma type strings parse and render round-trip") {
    import graft.functions.SigmaTypes
    val cases = Seq(
      "SInt", "Coll[SByte]", "Option[SLong]", "Coll[Coll[SByte]]",
      "(SInt, SLong)", "Coll[(SInt, Option[SLong])]", "(SByte, SByte, SBoolean)")
    cases.foreach { s =>
      val parsed = SigmaTypes.parse(s)
      assert(parsed.isDefined, s"failed to parse $s")
      assert(parsed.get.render == s, s"round-trip broke: $s -> ${parsed.get.render}")
    }
    Seq("Coll[", "SFoo", "Coll[SByte", "(SInt,)", "", "Coll[SByte]]").foreach { bad =>
      assert(graft.functions.SigmaTypes.parse(bad).isEmpty, s"should reject: $bad")
    }
  }

  test("token-name UTF-8 heuristic rejects binary payloads") {
    // real text renders; raw binary (invalid utf-8 continuation bytes) → None
    assert(RegisterParser.renderUtf8(RegisterParser.encodeUtf8("My Token")).contains("My Token"))
    val binaryColl = "0e" + "04" + "fffefdfc" // coll of 4 invalid-utf8 bytes
    assert(RegisterParser.renderUtf8(binaryColl).isEmpty)
  }

  test("hot-list salting matches plain aggregation and loads from file") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-hotkeys").toString + "/keys"
    spark.createDataset(Seq("hotkey")).write.text(dir)
    val hot = SkewFunctions.loadHotKeys(spark, dir)
    assert(hot == Set("hotkey"))
    val df = spark.range(20000)
      .select(when(col("id") % 10 =!= 0, "hotkey")
        .otherwise(concat(lit("k"), col("id"))).as("k"),
        (col("id") % 7).cast("double").as("v"))
    val plain = df.groupBy("k").agg(sum("v").as("s")).filter(col("k") === "hotkey")
      .head.getDouble(1)
    val salted = SkewFunctions.saltedSumWithHotList(df, "k", "v", hot)
      .filter(col("k") === "hotkey").head.getAs[Double]("sum_v")
    assert(plain == salted)
  }

  test("ingest learns hot keys online, the list survives a restart and drives salting") {
    import spark.implicits._
    import graft.streaming.ChainIngest
    val wh = Files.createTempDirectory("graft-hotlearn").toString + "/warehouse"
    // low threshold so the 60-block fixture's fee contract crosses it;
    // compactEvery=2 so 3 batches force a counter CONSOLIDATION (deltas
    // folded into a base) mid-run — totals must survive it
    val ing = new ChainIngest(wh, hotKeyThreshold = 10, compactEvery = 2)
    // the 60-block trunk is ChainFixture.generate(60); its two branches
    // arrive later as one fork batch
    val (forked, _) = ChainFixture.generateWithFork(forkAt = 60, shortLen = 2, longLen = 3)
    val all = forked.filter(_.header.height <= 60)
    all.grouped(20).zipWithIndex.foreach { case (b, i) =>
      ing.processBatch(spark.createDataset(b), i.toLong)
    }
    val learned = ing.learnedHotKeys(spark)
    assert(learned.nonEmpty, "the fee contract must cross the op threshold")
    // counters fold EVERY batch: totals equal the whole fixture's activity
    val t = BlockDerivation.derive(spark.createDataset(all))
    val feeHash = t.outputs
      .filter(col("ergoTree") === ChainFixture.FeeTree)
      .select("ergoTreeHash").head.getString(0)
    assert(learned.contains(feeHash), "the planted heavy hitter is the fee script")

    // consolidation must not lose counts: every box creation is counted
    // at least once across the folded base + live deltas
    val totalOps = ing.scriptOpCounts(spark)
      .agg(sum("ops")).head.getLong(0)
    assert(totalOps >= t.outputs.count(), "consolidated counters lost ops")

    // a fork batch is not counted: the counters and the list stay as learned
    def counts() = ing.scriptOpCounts(spark).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val learnedCounts = counts()
    ing.processBatch(spark.createDataset(forked.filter(_.header.height > 60)), 3L)
    assert(counts() == learnedCounts, "a fork batch changed the op counters")

    // RESTART: a fresh instance over the same warehouse loads the same list
    // from storage (the reference persists its learned list the same way)
    val restarted = new ChainIngest(wh, hotKeyThreshold = 10)
    assert(restarted.learnedHotKeys(spark) == learned)

    // the learned list CHANGES the salting of a skewed replay: the learned
    // key fans across >1 salt partial, unlearned keys keep exactly one
    val skewed = spark.range(20000)
      .select(when(col("id") % 10 =!= 0, lit(feeHash))
        .otherwise(concat(lit("k"), col("id"))).as("ergoTreeHash"))
      .repartition(8)
    def saltSpread(hot: Set[String]): Long = skewed
      .withColumn("_salt", if (hot.isEmpty) lit(0L)
        else when(col("ergoTreeHash").isin(hot.toSeq: _*),
          pmod(xxhash64(col("ergoTreeHash"), spark_partition_id()), lit(16)))
          .otherwise(0L))
      .groupBy("ergoTreeHash").agg(countDistinct("_salt").as("nSalts"))
      .filter(col("ergoTreeHash") === feeHash).head.getLong(1)
    assert(saltSpread(Set.empty) == 1, "unlearned: one reducer eats the hot key")
    assert(saltSpread(learned) > 1, "learned-hot key must spread across salt partials")
    val live = restarted.utxo(spark)
    // and the salted roll-up stays correct: equals the plain aggregation
    val plain = live.groupBy("ergoTreeHash")
      .agg(sum("ergValue").as("v"), count(lit(1)).as("c"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    val salted = restarted.utxoByScript(spark)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(plain == salted)
  }

  test("misra-gries sketch keeps every item above N/(k+1) with bounded undercount") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // skewed stream: item i appears 2^(10-i) times, i = 0..9, plus 1000
    // singleton ids — 2023 items total, far more distinct keys than counters.
    val skewed = (0 until 10).flatMap(i => Seq.fill(1 << (10 - i))(s"hot$i")) ++
      (0 until 1000).map(i => s"cold$i")
    val n = skewed.size.toLong
    val k = 8
    val ds = spark.createDataset(skewed).repartition(7) // force partial merges
    val sketch = ds.select(new graft.functions.FrequentItemsAggregator(k).toColumn)
      .head()
    val exact = skewed.groupBy(identity).map { case (x, xs) => x -> xs.size.toLong }
    val bar = n / (k + 1)
    exact.filter(_._2 > bar).foreach { case (x, c) =>
      assert(sketch.contains(x), s"$x (count $c > $bar) missing from sketch")
      assert(sketch(x) <= c, s"sketch must never overcount: $x ${sketch(x)} > $c")
      assert(sketch(x) >= c - bar, s"undercount bound violated for $x")
    }
    assert(sketch.size <= k, s"sketch exceeded $k counters: ${sketch.size}")
    // the q81 two-phase pipeline returns exactly the above-bar scripts
    val q81 = graft.queries.ChainQueries.queries("q81_hot_scripts_sketch")(spark, "")
    assert(q81.count() >= 1, "the fee contract must be detected as hot")
  }

  test("2-hop graph traversal finds paths through intermediate scripts") {
    import spark.implicits._
    val t = BlockDerivation.derive(spark.createDataset(ChainFixture.generate(60)))
    val edges = GraphEdges.txEdges(t, dust = 1000000L)
    val someScript = edges.groupBy("ergoTreeHash").count()
      .orderBy(desc("count")).head.getString(0)
    val hop2 = GraphEdges.twoHop(edges, someScript)
    assert(hop2.count() > 0, "busiest script should reach 2-hop neighbours")
    assert(hop2.filter(col("ergoTreeHash") === someScript).count() == 0,
      "origin must not appear in its own 2-hop frontier")
  }

  test("P13 validation columns accept domain ids and reject malformed input") {
    import spark.implicits._
    val df = Seq(
      ("deadbeef", true), ("DEADBEEF", false), ("abc", false), ("", false),
      ("0008cd" + "a" * 26, true)).toDF("s", "expectHex")
    val wrong = df.filter(CryptoFunctions.isHexString(col("s")) =!= col("expectHex")).count()
    assert(wrong == 0)
    val b58 = Seq(("2NEpo7TZRRrLZSi2U", true), ("0OIl", false), ("", false))
      .toDF("s", "expect")
    assert(b58.filter(CryptoFunctions.isBase58(col("s")) =!= col("expect")).count() == 0)
  }
}
