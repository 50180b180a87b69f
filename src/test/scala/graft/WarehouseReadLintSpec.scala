package graft

import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** Lint over the warehouse read and commit paths. Every parquet read in
  * the ingest, serve and fixture readers declares its table's schema
  * (`.read.schema(…).parquet(`, through `ChainIngest.read`): an inferring
  * `.read.parquet(` runs a footer job on every read and throws on a table
  * root that holds no part file yet. And `ChainIngest` lists warehouse dirs
  * in one place and publishes versions and markers in one place, so its
  * listing and its tmp-then-rename commit discipline cannot drift apart
  * between copies.
  */
class WarehouseReadLintSpec extends AnyFunSuite {

  private val readers = Seq("GraftEngine.scala", "streaming/ChainIngest.scala",
    "queries/ChainWarehouse.scala").map(f => Paths.get("src/main/scala/graft", f))

  /** `file:line: text` of each line that holds an inferring parquet read. */
  private def inferringReads(file: String, lines: Seq[String]): Seq[String] =
    lines.zipWithIndex.collect {
      case (l, i) if l.contains(".read.parquet(") => s"$file:${i + 1}: ${l.trim}"
    }

  test("the warehouse readers hold no inferring parquet read") {
    readers.foreach(f => assert(Files.exists(f), s"$f moved: update this lint"))
    val hits = readers.flatMap(f =>
      inferringReads(f.toString, Files.readAllLines(f).asScala.toSeq))
    assert(hits.isEmpty, hits.mkString("inferring reads:\n", "\n", ""))
  }

  /** Occurrences of `call` in `lines`. */
  private def count(lines: Seq[String], call: String): Int =
    lines.map(_.sliding(call.length).count(_ == call)).sum

  test("ChainIngest keeps one directory lister and one atomic publish") {
    val ingest = Paths.get("src/main/scala/graft/streaming/ChainIngest.scala")
    val lines = Files.readAllLines(ingest).asScala.toSeq
    Seq("Files.list(", "Files.move(").foreach { call =>
      val n = count(lines, call)
      assert(n <= 1, s"$ingest holds $n `$call` calls: list dirs through `ls` " +
        "and publish through `publish`")
    }
  }

  test("the call count sees every occurrence, also two on one line") {
    assert(count(Seq("Files.list(a); Files.list(b)", "x", "Files.move(c)"), "Files.list(") == 2)
    assert(count(Seq("Files.listing(a)"), "Files.list(") == 0)
  }

  test("the lint flags an inferring read and passes a declared one") {
    assert(inferringReads("x", Seq("""spark.read.parquet(s"$wh/blocks")""")).size == 1)
    assert(inferringReads("x",
      Seq("""spark.read.schema(knownSchema(table)).parquet(path)""")).isEmpty)
  }
}
