package graft

import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** Lint over the warehouse read path: every parquet read in the ingest,
  * serve and fixture readers declares its table's schema
  * (`.read.schema(…).parquet(`, through `ChainIngest.read`). An inferring
  * `.read.parquet(` runs a footer job on every read and throws on a table
  * root that holds no part file yet.
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

  test("the lint flags an inferring read and passes a declared one") {
    assert(inferringReads("x", Seq("""spark.read.parquet(s"$wh/blocks")""")).size == 1)
    assert(inferringReads("x",
      Seq("""spark.read.schema(knownSchema(table)).parquet(path)""")).isEmpty)
  }
}
