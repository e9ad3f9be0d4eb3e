package graft

import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import graft.queries.Materialized

/** The harness layer: the shared-table build, Verify's dump and the one
  * session factory.
  */
class HarnessSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def buildThreads(): Seq[String] =
    Thread.getAllStackTraces.keySet.asScala.toSeq.filter(_.isAlive).map(_.getName)
      .filter(n => n.startsWith("par-") || n.startsWith("prefetch-"))

  test("buildShared returns with every shared table built and no build thread alive") {
    val dir = "/root/testdata/sf0.001"
    Materialized.buildShared(spark, dir)
    Seq("recordsAndMatched", "globiTable", "trydbTable", "taxonPaths",
      "lshComponents", "mergedDocsTable", "statsDocsTable", "zorderOrdersTable",
      "deletedDocsTable", "partitionedDocsTable", "bloomDocsTable",
      "scd2DimTable", "wapDocsTable", "orgEdgesDirected", "orgGraph",
      "taxonomyEdges", "taxonomyGraph"
    ).foreach(what => assert(Materialized.isBuilt(spark, what, dir), what))
    assert(buildThreads().isEmpty, buildThreads())
  }

  test("buildShared surfaces a failed fixture build after joining every build") {
    // the directory name sizes the corpus (100 docs); it holds no
    // documents.parquet, so the pipeline fixtures fail
    val dir = Files.createTempDirectory("graft-harness").resolve("sf0.0002")
    Files.createDirectories(dir)
    val e = intercept[org.apache.spark.sql.AnalysisException] {
      Materialized.buildShared(spark, dir.toString)
    }
    assert(e.getMessage.contains(dir.toString), e.getMessage)
    assert(buildThreads().isEmpty, buildThreads())
  }

  test("Verify.dump deletes a failed query's output left by an earlier run") {
    val out = Files.createTempDirectory("graft-verify")
    val stale = out.resolve("q1_agg")
    Files.createDirectories(stale)
    Files.writeString(stale.resolve("part-00000.parquet"), "stale")
    val missing = out.resolve("no-such-sf").toString
    assert(Verify.dump(spark, missing, out.toString, Set("q1_agg")) == Seq("q1_agg"))
    assert(!Files.exists(stale))
    assert(Files.exists(out.resolve("oracle_sql.json")))
  }

  test("src/main starts Spark only through the Session factory") {
    val builder = """SparkSession\s*\.\s*builder\s*\(""".r
    val hits: Seq[(Path, Int)] = Files.walk(Paths.get("src/main/scala")).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
      .map(p => p -> builder.findAllMatchIn(Files.readString(p)).size)
      .filter(_._2 > 0)
    assert(hits == Seq(Paths.get("src/main/scala/graft/Session.scala") -> 1), hits)
  }
}
