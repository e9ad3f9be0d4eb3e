package graft

import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageSubmitted}
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

  test("the shared tables' generated inputs have defaultParallelism partitions") {
    // a scale no other test builds (150 docs), so both builds run here
    val dir = Files.createTempDirectory("graft-harness").resolve("sf0.0003").toString
    val sc = spark.sparkContext
    val cores = sc.defaultParallelism
    val (records, _) = Materialized.recordsAndMatched(spark, dir)
    assert(records.rdd.getNumPartitions == cores)
    // trydbTable's input is internal: its scan stages show its width
    val tasks = new java.util.concurrent.ConcurrentLinkedQueue[(String, Int)]()
    val listener = new SparkListener {
      override def onStageSubmitted(ss: SparkListenerStageSubmitted): Unit =
        tasks.add(Option(ss.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse("?") ->
          ss.stageInfo.numTasks)
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobDescription("trydbTable")
      Materialized.trydbTable(spark, dir)
      // the listener bus delivers in order: once the marker's stage
      // arrives, every stage of the build has arrived too
      sc.setJobDescription("marker")
      sc.parallelize(Seq(1), 1).count()
      val deadline = System.nanoTime() + 30e9.toLong
      while (!tasks.asScala.exists(_._1 == "marker") && System.nanoTime() < deadline)
        Thread.sleep(20)
    } finally {
      sc.setJobDescription(null)
      sc.removeSparkListener(listener)
    }
    val build = tasks.asScala.collect { case ("trydbTable", n) => n }.toSeq
    assert(build.nonEmpty && build.max == cores, build)
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
