package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import scala.jdk.CollectionConverters._
import graft.kg.Model
import graft.queries.{CaseStudyQueries, Materialized}

/** The organism-graph queries' two arms: the driver arm over
  * [[graft.ops.LocalGraph]] below the row guard and the distributed
  * plan above it.
  */
class LocalGraphSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  val sf = "/root/testdata/sf0.001"

  private val graphQueries: Seq[(String, (SparkSession, String, Long) => DataFrame)] = Seq(
    "kg_cs_pagerank" -> CaseStudyQueries.pageRank,
    "kg_cs_bfs_reach" -> CaseStudyQueries.bfsReach,
    "kg_cs_jaccard_nbrs" -> CaseStudyQueries.jaccardNbrs,
    "kg_cs_adamic_adar" -> CaseStudyQueries.adamicAdar,
    "kg_cs_wedge_capped" -> CaseStudyQueries.wedgeCapped,
    "kg_cs_assortativity" -> CaseStudyQueries.assortativity,
    "kg_cs_lcc" -> CaseStudyQueries.lcc,
    "kg_cs_triangles" -> CaseStudyQueries.triangles,
    "kg_cs_degree_dist" -> CaseStudyQueries.degreeDist)

  /** Distinct directed edges of a random graph with a hub, sink-only
    * (dangling) nodes, and degree and score ties: the sinks "ﬁ",
    * "😀", "s1" and "s2" hang off the hub alone, so pairs of them tie
    * on degree and PageRank and share the hub as a neighbour. "ﬁ"
    * (U+FB01) sorts after "😀" (U+1F600) in UTF-16 and before it in
    * UTF-8, Spark's string order.
    */
  private def randomEdges(seed: Int): Seq[(String, String)] = {
    val rnd = new scala.util.Random(seed)
    val plain = (0 until 8 + rnd.nextInt(8)).map(i => f"o$i%02d") ++ Seq("é", "Ω")
    val hubEdges = plain.map("hub" -> _) ++ plain.filter(_ => rnd.nextBoolean()).map(_ -> "hub")
    val sinks = Seq("ﬁ", "😀", "s1", "s2").map("hub" -> _)
    val rest = for (a <- plain; b <- plain if a != b && rnd.nextDouble() < 0.15) yield a -> b
    (hubEdges ++ sinks ++ rest).distinct
  }

  /** A scale directory whose directed organism edge memo holds `edges`. */
  private def withGraph(name: String, edges: Seq[(String, String)]): String = {
    import spark.implicits._
    val dir = s"local-graph-spec/$name"
    Materialized.once(spark, "orgEdgesDirected", dir)(edges.toDF("src", "dst"))
    dir
  }

  test("driver and distributed arms agree row for row on random graphs") {
    assert("ﬁ".compareTo("😀") > 0, "the names no longer disagree in UTF-16")
    (1 to 4).foreach { seed =>
      val dir = withGraph(s"random$seed", randomEdges(seed))
      assert(CaseStudyQueries.organismGraph(spark, dir).isDefined)
      graphQueries.foreach { case (q, f) =>
        withClue(s"seed $seed, $q: ") {
          val (local, dist) = (f(spark, dir, Model.MaxDriverRows), f(spark, dir, 0L))
          assert(local.schema.map(c => (c.name, c.dataType)) ==
            dist.schema.map(c => (c.name, c.dataType)))
          val want = dist.collect().toSeq
          assert(want.nonEmpty, "empty result — vacuous")
          assert(local.collect().toSeq == want)
        }
      }
      // the tied pair shows up in Spark's (UTF-8) order
      val jaccard = CaseStudyQueries.jaccardNbrs(spark, dir).collect()
      assert(jaccard.exists(r => r.getString(0) == "ﬁ" && r.getString(1) == "😀"),
        jaccard.mkString(","))
    }
  }

  test("the undirected view built on the driver equals the organismEdges memo") {
    Seq(sf, withGraph("random1", randomEdges(1))).foreach { dir =>
      val g = CaseStudyQueries.organismGraph(spark, dir).get
      val local = g.edges.map { case (u, v) => (g.names(u), g.names(v)) }.toSeq
      val memo = CaseStudyQueries.organismEdges(spark, dir).collect()
        .map(r => (r.getString(0), r.getString(1))).toSeq
      assert(local.nonEmpty && local.size == local.distinct.size)
      assert(local.sorted == memo.sorted, dir)
    }
  }

  test("round6 matches Spark's round(_, 6) on doubles") {
    import spark.implicits._
    val rnd = new scala.util.Random(6)
    val xs = Seq(5e-7, 2.5e-7, 1.0000005, 0.1234565, 123.4567895, 1.0 / 3, -0.0000015,
      0.0, 1e-300, 9.9999995) ++ Seq.fill(200)(rnd.nextDouble() * math.pow(10, rnd.nextInt(6)))
    val got = xs.toDF("x").select(round(col("x"), 6)).collect().map(_.getDouble(0)).toSeq
    assert(xs.map(CaseStudyQueries.round6) == got)
  }

  test("after materializeShared the nine graph queries run no Spark job") {
    CaseStudyQueries.materializeShared(spark, sf)
    val names = graphQueries.map(_._1).toSet
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        jobs.add(Option(js.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse("?"))
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      names.foreach { q =>
        sc.setJobDescription(q)
        SparkEntry.queries(q)(spark, sf).collect()
      }
      // the listener bus delivers in order: once the marker job's start
      // arrives, every earlier job start has arrived too
      sc.setJobDescription("marker")
      sc.parallelize(Seq(1), 1).count()
      val deadline = System.nanoTime() + 30e9.toLong
      while (!jobs.contains("marker") && System.nanoTime() < deadline) Thread.sleep(20)
      assert(jobs.contains("marker"))
    } finally {
      sc.setJobDescription(null)
      sc.removeSparkListener(listener)
    }
    val queryJobs = jobs.asScala.filter(names).toSeq
    assert(queryJobs.isEmpty, queryJobs.groupBy(identity).view.mapValues(_.size).toMap)
  }
}
