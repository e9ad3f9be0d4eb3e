package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import scala.jdk.CollectionConverters._
import graft.kg.Model
import graft.queries.{CaseStudyQueries, Materialized, SparqlQueries}

/** The organism-graph queries', the taxonomy closure's and the BGP and
  * SPARQL queries' two arms: the driver arm over [[graft.ops.LocalGraph]]
  * or [[graft.ops.LocalTriples]] below the row guard and the distributed
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

  /** One entry per job the queries' `collect()` calls start: the
    * query's name.
    */
  private def queryJobs(names: Set[String]): Seq[String] = {
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
    jobs.asScala.filter(names).toSeq
  }

  test("after materializeShared the nine graph queries run no Spark job") {
    CaseStudyQueries.materializeShared(spark, sf)
    val jobs = queryJobs(graphQueries.map(_._1).toSet)
    assert(jobs.isEmpty, jobs.groupBy(identity).view.mapValues(_.size).toMap)
  }

  /** Child → parent edges of a random taxonomy: a 12-edge chain (min
    * depths past the distributed arm's 2^3 rounds), diamonds with a
    * shortcut (min depth over longer derivations), a 2-cycle, the names
    * "ﬁ" and "😀", and random edges among a few more nodes.
    */
  private def taxonomyEdges(seed: Int): Seq[(String, String)] = {
    val rnd = new scala.util.Random(seed)
    val chain = (0 until 12).map(i => f"c$i%02d" -> f"c${i + 1}%02d")
    val diamonds = Seq("d0" -> "d1", "d0" -> "d2", "d1" -> "d3", "d2" -> "d3",
      "d3" -> "d4", "d4" -> "d5", "d0" -> "d4", "c03" -> "d0")
    val named = Seq("ﬁ" -> "😀", "😀" -> "c05", "ﬁ" -> "é", "é" -> "c07")
    val cycle = Seq("x" -> "y", "y" -> "x", "y" -> "c10")
    val plain = (0 until 6 + rnd.nextInt(6)).map(i => s"r$i")
    val rest = for (a <- plain; b <- plain ++ Seq("c02", "d1")
      if a != b && rnd.nextDouble() < 0.2) yield a -> b
    (chain ++ diamonds ++ named ++ cycle ++ rest).distinct
  }

  test("taxonomy closure: driver and distributed arms agree row for row") {
    import spark.implicits._
    (1 to 3).foreach { seed =>
      val dir = s"local-graph-spec/taxonomy$seed"
      Materialized.once(spark, "taxonomyEdges", dir)(
        taxonomyEdges(seed).toDF("child", "parent"))
      assert(CaseStudyQueries.taxonomyGraph(spark, dir).isDefined)
      val local = CaseStudyQueries.taxonomyClosure(spark, dir)
      val dist = CaseStudyQueries.taxonomyClosure(spark, dir, 0L)
      withClue(s"seed $seed: ") {
        assert(local.schema.map(c => (c.name, c.dataType)) ==
          dist.schema.map(c => (c.name, c.dataType)))
        val want = dist.collect().toSeq
        val got = local.collect().toSeq
        assert(got == want)
        val depth = want.map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
        // path doubling's reach: min depth ≤ 2^3, at its min depth
        assert(depth.get("c00" -> "c08").contains(8L) && !depth.contains("c00" -> "c09"))
        assert(depth.get("d0" -> "d5").contains(2L) && depth.get("d1" -> "d5").contains(3L))
        assert(depth.get("x" -> "x").contains(2L) && depth.get("y" -> "y").contains(2L))
        assert(depth.get("ﬁ" -> "c05").contains(2L))
        // "ﬁ" (U+FB01) before "😀" (U+1F600): Spark's UTF-8 order
        val nodes = got.map(_.getString(0)).distinct
        assert(nodes.indexOf("ﬁ") < nodes.indexOf("😀"), nodes)
      }
    }
  }

  test("after materializeShared the taxonomy closure runs no Spark job") {
    CaseStudyQueries.materializeShared(spark, sf)
    val jobs = queryJobs(Set("kg_taxonomy_closure"))
    assert(jobs.isEmpty, jobs.size)
  }

  private val triplePatternQueries: Seq[(String, (SparkSession, String, Long) => DataFrame)] = Seq(
    "kg_bgp_star" -> CaseStudyQueries.bgpStar,
    "kg_bgp_filtered" -> CaseStudyQueries.bgpFiltered,
    "kg_bgp_filter_expr" -> CaseStudyQueries.bgpFilterExpr,
    "kg_bgp_optional" -> CaseStudyQueries.bgpOptional,
    "kg_bgp_path_plus" -> CaseStudyQueries.bgpPathPlus,
    "kg_sparql_records" -> SparqlQueries.globiRecords,
    "kg_sparql_wdids" -> SparqlQueries.globiWikidataIds)

  /** The driver arm's rows, checked equal to the distributed arm's. */
  private def armsAgree(f: (SparkSession, String, Long) => DataFrame, dir: String) = {
    val (local, dist) = (f(spark, dir, Model.MaxDriverRows), f(spark, dir, 0L))
    assert(local.schema.map(c => (c.name, c.dataType)) ==
      dist.schema.map(c => (c.name, c.dataType)))
    val want = dist.collect().toSeq
    assert(want.nonEmpty, "empty result — vacuous")
    assert(local.collect().toSeq == want)
    want
  }

  test("routed BGP/SPARQL queries: driver and distributed arms agree row for row at sf0.001") {
    assert(CaseStudyQueries.globiTriples(spark, sf).isDefined)
    triplePatternQueries.foreach { case (q, f) => withClue(s"$q: ")(armsAgree(f, sf)) }
  }

  test("after materializeShared the routed BGP/SPARQL queries run no Spark job") {
    CaseStudyQueries.materializeShared(spark, sf)
    val jobs = queryJobs(triplePatternQueries.map(_._1).toSet)
    assert(jobs.isEmpty, jobs.groupBy(identity).view.mapValues(_.size).toMap)
  }

  test("kg_bgp_path_plus: driver and distributed arms agree on random taxonomies") {
    import spark.implicits._
    (1 to 3).foreach { seed =>
      val dir = s"local-graph-spec/path-plus$seed"
      Materialized.once(spark, "taxonomyEdges", dir)(
        (taxonomyEdges(seed) :+ ("c12" -> "Kingdom0")).toDF("child", "parent"))
      withClue(s"seed $seed: ") {
        val ds = armsAgree(CaseStudyQueries.bgpPathPlus, dir).map(_.getString(0)).toSet
        // 2^3 steps: c05 and "ﬁ" (through "é") reach the root in 8 hops,
        // c04 only in 9
        assert(ds("c05") && ds("ﬁ") && ds("x") && !ds("c04"), ds)
      }
    }
  }
}
