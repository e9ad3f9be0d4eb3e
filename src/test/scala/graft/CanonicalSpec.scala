package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.kg.Canonical

/** Connected components vs a union-find oracle on seeded random graphs
  * (SURVEY §5.2 property tests), on both arms of the row guard: the
  * driver-side union-find (default guard) and the distributed
  * large-star/small-star rounds (`maxDriverRows = 0`).
  */
class CanonicalSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  def unionFind(n: Int, edges: Seq[(Int, Int)]): Map[Int, Int] = {
    val parent = Array.tabulate(n)(identity)
    def find(x: Int): Int = { var r = x; while (parent(r) != r) r = parent(r); r }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b)); if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    // path-compress to min label
    (0 until n).map(x => x -> find(x)).toMap
  }

  def check(n: Int, edges: Seq[(Int, Int)]): Unit = {
    val df = edges.map { case (a, b) => (f"N$a%05d", f"N$b%05d") }.toDF("src", "dst")
    val want = unionFind(n, edges)
    // engine covers nodes that appear in edges; min-label components
    val nodesInEdges = edges.flatMap(e => Seq(e._1, e._2)).toSet
    for (guard <- Seq(graft.kg.Model.MaxDriverRows, 0L)) {
      val got = Canonical.connectedComponents(df, maxDriverRows = guard)
        .collect().map(r => (r.getString(0), r.getString(1))).toMap
      assert(got.keySet == nodesInEdges.map(x => f"N$x%05d"), s"guard $guard")
      nodesInEdges.foreach { x =>
        assert(got(f"N$x%05d") == f"N${want(x)}%05d",
          s"guard $guard, node $x: got ${got(f"N$x%05d")} want ${want(x)}")
      }
    }
  }

  test("CC matches union-find on seeded random graphs") {
    val rnd = new scala.util.Random(42)
    for (trial <- 0 until 4) {
      val n = 50 + trial * 40
      val m = n * 2
      val edges = Seq.fill(m)((rnd.nextInt(n), rnd.nextInt(n))).filter(e => e._1 != e._2)
      check(n, edges)
    }
  }

  test("CC handles a long path graph (worst case for label propagation)") {
    val edges = (0 until 63).map(i => (i, i + 1))
    check(64, edges)
  }

  test("CC handles a star hub (skew case)") {
    val edges = (1 until 200).map(i => (0, i))
    check(200, edges)
  }

  test("canonicalizeTriples broadcast is row-count-guarded") {
    import org.apache.spark.sql.functions._
    val mapping = Seq(("Q1", "Q1"), ("Q2", "Q1")).toDF("node", "component")
    val triples = Seq(
      (graft.kg.Model.WD + "Q2", "p", "x", false, ""),
      (graft.kg.Model.WD + "Q3", "p", graft.kg.Model.WD + "Q2", false, ""))
      .toDF("subj", "pred", "obj", "objIsLiteral", "objDatatype")
    // dictionary-sized mapping: the hint is applied (logical plan carries
    // the broadcast join hint before AQE can second-guess it)
    val small = Canonical.canonicalizeTriples(triples, mapping)
    assert(small.queryExecution.optimizedPlan.toString
      .toLowerCase.contains("broadcast"),
      small.queryExecution.optimizedPlan.toString.take(1500))
    // above the guard: NO forced hint — the planner keeps its freedom to
    // fall back to a shuffle join when the entity space is corpus-scale
    val big = Canonical.canonicalizeTriples(triples, mapping, maxBroadcastRows = 0L)
    assert(!big.queryExecution.optimizedPlan.toString
      .toLowerCase.contains("strategy=broadcast"),
      big.queryExecution.optimizedPlan.toString.take(1500))
    // semantics identical either way
    assert(small.collect().map(_.toSeq).toSet == big.collect().map(_.toSeq).toSet)
    val out = small.collect().map(r => (r.getString(0), r.getString(2))).toSet
    assert(out == Set((graft.kg.Model.WD + "Q1", "x"),
      (graft.kg.Model.WD + "Q3", graft.kg.Model.WD + "Q1")))
  }

  test("CC survives a 10^5-degree hub without a per-node neighbor buffer") {
    // one celebrity node with 100k neighbors: the min+join star steps
    // stream it; the old collect_set formulation materialized the whole
    // neighbor list in one aggregation buffer
    val n = 100001
    val edges = (1 until n).map(i => (f"N$i%06d", "N000000")).toDF("src", "dst")
    val mapping = Canonical.connectedComponents(edges, maxDriverRows = 0)
    import org.apache.spark.sql.functions._
    val comps = mapping.select(countDistinct(col("component")).cast("long"),
      count(lit(1)).cast("long")).head()
    assert(comps.getLong(0) == 1L)
    assert(comps.getLong(1) == n.toLong)
  }

  test("CC driver and distributed arms agree on a DataGen corpus's equivalence edges") {
    import graft.kg._
    val records = Extract.records(DataGen.corpus(spark, 400, 4).toDF())
    val edges = Canonical.equivalenceEdges(Link.matchTaxaAdaptive(records,
      DataGen.wdSparqlRows, DataGen.lineageRows))
      .persist()
    val driver = Canonical.connectedComponents(edges).collect().toSet
    val distributed = Canonical.connectedComponents(edges, maxDriverRows = 0)
      .collect().toSet
    // null endpoints and self-loops are no nodes on either arm
    val withNoise = edges.union(Seq[(String, String)](("Q1", null), ("Q2", "Q2"))
      .toDF("src", "dst"))
    assert(driver.nonEmpty && driver.exists(r => r.get(0) != r.get(1)))
    assert(driver == distributed)
    assert(Canonical.connectedComponents(withNoise).collect().toSet == driver)
    edges.unpersist()
  }

  test("the build's shared matcher-row fetch maps like equivalenceEdges + distributed CC") {
    import graft.kg._
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{LongType, StructField, StructType, StringType}
    def both(matched: org.apache.spark.sql.DataFrame): Set[(String, String)] = {
      val shared = Canonical.equivalenceMapping(spark,
        matched.select("TaxonName", "Mapped_ID_WD").collect().toSeq
          .map(r => (r.getString(0), r.getString(1))))
      assert(shared.queryExecution.optimizedPlan
        .isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation])
      def pairs(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r => (r.getString(0), r.getString(1))).toSet
      val distributed = pairs(Canonical.connectedComponents(
        Canonical.equivalenceEdges(matched), maxDriverRows = 0))
      assert(pairs(shared) == distributed)
      distributed
    }
    // padding spaces (trim strips ASCII spaces only, so a tab-padded name
    // is another name), quotes (kept: '"' orders before 'Q'), Wikidata:
    // prefixes, empty and null cells
    val fixture = spark.createDataFrame(
      java.util.Arrays.asList(Seq[(String, String, String, String, Long)](
        ("T1", " Pan ", "Wikidata:Q5", "m", 1L),
        ("T2", "Pan", "Q6", "m", 2L),
        ("T3", "Pan  ", "Q7", null, 3L),
        ("T4", "\tPan", "Q8", "m", 4L),
        ("T5", "\tPan", "Wikidata:Q9", "m", 5L),
        ("T6", "\"Pan\"", "Q10", "m", 6L),
        ("T7", "\"Pan\"", "\"Q11\"", "m", 7L),
        ("T8", "Bos", "Wikidata:", "m", 8L),
        ("T9", "Bos", "Q12", "m", 9L),
        ("T10", "   ", "Q13", "m", 10L),
        ("T11", null, "Q14", "m", 11L),
        ("T12", "Apis", "", "m", 12L),
        ("T13", "Apis", null, "m", 13L),
        ("T14", "Apis", "Q15", "m", 14L),
        ("T15", "Bos", "Q12", "m", 15L)).map(t => Row.fromTuple(t)): _*),
      StructType(Seq("TaxonId", "TaxonName", "Mapped_ID_WD", "Mapped_Value")
        .map(StructField(_, StringType)) :+ StructField("rowIdx", LongType, false)))
    assert(both(fixture) == Set("Q5" -> "Q5", "Q6" -> "Q5", "Q7" -> "Q5",
      "Q8" -> "Q8", "Q9" -> "Q8", "Q10" -> "\"Q11\"", "\"Q11\"" -> "\"Q11\"",
      "" -> "", "Q12" -> ""))
    val records = Extract.records(DataGen.corpus(spark, 400, 4).toDF())
    assert(both(Link.matchTaxaAdaptive(records, DataGen.wdSparqlRows,
      DataGen.lineageRows)).exists(p => p._1 != p._2))
  }
}
