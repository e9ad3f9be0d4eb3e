package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.ops.{Bgp, LocalTriples}
import graft.ops.Bgp.{C, Pattern, V}
import graft.kg.Model

/** BGP compiler: parsing, constant pushdown, greedy join order (no
  * cartesian on connected patterns, loud failure on disconnected ones),
  * repeated-variable filters, result equivalence against a
  * hand-composed DataFrame plan over the same triples, and the driver
  * executor ([[LocalTriples]]) against the compiled plan.
  */
class BgpSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private lazy val triples = Seq(
    // two interaction records with source/target samples + organisms
    ("R1", Model.RDF_TYPE, Model.EMI + "Interaction"),
    ("R1", Model.EMI + "hasSource", "S1"),
    ("R1", Model.EMI + "hasTarget", "S2"),
    ("R2", Model.RDF_TYPE, Model.EMI + "Interaction"),
    ("R2", Model.EMI + "hasSource", "S3"),
    ("R2", Model.EMI + "hasTarget", "S1"),
    ("S1", Model.SOSA + "isSampleOf", "O1"),
    ("S2", Model.SOSA + "isSampleOf", "O2"),
    ("S3", Model.SOSA + "isSampleOf", "O2"),
    ("S1", Model.RDFS_LABEL, "alpha"),
    ("S2", Model.RDFS_LABEL, "beta"),
    // a self-loop-ish row for the repeated-variable test
    ("X", "p:same", "X"),
    ("X", "p:same", "Y")).toDF("subj", "pred", "obj")

  test("parse: vars, prefixed names, <iri>, literal, and 'a' shorthand") {
    val pats = Bgp.parse(
      """?r a emi:Interaction . ?r emi:hasSource ?s . ?s rdfs:label "alpha"""")
    assert(pats === Seq(
      Pattern(V("r"), C(Model.RDF_TYPE), C(Model.EMI + "Interaction")),
      Pattern(V("r"), C(Model.EMI + "hasSource"), V("s")),
      Pattern(V("s"), C(Model.RDFS_LABEL), C("alpha"))))
    val full = Bgp.parse("?x <http://ex/p> ?y")
    assert(full === Seq(Pattern(V("x"), C("http://ex/p"), V("y"))))
    assertThrows[IllegalArgumentException](Bgp.parse("?x unknowable ?y"))
    assertThrows[IllegalArgumentException](Bgp.parse("?x nopfx:p ?y"))
  }

  test("star + chain BGP matches the hand-composed join plan") {
    val got = Bgp.query(triples,
      """?r a emi:Interaction . ?r emi:hasSource ?ss . ?r emi:hasTarget ?ts .
         ?ss sosa:isSampleOf ?sorg . ?ts sosa:isSampleOf ?torg""",
      Seq("r", "sorg", "torg"))
    val so = triples.filter(col("pred") === Model.SOSA + "isSampleOf")
    val expected = triples
      .filter(col("pred") === Model.RDF_TYPE &&
        col("obj") === Model.EMI + "Interaction")
      .select(col("subj").as("r"))
      .join(triples.filter(col("pred") === Model.EMI + "hasSource")
        .select(col("subj").as("r"), col("obj").as("ss")), Seq("r"))
      .join(triples.filter(col("pred") === Model.EMI + "hasTarget")
        .select(col("subj").as("r"), col("obj").as("ts")), Seq("r"))
      .join(so.select(col("subj").as("ss"), col("obj").as("sorg")), Seq("ss"))
      .join(so.select(col("subj").as("ts"), col("obj").as("torg")), Seq("ts"))
      .select(col("r"), col("sorg"), col("torg"))
    assert(got.collect().toSet === expected.collect().toSet)
    assert(got.count() === 2)
  }

  test("constant-object anchor binds and filters") {
    val got = Bgp.query(triples,
      """?r emi:hasSource ?s . ?s rdfs:label "alpha"""", Seq("r"))
      .as[String].collect().sorted
    assert(got === Array("R1"))
  }

  test("bag semantics: no implicit distinct") {
    // S1 is source of R1 and target of R2 → O1 appears once per record
    val got = Bgp.query(triples,
      "?r emi:hasSource ?s . ?s sosa:isSampleOf ?o", Seq("o"))
      .as[String].collect().sorted
    assert(got === Array("O1", "O2"))
  }

  test("repeated variable within a pattern compiles to an equality filter") {
    val got = Bgp.query(triples, "?x <p:same> ?x", Seq("x"))
      .as[String].collect()
    assert(got === Array("X"))
  }

  test("connected BGP never plans a cartesian; disconnected refuses") {
    val df = Bgp.query(triples,
      """?r emi:hasSource ?ss . ?ss sosa:isSampleOf ?sorg .
         ?r emi:hasTarget ?ts . ?ts sosa:isSampleOf ?torg""",
      Seq("sorg", "torg"))
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan)
    val ex = intercept[IllegalArgumentException] {
      Bgp.query(triples, "?a emi:hasSource ?b . ?c emi:hasTarget ?d",
        Seq("a", "c"))
    }
    assert(ex.getMessage.contains("disconnected"))
  }

  test("property path '+' closes transitively and joins with plain patterns") {
    val hier = Seq(
      ("a", "up", "b"), ("b", "up", "c"), ("c", "up", "d"),
      ("a", Model.RDFS_LABEL, "leaf-a"), ("b", Model.RDFS_LABEL, "leaf-b"))
      .toDF("subj", "pred", "obj")
    // all ancestors of nodes that carry a label
    val got = Bgp.query(hier, """?n <up>+ ?anc . ?n rdfs:label ?l""",
      Seq("n", "anc", "l"), plusRounds = 2)
      .as[(String, String, String)].collect().toSet
    assert(got === Set(
      ("a", "b", "leaf-a"), ("a", "c", "leaf-a"), ("a", "d", "leaf-a"),
      ("b", "c", "leaf-b"), ("b", "d", "leaf-b")))
    // constant endpoint restricts the closure
    val desc = Bgp.query(hier, """?n <up>+ "d"""", Seq("n"), plusRounds = 2)
      .as[String].collect().sorted
    assert(desc === Array("a", "b", "c"))
    // '+' parses only in predicate position, on a constant
    assert(Bgp.parse("?x <up>+ ?y") ===
      Seq(Pattern(V("x"), Bgp.Plus("up"), V("y"))))
    assertThrows[IllegalArgumentException](
      Pattern(Bgp.Plus("up"), V("p"), V("y")))
  }

  test("OPTIONAL group left-joins; private vars are NULL on non-match") {
    val got = Bgp.query(triples,
      """?r emi:hasSource ?ss . OPTIONAL { ?ss rdfs:label ?l }""",
      Seq("r", "ss", "l"))
      .as[(String, String, Option[String])].collect().toSet
    assert(got === Set(
      ("R1", "S1", Some("alpha")),
      ("R2", "S3", None))) // S3 has no label → row survives with NULL
    // optional group must connect to the required part
    val ex = intercept[IllegalArgumentException] {
      Bgp.query(triples,
        """?r emi:hasSource ?ss . OPTIONAL { ?x rdfs:label ?l }""",
        Seq("r"))
    }
    assert(ex.getMessage.contains("OPTIONAL"))
    // parseQuery splits blocks without disturbing required patterns
    val (req, opts, fs) = Bgp.parseQuery(
      """?a emi:hasSource ?b . OPTIONAL { ?b rdfs:label ?l } . ?a emi:hasTarget ?c""")
    assert(req.length === 2 && opts === Seq(Seq(
      Pattern(V("b"), C(Model.RDFS_LABEL), V("l")))) && fs.isEmpty)
  }

  test("FILTER: var-var inequality, string equality, regex, numeric compare") {
    val got = Bgp.query(triples,
      """?r emi:hasSource ?ss . ?r emi:hasTarget ?ts .
         ?ss sosa:isSampleOf ?sorg . ?ts sosa:isSampleOf ?torg .
         FILTER (?sorg != ?torg)""",
      Seq("r")).as[String].collect().sorted
    assert(got === Array("R1", "R2")) // both cross-organism here
    val same = Bgp.query(triples,
      """?r emi:hasSource ?ss . ?ss sosa:isSampleOf ?sorg .
         FILTER (?sorg = "O1")""", Seq("r")).as[String].collect()
    assert(same === Array("R1"))
    val rx = Bgp.query(triples,
      """?ss rdfs:label ?l . FILTER regex(?l, "^al")""",
      Seq("l")).as[String].collect()
    assert(rx === Array("alpha"))
    // numeric FILTER casts both sides to double
    val num = Seq(("a", "score", "10"), ("b", "score", "9"))
      .toDF("subj", "pred", "obj")
    val hi = Bgp.query(num, """?s <score> ?v . FILTER (?v >= 10)""",
      Seq("s")).as[String].collect()
    assert(hi === Array("a")) // lexicographic "10" < "9" would say b
    // filters referencing unbound variables fail loudly
    val ex = intercept[IllegalArgumentException] {
      Bgp.query(triples, """?r emi:hasSource ?ss . FILTER (?zzz != ?ss)""",
        Seq("r"))
    }
    assert(ex.getMessage.contains("zzz"))
  }

  test("top-level split respects quotes, parens, and <iri> angles") {
    val pats = Bgp.parse("?x <http://ex.org/p.q> ?y . ?y <http://ex.org/r> ?z")
    assert(pats === Seq(
      Pattern(V("x"), C("http://ex.org/p.q"), V("y")),
      Pattern(V("y"), C("http://ex.org/r"), V("z"))))
    val (_, _, fs) = Bgp.parseQuery(
      """?x <http://ex.org/p.q> ?y . FILTER regex(?y, "a.b")""")
    assert(fs === Seq(Bgp.Regex("y", "a.b")))
    // an UNPARENTHESIZED comparison FILTER must not open IRI-angle mode
    // and swallow the following '.' separator (ADVICE r05)
    import spark.implicits._
    val num = Seq(("b", "p", "x"), ("a", "score", "10"), ("b", "score", "9"))
      .toDF("subj", "pred", "obj")
    val got = Bgp.query(num,
      """?s <score> ?v . FILTER ?v < 10 . ?s <p> ?b""",
      Seq("s")).as[String].collect()
    assert(got === Array("b"))
  }

  test("FILTER is matched as a whole keyword, not a name prefix") {
    // a `filter:` prefixed name is a term: the '<' after it opens an IRI,
    // so the dot inside the IRI does not split the clause
    val prefixes = Map("filter" -> "http://ex.org/f/", "filters" -> "http://ex.org/fs/")
    assert(Bgp.parse("filter:x <http://ex.org/p> ?o", prefixes) ===
      Seq(Pattern(C("http://ex.org/f/x"), C("http://ex.org/p"), V("o"))))
    val (pats, _, fs) = Bgp.parseQuery(
      "filters:a <http://ex.org/p> ?o . FILTER(?o != \"x\")", prefixes)
    assert(pats === Seq(Pattern(C("http://ex.org/fs/a"), C("http://ex.org/p"), V("o"))))
    assert(fs === Seq(Bgp.Cmp("o", "!=", C("x"))))
  }

  test("unbound select variable fails loudly") {
    val ex = intercept[IllegalArgumentException] {
      Bgp.query(triples, "?a emi:hasSource ?b", Seq("zzz"))
    }
    assert(ex.getMessage.contains("zzz"))
  }

  test("constant filters reach the parquet scan as pushed filters") {
    val dir = java.nio.file.Files.createTempDirectory("bgp").toString
    triples.write.mode("overwrite").parquet(dir)
    val onDisk = spark.read.parquet(dir)
    val df = Bgp.query(onDisk, "?r emi:hasSource ?s", Seq("r", "s"))
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(pred), EqualTo(pred,") ||
      plan.contains(s"EqualTo(pred,${Model.EMI}hasSource)"), plan)
  }

  /** A seeded random bag of triples: four predicates over a dozen terms
    * (duplicate triples and subj = obj rows included), an `up` hierarchy
    * with a chain longer than the `+` reach, and numeric objects under
    * `p:score` only (a non-numeric cast fails under ANSI). "ﬁ" (U+FB01)
    * sorts after "😀" (U+1F600) in UTF-16 and before it in UTF-8, Spark's
    * string order.
    */
  private def randomTriples(seed: Int): Seq[(String, String, String)] = {
    val rnd = new scala.util.Random(seed)
    val nodes = Seq("a", "b", "c", "d", "e", "ﬁ", "😀", "é", "A", "b2")
    def node = nodes(rnd.nextInt(nodes.size))
    val plain = Seq.fill(80 + rnd.nextInt(40))(
      (node, Seq("p:x", "p:y", "p:z")(rnd.nextInt(3)), node))
    val scores = Seq("10", "9", "2.5", "-1", "1e1", "NaN", "-0.0", "0")
      .map(v => (node, "p:score", v))
    val chain = (0 until 7).map(i => (s"h$i", "up", s"h${i + 1}"))
    val up = Seq.fill(8)((node, "up", node)) ++ Seq(("a", "up", "h0"), ("h7", "up", "ﬁ"))
    val all = plain ++ scores ++ chain ++ up
    all ++ all.take(6)
  }

  /** Every query shape above, as (pattern, select). */
  private val shapes: Seq[(String, Seq[String])] = Seq(
    // star and chain
    "?r <p:x> ?a . ?r <p:y> ?b . ?r <p:z> ?c" -> Seq("r", "a", "b", "c"),
    "?a <p:x> ?b . ?b <p:y> ?c . ?c <p:x> ?d" -> Seq("a", "d"),
    // constant anchors, one the table lacks
    """?a <p:x> "c" . ?a <p:y> ?b""" -> Seq("a", "b"),
    """?a <p:x> "zz" . ?a <p:y> ?b""" -> Seq("b"),
    """"ﬁ" ?p ?o""" -> Seq("p", "o"),
    // repeated variables, in a pattern and across the predicate
    "?x <p:x> ?x . ?x <p:y> ?y" -> Seq("x", "y"),
    "?x ?p ?x" -> Seq("x", "p"),
    // OPTIONAL, the second keyed on a variable the first may leave null
    "?a <p:x> ?b . OPTIONAL { ?b <p:y> ?c } . OPTIONAL { ?c <p:z> ?d }" ->
      Seq("a", "b", "c", "d"),
    // the four FILTER kinds
    "?a <p:x> ?b . ?b <p:y> ?c . FILTER (?a < ?c)" -> Seq("a", "b", "c"),
    """?a <p:x> ?b . FILTER (?b >= "ﬁ")""" -> Seq("a", "b"),
    """?a <p:x> ?b . FILTER (?b != "c")""" -> Seq("a", "b"),
    "?s <p:score> ?v . FILTER (?v > 2)" -> Seq("s", "v"),
    "?s <p:score> ?v . FILTER (?v = 0)" -> Seq("s", "v"),
    "?s <p:score> ?v . FILTER (?v >= 10)" -> Seq("v"),
    """?a <p:x> ?b . FILTER regex(?b, "^[a-c]")""" -> Seq("a", "b"),
    // property paths: past the reach, anchored, and joined
    "?a <up>+ ?b" -> Seq("a", "b"),
    """?a <up>+ "ﬁ" . ?a <p:x> ?x""" -> Seq("a", "x"))

  test("the driver executor agrees with the compiled plan as a multiset on random triples") {
    val nonEmpty = scala.collection.mutable.Set[String]()
    (1 to 4).foreach { seed =>
      val rows = randomTriples(seed)
      val ix = LocalTriples(rows)
      assert(ix.names.indexOf("ﬁ") < ix.names.indexOf("😀"))
      val df = rows.toDF("subj", "pred", "obj")
      shapes.foreach { case (bgp, select) =>
        withClue(s"seed $seed, $bgp: ") {
          def bag(rs: Seq[Seq[String]]) = rs.groupBy(identity).view.mapValues(_.size).toMap
          val want = Bgp.query(df, bgp, select, plusRounds = 2).collect()
            .map(r => select.indices.map(r.getString)).toSeq
          val got = ix.query(bgp, select, plusRounds = 2).map(_.toSeq.map(ix.name))
          assert(bag(got) == bag(want))
          if (want.nonEmpty) nonEmpty += bgp
        }
      }
    }
    assert(nonEmpty == shapes.map(_._1).toSet - """?a <p:x> "zz" . ?a <p:y> ?b""")
  }

  test("the driver executor refuses what the compiler refuses") {
    val ix = LocalTriples(Seq(("a", "p:x", "b")))
    Seq("?a <p:x> ?b . ?c <p:y> ?d" -> "disconnected",
      "?a <p:x> ?b . OPTIONAL { ?c <p:y> ?d }" -> "OPTIONAL",
      "?a <p:x> ?b . FILTER (?zzz != ?b)" -> "zzz").foreach { case (bgp, msg) =>
      val ex = intercept[IllegalArgumentException](ix.query(bgp, Seq("a")))
      assert(ex.getMessage.contains(msg), ex.getMessage)
    }
    assert(intercept[IllegalArgumentException](ix.query("?a <p:x> ?b", Seq("zzz")))
      .getMessage.contains("zzz"))
  }
}
