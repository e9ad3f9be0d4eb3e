package graft.queries

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import scala.jdk.CollectionConverters._
import scala.math.Ordering.Double.TotalOrdering
import graft.kg._
import graft.ops.{Adjacency, Bgp, Iterate, LocalGraph, LocalTriples, Par, Pca}
import graft.sources.Inputs

/** Case-study analytic workload over the REAL materialized triple
  * table, plus the forced-distributed flagship pipeline.
  *
  * kg_cs_* reproduce the reference's case-study archetypes
  * (case-studies/CS3/CS3_viz.py:33-35 — top-20 organisms by interaction
  * degree; CS2/CS2_viz.py:123-127 — interaction-type crosstab) as
  * pred-filtered scans + joins over the subj-bucketed `globi_triples`
  * table the serving layer maintains — the same physical layout the
  * kg_sparql_* queries exploit, so the label/type star joins are
  * exchange-free.
  *
  * kg_pipeline_triples_dist is the BEYOND-DRIVER-MEMORY production
  * path, forced: `Link.matchTaxaAdaptive(..., maxDriverRows = 0)` takes
  * the fully distributed matcher (matcher.py:432-478 re-expressed as
  * broadcast joins + scored disambiguation), then
  * `Materialize.globiTriplesFused(..., maxDriverRows = 0)` takes the
  * relational two-tier resolution join before the emission. It is
  * hash-gated against the SAME independent SQL re-derivation as
  * kg_pipeline_triples — whose dictionary side-channel is written by
  * the broadcast-index matcher — so a green driver row certifies
  * distributed == broadcast over the full emission, with no
  * vocabulary broadcast in this plan.
  */
object CaseStudyQueries {

  import Materialized.{EMI, RDFS_LABEL, SOSA}
  private val PROV = Model.PROV

  /** Taxon-list substring filter terms (the CS4_viz.py FUNGAL_TAXA
    * archetype: `fungal_taxon.lower() in name.lower()`), sized to the
    * deterministic corpus so the filter genuinely drops rows at test
    * scale.
    */
  val FungalTaxa: Seq[String] = Seq("taxon 4", "taxon 12")

  /** Per-center neighbor admission cap for kg_cs_wedge_capped — sized so
    * the deterministic fixture drops wedges at every test scale (the
    * organism graph's hubs exceed it) while the capped enumeration still
    * surfaces the same leading pairs class. At corpus scale this bound is
    * what keeps the wedge join off the O(Σ deg²) cliff on hub keys.
    */
  val WedgeCap: Int = 6

  /** Parent edges (child → parent) decoded from the distinct taxon
    * rank-path strings — the taxonomy dimension shared by the closure
    * and property-path queries; memoized + checkpointed like
    * [[organismEdges]] (dimension-sized: distinct lineages).
    */
  private[graft] def taxonomyEdges(s: SparkSession, dir: String): DataFrame =
    Materialized.once(s, "taxonomyEdges", dir) {
      val toks = Materialized.taxonPaths(s, dir)
        .select(split(col("path"), "\\|").as("p"))
        .filter(size(col("p")) >= 2)
      toks.select(explode(transform(
          sequence(lit(1), size(col("p")) - 1),
          i => struct(trim(element_at(col("p"), i + lit(1))).as("child"),
            trim(element_at(col("p"), i)).as("parent")))).as("e"))
        .select(col("e.child"), col("e.parent"))
        .filter(col("child") =!= "" && col("parent") =!= "" &&
          col("child") =!= col("parent"))
        .distinct()
        .localCheckpoint(true)
    }

  /** Directed distinct organism→organism interaction edges via each
    * record's hasSource/hasTarget samples, memoized per (session, scale)
    * and materialized by an eager localCheckpoint: the 3-join + distinct
    * edge build over the bucketed triple table runs ONCE per scale
    * instead of once per graph query. Read by [[organismGraph]] (the
    * driver arm of every organism-graph query), by [[pageRank]]'s
    * distributed arm and by the undirected view [[organismEdges]].
    * [[materializeShared]] forces it in Bench's materialize phase so the
    * build cost lands on the explicit materialize line.
    */
  private[graft] def organismEdgesDirected(s: SparkSession, dir: String): DataFrame =
    Materialized.once(s, "orgEdgesDirected", dir) {
      val t = s.table(Materialized.globiTable(s, dir))
      val so = t.filter(col("pred") === SOSA + "isSampleOf")
        .select(col("subj").as("sample"), col("obj").as("org"))
      val hs = t.filter(col("pred") === EMI + "hasSource")
        .select(col("subj").as("rec"), col("obj").as("sample"))
      val ht = t.filter(col("pred") === EMI + "hasTarget")
        .select(col("subj").as("rec"), col("obj").as("sample"))
      hs.join(so, Seq("sample")).select(col("rec"), col("org").as("src"))
        .join(ht.join(so, Seq("sample")).select(col("rec"), col("org").as("dst")),
          Seq("rec"))
        .filter(col("src") =!= col("dst"))
        .select(col("src"), col("dst"))
        .distinct()
        .localCheckpoint(true)
    }

  /** Undirected view (u < v lexicographically) of the memoized directed
    * edge set — itself memoized + checkpointed: the derivation is only a
    * projection + distinct over the (dimension-sized) directed edges,
    * but every query below would otherwise re-shuffle the distinct.
    * Read by the distributed arms of the organism-graph queries except
    * PageRank (bfs reach, degree distribution, lcc, Jaccard,
    * Adamic-Adar, capped wedges, assortativity and, through
    * [[organismTriangles]], triangles) and by the distributed-only
    * queries (PPR, SSSP, k-core, communities, closeness, betweenness,
    * HyperBall, harmonic). Built on first use, not by
    * [[materializeShared]] (Bench forces it on its materialize_tables
    * line).
    * Nested `once` calls take different locks (acyclic: undirected →
    * directed → Materialized.globiTable), so no deadlock.
    */
  private[graft] def organismEdges(s: SparkSession, dir: String): DataFrame =
    Materialized.once(s, "orgEdgesUndirected", dir) {
      organismEdgesDirected(s, dir)
        .select(least(col("src"), col("dst")).as("u"),
          greatest(col("src"), col("dst")).as("v"))
        .distinct()
        .localCheckpoint(true)
    }

  /** Per-node triangle counts over the undirected organism graph —
    * memoized per (session, scale) because the degree-oriented wedge
    * join is the most expensive graph derivation after the edge build
    * itself and the distributed arms of TWO queries (kg_cs_triangles,
    * kg_cs_lcc) consume the identical counts; below the row guard
    * nothing builds it. Degree orientation (each edge pointed from its
    * lower-degree endpoint, u < v breaking ties) bounds the wedge join
    * by Σ min-degree² instead of Σ degree² — the standard hub-safe
    * triangle plan at corpus scale.
    */
  private[graft] def organismTriangles(s: SparkSession, dir: String): DataFrame =
    Materialized.once(s, "orgTriangles", dir) {
      val und = organismEdges(s, dir)
      val deg = Adjacency.degrees(Adjacency.symmetric(und))
      // u < v lexicographically by construction, so a degree tie keeps
      // (u, v) — the deterministic total order both engines share
      val e = und
        .join(deg.select(col("n").as("u"), col("d").as("du")), Seq("u"))
        .join(deg.select(col("n").as("v"), col("d").as("dv")), Seq("v"))
        .select(when(col("du") <= col("dv"), col("u")).otherwise(col("v")).as("a"),
          when(col("du") <= col("dv"), col("v")).otherwise(col("u")).as("b"))
        .localCheckpoint(true)
      // the oriented graph is acyclic, so exactly one corner w of each
      // triangle has both other corners as out-neighbours: its wedge
      // (u < v) plus the closing undirected edge (u, v) matches once
      Adjacency.wedges(e).join(und, Seq("u", "v"))
        .select(explode(array(col("w"), col("u"), col("v"))).as("organism"))
        .groupBy(col("organism")).agg(count(lit(1)).as("n_triangles"))
        .localCheckpoint(true)
    }

  /** Force the once-per-scale shared graph intermediates — called by
    * Bench's up-front materialization phase so the edge-build cost lands
    * on the materialize_tables line, not on whichever graph query
    * touches the memo first.
    */
  def materializeShared(s: SparkSession, dir: String): Unit = {
    // the organism-graph chain (edges → driver graph, or the distributed
    // triangle counts above the row guard), the taxonomy chain (edges →
    // driver graph) and the triple chain (the GloBI table → driver
    // triple index) consume different upstreams — run them concurrently
    // (guide §2.6); within a chain order is preserved
    Par.run(
      "graph" -> (() => {
        if (organismGraph(s, dir).isEmpty) organismTriangles(s, dir)
        ()
      }),
      "taxonomy" -> (() => { taxonomyGraph(s, dir); () }),
      "triples" -> (() => { globiTriples(s, dir); () }))
  }

  /** The organism graph on the driver: the directed edge memo fetched
    * by one guarded action ([[Model.driverRows]], the row guard of the
    * matcher, the dictionaries and CC) and ranked into a [[LocalGraph]],
    * memoized per (session, scale). None above the guard or with a
    * non-positive one, where the graph queries below run their
    * distributed plans, which stay as the reference arm.
    */
  private[graft] def organismGraph(s: SparkSession, dir: String,
      maxDriverRows: Long = Model.MaxDriverRows): Option[LocalGraph] =
    driverEdges(s, dir, "orgGraph", organismEdgesDirected(s, dir), maxDriverRows)

  /** The taxonomy on the driver: the child → parent edge memo fetched
    * by the same guarded action as [[organismGraph]], ranked into a
    * [[LocalGraph]] and memoized per (session, scale). None above the
    * guard or with a non-positive one, where [[taxonomyClosure]] and
    * [[bgpPathPlus]] run their distributed plans.
    */
  private[graft] def taxonomyGraph(s: SparkSession, dir: String,
      maxDriverRows: Long = Model.MaxDriverRows): Option[LocalGraph] =
    driverEdges(s, dir, "taxonomyGraph", taxonomyEdges(s, dir), maxDriverRows)

  /** The GloBI triple table on the driver: its (subj, pred, obj) fetched
    * by the same guarded action as [[organismGraph]] and interned into a
    * [[LocalTriples]], memoized per (session, scale). None above the
    * guard, with a non-positive one or when a term is null, where the
    * BGP and SPARQL queries over the table run their distributed plans.
    */
  private[graft] def globiTriples(s: SparkSession, dir: String,
      maxDriverRows: Long = Model.MaxDriverRows): Option[LocalTriples] =
    driverFetch(s, dir, "globiTriples",
      s.table(Materialized.globiTable(s, dir)).select(col("subj"), col("pred"), col("obj")),
      maxDriverRows) { rows =>
      Option.when(!rows.exists(_.anyNull))(
        LocalTriples(rows.toSeq.map(r => (r.getString(0), r.getString(1), r.getString(2)))))
    }

  /** A (from, to) string edge memo as a [[LocalGraph]], through [[driverFetch]]. */
  private def driverEdges(s: SparkSession, dir: String, what: String,
      edges: => DataFrame, maxDriverRows: Long): Option[LocalGraph] =
    driverFetch(s, dir, what, edges, maxDriverRows) { rows =>
      Some(LocalGraph(rows.toSeq.map(r => (r.getString(0), r.getString(1)))))
    }

  /** One guarded fetch of `df`, shaped by `build` and memoized as `what`
    * (suffixed by a non-default guard); None above the guard, with a
    * non-positive one or when `build` declines the rows.
    */
  private def driverFetch[T <: AnyRef](s: SparkSession, dir: String, what: String,
      df: => DataFrame, maxDriverRows: Long)(build: Array[Row] => Option[T]): Option[T] =
    if (maxDriverRows <= 0) None
    else Materialized.once(s,
        if (maxDriverRows == Model.MaxDriverRows) what else s"$what@$maxDriverRows", dir) {
      Model.driverRows(df, maxDriverRows, what).flatMap(build)
    }

  /** Path-doubling rounds of [[taxonomyClosure]]'s distributed arm:
    * min-depths ≤ 2^3 = 8 cover the 7-level hierarchy (6 rank edges +
    * the stale pseudo-root the dup-rank noise mints).
    */
  private val ClosureRounds = 3

  // RDFS-style taxonomy reasoning: transitive ancestor closure over
  // the parent edges encoded in the taxon rank paths (the pipe-joined
  // lineage strings matcher.py:133-180 consumes). Edges = adjacent
  // path elements (deeper element → its parent), distinct'ed —
  // dimension-sized (distinct lineages, not records) at any corpus
  // scale. min(depth) keeps the shortest derivation (unique on a tree;
  // well-defined on the noisy-path DAG — level-prefixed rank names make
  // cycles impossible, and a node on a cycle would be its own ancestor
  // in both arms).
  //
  // Two arms, like the organism-graph queries. While the edges fit the
  // shared row guard, a BFS per node over the memoized [[LocalGraph]]
  // emits every ancestor within 2^ClosureRounds steps at its min depth
  // and the ordered rows come back as a local relation, whose collect
  // runs no job: path doubling here was 16 one-task jobs over a few
  // hundred edges. Above the guard the closure runs as PATH DOUBLING:
  // round r extends the relation from min-depth ≤ 2^(r-1) to ≤ 2^r by
  // joining it with ITSELF, so a depth-D hierarchy closes in
  // ceil(log2 D) shuffle rounds instead of D semi-naive iterations,
  // each round localCheckpointed (the CC/PageRank discipline); it stays
  // the reference arm. The DuckDB oracle re-derives the edges from the
  // side-channel paths dump and closes them with a RECURSIVE CTE — a
  // different closure algorithm agreeing hash-exact.
  private[graft] def taxonomyClosure(s: SparkSession, dir: String,
      maxDriverRows: Long = Model.MaxDriverRows): DataFrame =
    taxonomyGraph(s, dir, maxDriverRows).map { g =>
      localRows(s, "node STRING, anc STRING, depth BIGINT",
        g.closure(1 << ClosureRounds)
          .map { case (v, a, d) => Row(g.names(v), g.names(a), d.toLong) }.toSeq)
    }.getOrElse {
      graft.ops.Closure.transitive(taxonomyEdges(s, dir), ClosureRounds)
        .orderBy(col("node"), col("anc"))
    }

  /** A driver arm's final rows as a local relation, whose collect runs
    * no Spark job; `ddl` spells the distributed arm's columns and types.
    */
  private[queries] def localRows(s: SparkSession, ddl: String, rows: Seq[Row]): DataFrame =
    s.createDataFrame(rows.asJava, StructType.fromDDL(ddl))

  // The BGP queries over the GloBI table, like kg_sparql_records and
  // kg_sparql_wdids, have two arms. While the table fits the shared row
  // guard, the pattern runs on the driver over [[globiTriples]]
  // ([[LocalTriples.evaluate]], the plan [[Bgp.compile]] runs) and the
  // group, count, order and limit follow there, so the rows come back
  // as a local relation and the query runs no Spark job: over a table
  // this size a Spark plan spends its time in planning, stage submission
  // and codegen, not in its joins. Above the guard the compiled plan
  // runs; it stays the reference arm.

  /** One BGP over the GloBI table in both arms: `local` shapes the
    * driver arm's `select` rows, `dist` the compiled plan's.
    */
  private def globiBgp(s: SparkSession, dir: String, maxDriverRows: Long, bgp: String,
      select: Seq[String])(local: (LocalTriples, Seq[Array[Int]]) => DataFrame)(
      dist: DataFrame => DataFrame): DataFrame =
    globiTriples(s, dir, maxDriverRows).map(ix => local(ix, ix.query(bgp, select)))
      .getOrElse(dist(Bgp.query(s.table(Materialized.globiTable(s, dir)), bgp, select)))

  /** Rows per distinct binding: `groupBy(select).count()` on the driver. */
  private def counts(rows: Seq[Array[Int]]): Seq[(IndexedSeq[Int], Long)] =
    rows.groupMapReduce(r => r.toIndexedSeq)(_ => 1L)(_ + _).toSeq

  // The SPARQL-star archetype: interaction records fanned out to their
  // source/target organisms, as a pattern string compiled by ops.Bgp
  // (the same-subject star joins land on the subj-bucketed table, so
  // they are exchange-free). The aggregate on top bounds the output; the
  // oracle re-states the pattern as explicit SQL joins, so a green row
  // certifies the compiler's plan, not a hand-translated query.
  private[graft] def bgpStar(s: SparkSession, dir: String,
      maxDriverRows: Long = Model.MaxDriverRows): DataFrame =
    globiBgp(s, dir, maxDriverRows,
      """?rec a emi:Interaction .
         ?rec emi:hasSource ?ss .
         ?rec emi:hasTarget ?ts .
         ?ss sosa:isSampleOf ?sorg .
         ?ts sosa:isSampleOf ?torg""",
      Seq("sorg", "torg"))({ (ix, rows) =>
      localRows(s, "sorg STRING, torg STRING, n_recs BIGINT",
        counts(rows).sortBy { case (k, n) => (-n, k(0), k(1)) }.take(20)
          .map { case (k, n) => Row(ix.name(k(0)), ix.name(k(1)), n) })
    })(_.groupBy(col("sorg"), col("torg"))
      .agg(count(lit(1)).as("n_recs"))
      .orderBy(col("n_recs").desc, col("sorg"), col("torg"))
      .limit(20))

  // A constant-literal anchor: "which source samples feed 'eats'
  // interactions". The planner seeds the join order at the most-constant
  // pattern (?it rdfs:label "eats", 2 constants), so the dimension-sized
  // interaction-type scan anchors the plan and AQE broadcasts it into
  // the record join.
  private[graft] def bgpFiltered(s: SparkSession, dir: String,
      maxDriverRows: Long = Model.MaxDriverRows): DataFrame =
    globiBgp(s, dir, maxDriverRows,
      """?rec emi:isClassifiedWith ?it .
         ?it rdfs:label "eats" .
         ?rec emi:hasSource ?ss .
         ?ss rdfs:label ?sname""",
      Seq("sname"))({ (ix, rows) =>
      localRows(s, "sname STRING, n_recs BIGINT",
        counts(rows).sortBy { case (k, n) => (-n, k(0)) }.take(15)
          .map { case (k, n) => Row(ix.name(k(0)), n) })
    })(_.groupBy(col("sname"))
      .agg(count(lit(1)).as("n_recs"))
      .orderBy(col("n_recs").desc, col("sname"))
      .limit(15))

  // Group-level FILTERs: cross-organism interactions whose source sample
  // label matches a regex (var≠var comparison + regex), applied after
  // the joins, with Catalyst free to push the single-variable regex into
  // the label scan.
  private[graft] def bgpFilterExpr(s: SparkSession, dir: String,
      maxDriverRows: Long = Model.MaxDriverRows): DataFrame =
    globiBgp(s, dir, maxDriverRows,
      """?rec emi:hasSource ?ss .
         ?rec emi:hasTarget ?ts .
         ?ss sosa:isSampleOf ?sorg .
         ?ts sosa:isSampleOf ?torg .
         ?ss rdfs:label ?sname .
         FILTER (?sorg != ?torg) .
         FILTER regex(?sname, "^Taxon 1[0-9]$")""",
      Seq("sname"))({ (ix, rows) =>
      localRows(s, "sname STRING, n_recs BIGINT",
        counts(rows).sortBy(_._1(0)).map { case (k, n) => Row(ix.name(k(0)), n) })
    })(_.groupBy(col("sname"))
      .agg(count(lit(1)).as("n_recs"))
      .orderBy(col("sname")))

  // An OPTIONAL group: interaction-type label histogram with an optional
  // per-record location — the left-join arm (the SPARQL shape
  // kg_sparql_trydb_metrics hand-writes as left joins, here from a
  // pattern string).
  private[graft] def bgpOptional(s: SparkSession, dir: String,
      maxDriverRows: Long = Model.MaxDriverRows): DataFrame =
    globiBgp(s, dir, maxDriverRows,
      """?rec emi:isClassifiedWith ?it .
         ?it rdfs:label ?ilabel .
         OPTIONAL { ?rec prov:atLocation ?loc }""",
      Seq("ilabel", "loc"))({ (ix, rows) =>
      localRows(s, "ilabel STRING, n_recs BIGINT, n_located BIGINT",
        rows.groupMapReduce(_(0))(r => (1L, if (r(1) >= 0) 1L else 0L)) {
          case ((a, b), (c, d)) => (a + c, b + d)
        }.toSeq.sortBy(_._1).map { case (l, (n, located)) => Row(ix.name(l), n, located) })
    })(_.groupBy(col("ilabel"))
      .agg(count(lit(1)).as("n_recs"), count(col("loc")).as("n_located"))
      .orderBy(col("ilabel")))

  // SPARQL property path `p+`: descendants of the Kingdom0 root via a
  // transitive predicate pattern (`?d <broader>+ "Kingdom0"`), joined
  // with the direct-parent pattern. Under the row guard the memoized
  // [[taxonomyGraph]] answers it: its closure within 2^ClosureRounds
  // steps (what Bgp's `+` arm reaches in ClosureRounds path-doubling
  // rounds) gives the descendants, their out-edges the parents. Above
  // it Bgp compiles the `+` term to Closure.transitive over the edge
  // set and joins it like any other pattern. The oracle re-derives it
  // with a recursive CTE.
  private[graft] def bgpPathPlus(s: SparkSession, dir: String,
      maxDriverRows: Long = Model.MaxDriverRows): DataFrame = {
    val B = "urn:graft:broader"
    taxonomyGraph(s, dir, maxDriverRows).map { g =>
      val root = g.names.indexOf("Kingdom0")
      localRows(s, "d STRING, p STRING",
        g.closure(1 << ClosureRounds).collect { case (d, a, _) if a == root => d }
          .flatMap(d => g.successors(d).map(p => Row(g.names(d), g.names(p)))).toSeq)
    }.getOrElse {
      val triples = taxonomyEdges(s, dir).select(
        col("child").as("subj"), lit(B).as("pred"), col("parent").as("obj"))
      Bgp.query(triples, s"""?d <$B>+ "Kingdom0" . ?d <$B> ?p""",
        Seq("d", "p"), plusRounds = ClosureRounds)
        .orderBy(col("d"), col("p"))
    }
  }

  /** Spark's `round(_, 6)` on a double: HALF_UP over `BigDecimal(d)`. */
  private[graft] def round6(d: Double): Double =
    if (d.isNaN || d.isInfinite) d
    else BigDecimal(d).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  // CS3 generalization: PageRank over the organism interaction graph
  // (influence ranking where kg_cs_top_degree is raw degree —
  // CS3_viz.py:33-35's "most connected organisms" summary). Directed
  // distinct edges src-organism → target-organism via each record's
  // hasSource/hasTarget samples; 10 fixed power iterations, damping
  // 0.85, dangling mass dropped (documented simplification, mirrored
  // in the oracle). Ranks are scaled by |V| and rounded to 6 dp only
  // at the END, so cross-engine float noise (~1e-13 from summation
  // order) never compounds into the compare.
  //
  // Two arms, as for every query on the organism graph. The graph is
  // DIMENSION-sized (organisms, not rows; the vocabulary grows
  // sub-linearly with the corpus), so below the shared row guard the
  // ten rounds run on the driver over the memoized [[LocalGraph]]: a
  // round of the distributed loop is a few jobs and a checkpoint round
  // trip over a few hundred rows, which costs far more than the
  // arithmetic. Above the guard [[Iterate.powerIteration]] runs: its
  // static inputs stay localCheckpointed rather than
  // repartition+persist'ed, because per-round columnar-cache decode
  // cost more than the avoided shuffle of an edge list (4.1 s
  // checkpoint vs 5.2 s cache at sf0.1).
  private[graft] def pageRank(s: SparkSession, dir: String,
      maxDriverRows: Long = Model.MaxDriverRows): DataFrame =
    organismGraph(s, dir, maxDriverRows).map { g =>
      val n = g.size
      var rank = Array.fill(n)(1.0 / n)
      for (_ <- 1 to 10) rank = g.pageRankStep(rank, 0.15 / n, 0.85)
      localRows(s, "organism STRING, pr_scaled DOUBLE",
        (0 until n).map(v => (-round6(rank(v) * n), v)).sorted.take(20)
          .map { case (p, v) => Row(g.names(v), -p) })
    }.getOrElse {
      val edges = organismEdgesDirected(s, dir)
      val adj = edges.select(col("src").as("a"), col("dst").as("b"))
      val nodes = Adjacency.symmetric(edges.select(col("src").as("u"), col("dst").as("v")))
        .select(col("a").as("node")).distinct().localCheckpoint(true)
      val n = nodes.count()
      val pr = Iterate.powerIteration(adj, Adjacency.degrees(adj).localCheckpoint(true),
        nodes.select(col("node"), lit(0.15 / n).as("restart")),
        nodes.select(col("node"), lit(1.0 / n).as("rank")), 10)
      pr.select(col("node").as("organism"),
          round(col("rank") * lit(n.toDouble), 6).as("pr_scaled"))
        .orderBy(col("pr_scaled").desc, col("organism")).limit(20)
    }

  // Multi-source BFS reach (closeness-lite): for the top-3 hub
  // organisms (undirected degree, name tiebreak), how many organisms
  // sit at distance exactly 1, 2, 3 — the "how far does a hub's
  // influence extend" centrality slice (CS3's ego-network archetype
  // generalized one ring further). At most 3 expansion rounds on BOTH
  // engines (an empty ring ends the walk early and emits no row): the
  // distributed arm is [[Iterate.frontierWalk]] — one shuffle per
  // round, frontier rows only (never the full graph), k bounded.
  private[graft] def bfsReach(s: SparkSession, dir: String,
      maxDriverRows: Long = Model.MaxDriverRows): DataFrame =
    organismGraph(s, dir, maxDriverRows).map { g =>
      val hubs = (0 until g.size).sortBy(v => (-g.degree(v), v)).take(3).sorted
      localRows(s, "hub STRING, dist BIGINT, n_nodes BIGINT", for {
        h <- hubs
        (n, d) <- g.rings(Seq(h), 3).toSeq.zipWithIndex if n > 0
      } yield Row(g.names(h), d + 1L, n.toLong))
    }.getOrElse {
      val adj = Adjacency.symmetric(organismEdges(s, dir)) // memo-checkpointed
      Iterate.frontierWalk(adj, Adjacency.topByDegree(adj, 3), 3)
        .filter(col("dist") > 0)
        .groupBy(col("hub"), col("dist")).agg(count(lit(1)).as("n_nodes"))
        .orderBy(col("hub"), col("dist"))
    }

  // Degree distribution of the undirected organism graph: histogram
  // plus the descending cumulative count (the CCDF both power-law
  // eyeballing and cap-sizing policies read). The windowed cumsum runs
  // over the HISTOGRAM (distinct degree values — dimension-sized even
  // at 100 TB), never over nodes, so the unpartitioned window is safe
  // by construction; integer-exact in both engines.
  private[graft] def degreeDist(s: SparkSession, dir: String,
      maxDriverRows: Long = Model.MaxDriverRows): DataFrame =
    organismGraph(s, dir, maxDriverRows).map { g =>
      val hist = (0 until g.size).groupMapReduce(g.degree(_).toLong)(_ => 1L)(_ + _)
        .toSeq.sorted
      val atLeast = hist.scanRight(0L) { case ((_, c), ge) => c + ge }
      localRows(s, "degree BIGINT, n_nodes BIGINT, n_nodes_ge BIGINT",
        hist.zip(atLeast).map { case ((d, c), ge) => Row(d, c, ge) })
    }.getOrElse {
      import org.apache.spark.sql.expressions.Window
      val deg = Adjacency.degrees(Adjacency.symmetric(organismEdges(s, dir)))
      val hist = deg.groupBy(col("d").as("degree")).agg(count(lit(1)).as("n_nodes"))
      val w = Window.orderBy(col("degree").desc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      hist.withColumn("n_nodes_ge", sum(col("n_nodes")).over(w))
        .orderBy(col("degree"))
    }

  // CS3 generalization: triangle counting over the undirected
  // organism interaction graph (the clustering-coefficient /
  // community-density companion to kg_cs_top_degree's raw degree and
  // kg_cs_pagerank's influence rank). Degree-ordered orientation —
  // every edge directed from its lower-(degree, name) endpoint — makes
  // the oriented graph a DAG whose wedge enumeration is generated at
  // each triangle's LOWEST-degree vertex: per-vertex join fan-out is
  // bounded by min-degree, the classic O(m^1.5) bound, so a hub with
  // 10^6 neighbors never explodes the candidate space the way a naive
  // wedge join at arbitrary vertices would. Both multiply-referenced
  // frames are localCheckpointed — `und` feeds the degree aggregate
  // plus the orientation join, `e` the 3-way self-join (the
  // kg_sparql_wdids single-evaluation lesson) — and the triangle set
  // itself is aggregated ONCE (the global count derives from the
  // per-node counts: each triangle contributes exactly 3 ends).
  private[graft] def triangles(s: SparkSession, dir: String,
      maxDriverRows: Long = Model.MaxDriverRows): DataFrame =
    organismGraph(s, dir, maxDriverRows).map { g =>
      val t = g.triangleCounts
      val total = t.sum / 3
      localRows(s, "organism STRING, n_triangles BIGINT, total_triangles BIGINT",
        (0 until g.size).filter(t(_) > 0).sortBy(v => (-t(v), v)).take(20)
          .map(v => Row(g.names(v), t(v), total)))
    }.getOrElse {
      val perNode = organismTriangles(s, dir) // memo-checkpointed
      val total = perNode
        .agg((sum(col("n_triangles")) / 3).cast("long").as("total_triangles"))
      perNode.crossJoin(broadcast(total))
        .orderBy(col("n_triangles").desc, col("organism")).limit(20)
    }

  // Local clustering coefficient: lcc(v) = 2·T(v) / (deg(v)·(deg(v)−1))
  // over the undirected organism graph — the per-node companion to the
  // global triangle count (CS3's density archetype, per-node). Consumes
  // the memoized per-node triangle counts (shared with kg_cs_triangles),
  // so its marginal cost beyond the memo is one degree aggregate and a
  // node-scale left join — at corpus scale the wedge join runs ONCE for
  // both queries. The ratio is a single double division with identical
  // operand spelling in both engines; round-6 absorbs nothing here
  // (exact small-integer ratios) but keeps the family convention.
  private[graft] def lcc(s: SparkSession, dir: String,
      maxDriverRows: Long = Model.MaxDriverRows): DataFrame =
    organismGraph(s, dir, maxDriverRows).map { g =>
      val t = g.triangleCounts
      localRows(s, "organism STRING, degree BIGINT, n_triangles BIGINT, lcc DOUBLE",
        (0 until g.size).filter(g.degree(_) >= 2).map { v =>
          val d = g.degree(v).toLong
          (-round6((t(v) * 2).toDouble / (d.toDouble * (d - 1).toDouble)), v)
        }.sorted.take(15)
          .map { case (l, v) => Row(g.names(v), g.degree(v).toLong, t(v), -l) })
    }.getOrElse {
      Adjacency.degrees(Adjacency.symmetric(organismEdges(s, dir)))
        .select(col("n").as("organism"), col("d").as("degree"))
        .filter(col("degree") >= 2)
        .join(organismTriangles(s, dir), Seq("organism"), "left")
        .select(col("organism"), col("degree"),
          coalesce(col("n_triangles"), lit(0L)).as("n_triangles"))
        .withColumn("lcc",
          round((col("n_triangles") * 2).cast("double") /
            (col("degree").cast("double") * (col("degree") - 1).cast("double")),
            6))
        .orderBy(col("lcc").desc, col("organism")).limit(15)
    }

  // CS3 generalization: neighborhood-Jaccard link prediction — the
  // top-20 organism pairs NOT directly connected but sharing
  // interaction partners (common-neighbor wedge count / union of
  // neighborhoods). One wedge self-join on the shared neighbor + one
  // degree aggregate + an anti-join against the existing edge set.
  // The wedge enumeration is O(Σ deg(x)²) — safe here because the
  // organism graph is dimension-sized (it grows with the vocabulary,
  // not the corpus); on a corpus-scale graph this is where a per-node
  // wedge cap or neighborhood MinHash replaces exact counting, the
  // same policy boundary lshCandidates' maxBucket draws.
  private[graft] def jaccardNbrs(s: SparkSession, dir: String,
      maxDriverRows: Long = Model.MaxDriverRows): DataFrame =
    organismGraph(s, dir, maxDriverRows).map { g =>
      localRows(s, "u STRING, v STRING, common BIGINT, jaccard DOUBLE",
        g.openPairs.map { case (u, v) =>
          val c = g.intersectCount(u, v).toLong
          (-round6(c.toDouble / (g.degree(u) + g.degree(v) - c).toDouble), u, v, c)
        }.toSeq.sorted.take(20)
          .map { case (j, u, v, c) => Row(g.names(u), g.names(v), c, -j) })
    }.getOrElse {
      // memo-checkpointed; referenced by wedges, degrees AND anti-join
      val und = organismEdges(s, dir)
      val sym = Adjacency.symmetric(und)
      val deg = Adjacency.degrees(sym)
      // edges are distinct, so the wedge count of a pair IS its
      // common-neighbor count
      val cand = Adjacency.wedges(sym)
        .groupBy(col("u"), col("v")).agg(count(lit(1)).as("common"))
      cand.join(und, Seq("u", "v"), "left_anti")
        .join(deg.select(col("n").as("u"), col("d").as("du")), Seq("u"))
        .join(deg.select(col("n").as("v"), col("d").as("dv")), Seq("v"))
        .select(col("u"), col("v"), col("common"),
          round(col("common").cast("double")
            / (col("du") + col("dv") - col("common")), 6).as("jaccard"))
        .orderBy(col("jaccard").desc, col("u"), col("v")).limit(20)
    }

  // Adamic-Adar link prediction — the degree-weighted companion to
  // kg_cs_jaccard_nbrs: common neighbors count 1/ln(deg(w)) each, so
  // hub co-neighbors contribute less than specialist ones. Same
  // oriented-wedge enumeration and anti-join; a shared neighbor of a
  // non-adjacent pair has degree ≥ 2, so ln(deg) is never 0. Scores
  // are round-6 doubles with the (u, v) tiebreak; the float sum runs
  // over the handful of common neighbors per pair.
  private[graft] def adamicAdar(s: SparkSession, dir: String,
      maxDriverRows: Long = Model.MaxDriverRows): DataFrame =
    organismGraph(s, dir, maxDriverRows).map { g =>
      localRows(s, "u STRING, v STRING, common BIGINT, aa DOUBLE",
        g.openPairs.map { case (u, v) =>
          var aa = 0.0
          // Spark's log is StrictMath.log
          val c = g.intersect(u, v)(w => aa += 1.0 / StrictMath.log(g.degree(w).toDouble))
          (-round6(aa), u, v, c.toLong)
        }.toSeq.sorted.take(20)
          .map { case (a, u, v, c) => Row(g.names(u), g.names(v), c, -a) })
    }.getOrElse {
      // memo-checkpointed; referenced by wedges, degrees AND anti-join
      val und = organismEdges(s, dir)
      val sym = Adjacency.symmetric(und)
      val cand = Adjacency.wedges(sym)
        .join(Adjacency.degrees(sym).select(col("n").as("w"), col("d").as("dw")), Seq("w"))
        .groupBy(col("u"), col("v"))
        .agg(count(lit(1)).as("common"),
          round(sum(lit(1.0) / log(col("dw").cast("double"))), 6).as("aa"))
      cand.join(und, Seq("u", "v"), "left_anti")
        .select(col("u"), col("v"), col("common"), col("aa"))
        .orderBy(col("aa").desc, col("u"), col("v")).limit(20)
    }

  // Capped wedge enumeration with a drop ledger — the CORPUS-SCALE
  // policy the exact link-prediction queries above document in prose,
  // now in code: each wedge center admits only its first WedgeCap
  // neighbors (deterministic: ranked by neighbor id), bounding the
  // per-node wedge fan-out at WedgeCap·(WedgeCap−1)/2 regardless of
  // hub degree — the same cap-with-accounting convention as
  // Dedup.lshCandidates' maxBucket/lshDroppedBuckets. The ledger
  // (wedges_kept / wedges_total, exact integer arithmetic via `div`,
  // no double division) rides every row so a consumer can see the
  // approximation rate; the cap is sized so the deterministic fixture
  // genuinely drops wedges at every test scale (pinned in
  // CaseStudySpec). Top pairs are ranked by the CAPPED common count —
  // on a hub-skewed corpus graph this is the plan that survives,
  // because the exact wedge join is O(Σ deg²) on the hottest key.
  private[graft] def wedgeCapped(s: SparkSession, dir: String,
      maxDriverRows: Long = Model.MaxDriverRows): DataFrame =
    organismGraph(s, dir, maxDriverRows).map { g =>
      val common = scala.collection.mutable.HashMap.empty[(Int, Int), Long]
      for (a <- 0 until g.size) {
        val kept = g.neighbors(a).take(WedgeCap).toArray
        for (i <- kept.indices; j <- i + 1 until kept.length)
          common((kept(i), kept(j))) = common.getOrElse((kept(i), kept(j)), 0L) + 1
      }
      val d = (0 until g.size).map(g.degree(_).toLong)
      val keptW = d.map(x => math.min(x, WedgeCap) * (math.min(x, WedgeCap) - 1)).sum / 2
      val totalW = d.map(x => x * (x - 1)).sum / 2
      localRows(s, "u STRING, v STRING, common_capped BIGINT, wedges_kept BIGINT, " +
          "wedges_total BIGINT",
        common.iterator.collect { case ((u, v), c) if !g.adjacent(u, v) => (-c, u, v) }
          .toSeq.sorted.take(20)
          .map { case (c, u, v) => Row(g.names(u), g.names(v), -c, keptW, totalW) })
    }.getOrElse {
      import org.apache.spark.sql.expressions.Window
      val und = organismEdges(s, dir) // memo-checkpointed
      val sym = Adjacency.symmetric(und)
      val ranked = sym.withColumn("r",
        row_number().over(Window.partitionBy(col("a")).orderBy(col("b"))))
      val kept = ranked.filter(col("r") <= WedgeCap).drop("r")
      val ledger = Adjacency.degrees(sym).agg(
        expr(s"sum(least(d, $WedgeCap) * (least(d, $WedgeCap) - 1)) div 2")
          .as("wedges_kept"),
        expr("sum(d * (d - 1)) div 2").as("wedges_total"))
      val cand = Adjacency.wedges(kept)
        .groupBy(col("u"), col("v")).agg(count(lit(1)).as("common_capped"))
      cand.join(und, Seq("u", "v"), "left_anti")
        .orderBy(col("common_capped").desc, col("u"), col("v")).limit(20)
        .crossJoin(broadcast(ledger))
    }

  // Degree assortativity of the interaction graph — the one-number
  // "do hubs link to hubs?" summary (Newman 2002): Pearson r over the
  // (deg(u), deg(v)) pairs of every directed edge (both orientations,
  // the undirected convention). Computed from EXACT integer sums
  // (n, Σx, Σy, Σxy, Σx², Σy² — degrees are integers) so the only
  // float arithmetic is the final closed-form division, round-6 on
  // both engines; no corr() built-in whose definition could differ.
  private[graft] def assortativity(s: SparkSession, dir: String,
      maxDriverRows: Long = Model.MaxDriverRows): DataFrame =
    organismGraph(s, dir, maxDriverRows).map { g =>
      val pairs = (0 until g.size).flatMap { a =>
        g.neighbors(a).map(b => (g.degree(a).toLong, g.degree(b).toLong))
      }
      val n = pairs.size.toLong
      def total(f: ((Long, Long)) => Long): Long = pairs.iterator.map(f).sum
      val (sx, sy) = (total(_._1), total(_._2))
      val vx = n * total(p => p._1 * p._1) - sx * sx
      val vy = n * total(p => p._2 * p._2) - sy * sy
      val r = if (vx > 0 && vy > 0)
        round6((n * total(p => p._1 * p._2) - sx * sy).toDouble /
          math.sqrt(vx.toDouble * vy.toDouble))
      else null
      localRows(s, "n_directed_edges BIGINT, assortativity DOUBLE", Seq(Row(n, r)))
    }.getOrElse {
      val sym = Adjacency.symmetric(organismEdges(s, dir)) // memo-checkpointed
      val deg = Adjacency.degrees(sym)
      val pairs = sym
        .join(deg.select(col("n").as("a"), col("d").as("x")), Seq("a"))
        .join(deg.select(col("n").as("b"), col("d").as("y")), Seq("b"))
      val sums = pairs.agg(count(lit(1)).as("n"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("y") * col("y")).as("syy"))
      // zero-variance guard (degree-regular graph ⇒ both variances 0):
      // emit NULL instead of a NaN whose engine-specific formatting
      // could diverge the gate on degenerate inputs — the ev_anomaly
      // variance-guard convention, mirrored in the oracle SQL
      val vx = col("n") * col("sxx") - col("sx") * col("sx")
      val vy = col("n") * col("syy") - col("sy") * col("sy")
      sums.select(col("n").as("n_directed_edges"),
        when(vx > 0 && vy > 0,
          round((col("n") * col("sxy") - col("sx") * col("sy")).cast("double")
            / sqrt(vx.cast("double") * vy.cast("double")), 6))
          .as("assortativity"))
    }
  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    "kg_pipeline_triples_dist" -> ((s: SparkSession, dir: String) => {
      // the memoized broadcast-arm build also writes the matched
      // side-channel the oracle derives its dictionaries from
      val (records, _) = Materialized.recordsAndMatched(s, dir)
      val matched = Link.matchTaxaAdaptive(records, DataGen.wdSparqlRows,
        DataGen.lineageRows, maxDriverRows = 0L)
      val (dictId, dictName) = Materialize.wdMapDicts(matched, maxDriverRows = 0L)
      val mm = Extract.mediaMentions(records, DataGen.mediaMeta(s))
      Materialize.globiTriplesFused(records, dictId, dictName, Some(mm),
        maxDriverRows = 0L)
    }),

    // CS3: top-20 organisms by interaction degree (both interaction
    // ends count; sample → organism via sosa:isSampleOf). The
    // isSampleOf pattern's join key is the bucketed subj column.
    "kg_cs_top_degree" -> ((s: SparkSession, dir: String) => {
      val t = s.table(Materialized.globiTable(s, dir))
      val ends = t
        .filter(col("pred") === EMI + "hasSource" ||
          col("pred") === EMI + "hasTarget")
        .select(col("obj").as("sample"))
      val sampleOf = t.filter(col("pred") === SOSA + "isSampleOf")
        .select(col("subj").as("sample"), col("obj").as("organism"))
      ends.join(sampleOf, Seq("sample"))
        .groupBy(col("organism"))
        .agg(count(lit(1)).as("degree"))
        .orderBy(col("degree").desc, col("organism"))
        .limit(20)
    }),

    // CS3 directional degrees (CS3_viz.py:88-93): the reference builds
    // a networkx DiGraph over (sourceName → targetName) label pairs —
    // parallel edges COLLAPSE (DiGraph) — and reports out_degree /
    // in_degree / total per species. Distinct directed name edges, then
    // two counts full-outer-joined.
    "kg_cs_degree_dir" -> ((s: SparkSession, dir: String) => {
      val t = s.table(Materialized.globiTable(s, dir))
      val hs = t.filter(col("pred") === EMI + "hasSource")
        .select(col("subj").as("intxn"), col("obj").as("src"))
      val ht = t.filter(col("pred") === EMI + "hasTarget")
        .select(col("subj").as("intxn"), col("obj").as("tgt"))
      val lbl = t.filter(col("pred") === RDFS_LABEL)
        .select(col("subj"), col("obj").as("name"))
      val edges = hs.join(ht, Seq("intxn"))
        .join(lbl.withColumnRenamed("subj", "src")
          .withColumnRenamed("name", "sourceName"), Seq("src"))
        .join(lbl.withColumnRenamed("subj", "tgt")
          .withColumnRenamed("name", "targetName"), Seq("tgt"))
        .select(col("sourceName"), col("targetName")).distinct()
      val outD = edges.groupBy(col("sourceName").as("species"))
        .agg(count(lit(1)).as("out_degree"))
      val inD = edges.groupBy(col("targetName").as("species"))
        .agg(count(lit(1)).as("in_degree"))
      outD.join(inD, Seq("species"), "full_outer")
        .select(col("species"),
          (coalesce(col("out_degree"), lit(0L)) +
            coalesce(col("in_degree"), lit(0L))).as("total_connections"),
          coalesce(col("out_degree"), lit(0L)).as("out_degree"),
          coalesce(col("in_degree"), lit(0L)).as("in_degree"))
        .orderBy(col("total_connections").desc, col("species"))
        .limit(20)
    }),

    // CS1: cross-dataset species completeness (CS1_viz.py:63-75) — the
    // species common to the interaction AND trait datasets, the
    // common_only=True network input. Species names come from sample
    // labels in BOTH bucketed triple tables; the intersection is a
    // full-outer join with presence flags.
    "kg_cs_completeness" -> ((s: SparkSession, dir: String) => {
      def speciesNames(t: DataFrame): DataFrame =
        t.filter(col("pred") === SOSA + "isSampleOf")
          .select(col("subj").as("sample"))
          .join(t.filter(col("pred") === RDFS_LABEL)
            .select(col("subj").as("sample"), col("obj").as("name")), Seq("sample"))
          .select(col("name")).distinct()
      val gi = speciesNames(s.table(Materialized.globiTable(s, dir)))
        .withColumn("in_interactions", lit(1))
      val tr = speciesNames(s.table(Materialized.trydbTable(s, dir)))
        .withColumn("in_traits", lit(1))
      gi.join(tr, Seq("name"), "full_outer")
        .select(col("name"),
          coalesce(col("in_interactions"), lit(0)).as("in_interactions"),
          coalesce(col("in_traits"), lit(0)).as("in_traits"))
        .filter(col("in_interactions") + col("in_traits") === 2)
        .orderBy(col("name"))
    }),

    // CS4: substring-dictionary filter + flow aggregation
    // (CS4_viz.py is_fungus + the parasite→plant groupby flows): drop
    // interactions whose SOURCE name contains any term of a taxon list
    // (the reference's FUNGAL_TAXA `in` check, case-insensitive
    // substring), then count the (source, target) flow.
    "kg_cs_fungal_flow" -> ((s: SparkSession, dir: String) => {
      val t = s.table(Materialized.globiTable(s, dir))
      val cw = t.filter(col("pred") === EMI + "isClassifiedWith")
        .select(col("subj").as("rec"), col("obj").as("itype"))
      val lbl = t.filter(col("pred") === RDFS_LABEL)
      val pOf = cw.join(lbl.select(col("subj").as("itype"),
          col("obj").as("ilabel")), Seq("itype"))
        .filter(col("ilabel") === "parasiteOf").select(col("rec"))
      val hs = t.filter(col("pred") === EMI + "hasSource")
        .select(col("subj").as("rec"), col("obj").as("srcu"))
      val ht = t.filter(col("pred") === EMI + "hasTarget")
        .select(col("subj").as("rec"), col("obj").as("tgtu"))
      val named = pOf.join(hs, Seq("rec")).join(ht, Seq("rec"))
        .join(lbl.select(col("subj").as("srcu"), col("obj").as("sname")), Seq("srcu"))
        .join(lbl.select(col("subj").as("tgtu"), col("obj").as("tname")), Seq("tgtu"))
      val isFungal = FungalTaxa
        .map(f => lower(col("sname")).contains(f)).reduce(_ || _)
      named.filter(!isFungal)
        .groupBy(col("sname"), col("tname"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("sname"), col("tname"))
    }),

    // CS2 trait diversity (CS2_viz.py:95): distinct trait labels per
    // species over the TRY-db table, top-15.
    "kg_cs_trait_diversity" -> ((s: SparkSession, dir: String) => {
      val t = s.table(Materialized.trydbTable(s, dir))
      val lbl = t.filter(col("pred") === RDFS_LABEL)
      val chain = t.filter(col("pred") === SOSA + "isFeatureOfInterestOf")
        .select(col("subj").as("sample"), col("obj").as("obs"))
        .join(lbl.select(col("subj").as("sample"), col("obj").as("spName")),
          Seq("sample"))
        .join(t.filter(col("pred") === SOSA + "hasResult")
          .select(col("subj").as("obs"), col("obj").as("res")), Seq("obs"))
        .join(lbl.select(col("subj").as("res"), col("obj").as("dataLab")),
          Seq("res"))
      chain.groupBy(col("spName"))
        .agg(countDistinct(col("dataLab")).as("n_traits"))
        .orderBy(col("n_traits").desc, col("spName"))
        .limit(15)
    }),

    "kg_cs_pagerank" -> ((s: SparkSession, dir: String) => pageRank(s, dir)),

    // Personalized PageRank from the top-degree hub over the symmetric
    // organism graph: the restart mass (0.15) concentrates at ONE seed
    // instead of spreading 1/n everywhere, so the stationary vector
    // ranks proximity to the seed — the link-prediction / related-entity
    // primitive (the random-walk counterpart of kg_cs_adamic_adar's
    // counting heuristic). The same [[Iterate.powerIteration]] as
    // kg_cs_pagerank's distributed arm, over the symmetric adjacency and
    // with the seed as start and restart vector: 10 rounds, dimension-
    // sized state.
    "kg_cs_ppr" -> ((s: SparkSession, dir: String) => {
      val adj = Adjacency.symmetric(organismEdges(s, dir)).localCheckpoint(true)
      // symmetric graph ⇒ every node appears in deg (no dangling mass)
      val deg = Adjacency.degrees(adj).localCheckpoint(true)
      val seed = deg.join(Adjacency.topByDegree(adj, 1), col("n") === col("hub"), "left")
        .select(col("n").as("node"), when(col("hub").isNotNull, lit(1.0)).otherwise(lit(0.0))
          .as("rank"))
        .localCheckpoint(true)
      val pr = Iterate.powerIteration(adj, deg,
        seed.select(col("node"), (col("rank") * lit(0.15)).as("restart")), seed, 10)
      pr.select(col("node").as("organism"), round(col("rank"), 6).as("ppr"))
        .orderBy(col("ppr").desc, col("organism")).limit(20)
    }),

    "kg_cs_degree_dist" -> ((s: SparkSession, dir: String) => degreeDist(s, dir)),

    "kg_cs_triangles" -> ((s: SparkSession, dir: String) => triangles(s, dir)),

    "kg_cs_lcc" -> ((s: SparkSession, dir: String) => lcc(s, dir)),

    // Hop-bounded weighted single-source shortest paths (Bellman-Ford,
    // 4 synchronous relaxation rounds) from the top-degree hub, with
    // deterministic md5-derived edge weights in 1..9 so the shortest
    // paths are genuinely weighted (a pure-BFS distance would collapse
    // to kg_cs_bfs_reach). Each round is ONE shuffle — dist ⋈ edges →
    // min-aggregate — over node-scale state; the edge set is the shared
    // memoized derivation, and the rounds run on [[Iterate.rounds]].
    // `dist` is referenced twice per round (probe + union), so the
    // un-checkpointed round's subtree executes twice in the next action
    // — bounded at one doubling by the every-second-round checkpoint.
    // Integer weights ⇒ integer distances ⇒ hash-exact across engines.
    "kg_cs_sssp" -> ((s: SparkSession, dir: String) => {
      val sym = Adjacency.symmetric(organismEdges(s, dir).withColumn("w",
          pmod(graft.ops.Dedup.hash60(concat(col("u"), lit("|"), col("v"))), lit(9L)) + 1))
        .localCheckpoint(true)
      val hub = Adjacency.topByDegree(sym, 1)
        .select(col("hub").as("node"), lit(0L).as("dist")).localCheckpoint(true)
      Iterate.rounds(hub, 4) { dist =>
        dist.union(dist.join(sym, dist("node") === sym("a"))
            .select(col("b").as("node"), (col("dist") + col("w")).as("dist")))
          .groupBy(col("node")).agg(min(col("dist")).as("dist"))
      }.orderBy(col("dist"), col("node")).limit(25)
    }),

    // CS3 generalization: 3-core of the undirected organism interaction
    // graph — the dense-backbone companion to degree / PageRank /
    // triangles. Iterative peeling (drop nodes of degree < 3, repeat to
    // fixpoint): each round is ONE degree aggregate + two left-semi
    // joins over an edge set that only ever shrinks, localCheckpointed
    // so round r+1 starts from materialized blocks instead of replaying
    // r rounds of lineage — the same iterative-DataFrame discipline as
    // the CC and PageRank loops. Convergence is the edge COUNT reaching
    // a fixpoint: peeling is monotone decreasing, so equal counts ⇒
    // equal sets, and the count rides the checkpoint action for free.
    // The DuckDB oracle unrolls 12 peel rounds per arm, with the k=3
    // arm continuing from the k=2 arm's result exactly like the engine
    // (peeling past the fixpoint is a no-op, so over-unrolling is
    // safe). Under-unrolling CANNOT silently diverge: each engine peel
    // REQUIRES its fixpoint within 13 observed rounds (12 effective +
    // the round that witnesses no change) — a deeper graph fails the
    // query loudly instead of hash-mismatching the oracle. PlanSpec's
    // brute-force twin pins the semantics independently of the bound.
    "kg_cs_kcore" -> ((s: SparkSession, dir: String) => {
      val und = organismEdges(s, dir) // memo-checkpointed

      def peel(start: DataFrame, k: Int): DataFrame = {
        var edges = start
        var m = edges.count()
        var converged = false
        var rounds = 0
        while (!converged && rounds < 13) {
          val keep = Adjacency.degrees(Adjacency.symmetric(edges))
            .filter(col("d") >= k).select(col("n"))
          val next = edges
            .join(keep.select(col("n").as("u")), Seq("u"), "left_semi")
            .join(keep.select(col("n").as("v")), Seq("v"), "left_semi")
            .localCheckpoint(true)
          val m2 = next.count()
          converged = m2 == m
          m = m2
          edges = next
          rounds += 1
        }
        require(converged,
          s"$k-core peeling did not converge within 12 effective rounds — " +
            "raise the oracle unroll depth in lockstep")
        edges
      }
      def degrees(edges: DataFrame, k: Int): DataFrame =
        Adjacency.degrees(Adjacency.symmetric(edges))
          .select(lit(k).as("k"), col("n").as("organism"), col("d").as("core_degree"))
      // the (k+1)-core is a subgraph of the k-core, so each peel starts
      // from the previous core's (checkpointed, smaller) edge set
      val core2 = peel(und, 2)
      val core3 = peel(core2, 3)
      degrees(core2, 2).union(degrees(core3, 3))
        .orderBy(col("k"), col("core_degree").desc, col("organism"))
    }),

    // CS3 generalization: community detection by synchronous label
    // propagation over the organism graph — the modularity-flavored
    // companion to connected components (which merges anything
    // reachable). EXACTLY 5 synchronous rounds on both engines (no
    // fixpoint detection to drift): every node starts as its own label
    // and each round adopts the most frequent label among its
    // neighbors, ties broken by the lexicographically smallest label —
    // fully deterministic, so the DuckDB oracle unrolls the identical
    // 5 rounds. Each round is one join + one count aggregate + one
    // per-node argmax window (partitioned by node — never global), on
    // [[Iterate.rounds]]. Output: the top-25 communities by size plus
    // the total-community-count rider.
    "kg_cs_communities" -> ((s: SparkSession, dir: String) => {
      import org.apache.spark.sql.expressions.Window
      val und = organismEdges(s, dir)
      // pre-partition the (static) edge list by the join key ONCE and
      // persist: InMemoryRelation preserves the repartition's
      // outputPartitioning, so each round's join re-shuffles only the
      // node-scale label side, never the edge list — at 100 TB the
      // edges dominate and would otherwise shuffle every round.
      // localCheckpoint would NOT work here: it erases partitioning to
      // UnknownPartitioning (pinned in PlanSpec), which is why the
      // static side uses persist while the per-round labels (whose
      // lineage must be truncated) keep using localCheckpoint
      val sym = Adjacency.symmetric(und).repartition(col("b")).persist()
      val w = Window.partitionBy(col("a"))
        .orderBy(col("c").desc, col("label").asc)
      val start = sym.select(col("a").as("node")).distinct()
        .withColumn("label", col("node"))
        .localCheckpoint(true)
      val labels = Iterate.rounds(start, 5) { prev =>
        sym.join(prev, col("b") === col("node"))
          .groupBy(col("a"), col("label")).agg(count(lit(1)).as("c"))
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1)
          .select(col("a").as("node"), col("label"))
      }
      val comm = labels.groupBy(col("label").as("community"))
        .agg(count(lit(1)).as("n_members"))
        .localCheckpoint(true) // community-scale; referenced by rows + total
      sym.unpersist(false) // comm's checkpoint consumed the last reference
      val total = comm.agg(count(lit(1)).as("n_communities"))
      comm.crossJoin(broadcast(total))
        .orderBy(col("n_members").desc, col("community")).limit(25)
    }),

    "kg_cs_jaccard_nbrs" -> ((s: SparkSession, dir: String) => jaccardNbrs(s, dir)),

    "kg_cs_assortativity" -> ((s: SparkSession, dir: String) => assortativity(s, dir)),

    "kg_cs_adamic_adar" -> ((s: SparkSession, dir: String) => adamicAdar(s, dir)),

    "kg_cs_wedge_capped" -> ((s: SparkSession, dir: String) => wedgeCapped(s, dir)),

    // HyperBall neighborhood-function estimation (per-node HLL
    // counters MAX-merged along edges, one shuffle per radius — THE
    // web-scale distance-distribution algorithm) beside the exact
    // frontier-expansion rider: (r, exact_pairs, est_pairs) for
    // r = 0..3 over the organism graph. Both the register iteration
    // and the estimate formula are engine-portable, so the oracle
    // re-derives the ESTIMATES too — not just the exact counts.
    "kg_cs_hyperball" -> ((s: SparkSession, dir: String) => {
      import graft.ops.HyperBall
      val e = organismEdges(s, dir)
      HyperBall.neighborhoodFunction(e, 3)
        .join(HyperBall.exactNeighborhood(e, 3), Seq("r"))
        .select(col("r"), col("exact_pairs"), col("est_pairs"))
        .orderBy(col("r"))
    }),

    // Harmonic centrality (HyperBall's headline application): top-15
    // organisms by estimated sum of inverse distances (truncated at
    // r = 3) — the centrality that classically needs all-pairs BFS,
    // in 3 shuffles with 64 ints of state per node. The oracle
    // re-derives the per-node estimates and the fixed-order
    // difference/division/sum chain, so the SCORES hash exactly.
    "kg_cs_harmonic" -> ((s: SparkSession, dir: String) => {
      graft.ops.HyperBall
        .harmonicCentrality(organismEdges(s, dir), 3, 15)
    }),

    // Exact closeness centrality for the top-3 degree hubs: BFS to
    // EXHAUSTION (while-frontier-nonempty, not a fixed unroll) over the
    // memoized undirected organism graph — [[Iterate.frontierWalk]]
    // without a level bound, one shuffle per level over frontier-scale
    // rows, each level localCheckpointed. Emits the integer
    // (n_reached, sum_dist) pair beside the rounded closeness so the
    // gate is integer-exact except one audited division. The oracle
    // unrolls 8 BFS levels (empty trailing levels are no-ops; the
    // engine's exhaustion loop proves 8 suffices — a deeper graph would
    // hash-mismatch loudly, not silently truncate).
    "kg_cs_closeness" -> ((s: SparkSession, dir: String) => {
      val sym = Adjacency.symmetric(organismEdges(s, dir)).localCheckpoint(true)
      Iterate.frontierWalk(sym, Adjacency.topByDegree(sym, 3), Int.MaxValue)
        .groupBy(col("hub"))
        .agg((count(lit(1)) - 1L).as("n_reached"),
          sum(col("dist")).as("sum_dist"))
        .withColumn("closeness", round(
          col("n_reached").cast("double") / col("sum_dist").cast("double"), 6))
        .orderBy(col("hub"))
    }),

    // Sampled Brandes betweenness from the same 3 hub sources: forward
    // BFS carrying σ (shortest-path counts — per level, σ(v) = Σ σ(u)
    // over predecessor-level neighbors, aggregated BEFORE the visited
    // anti-join so multiplicities are exact), then backward dependency
    // accumulation δ(v) = Σ σ(v)/σ(w)·(1+δ(w)) over successor-level
    // neighbors, one level per round, each round ONE frontier-scale
    // join + aggregate, localCheckpointed (the BFS/SSSP discipline).
    // σ stays integer end-to-end; δ is the audited double (round 6,
    // the PageRank convention). Score = Σ over sources of δ —
    // the standard sampled-source betweenness estimator (sources are
    // pinned, so both engines sample identically).
    "kg_cs_betweenness" -> ((s: SparkSession, dir: String) => {
      val und = organismEdges(s, dir)
      graft.ops.Brandes.dependencies(und, Adjacency.topByDegree(Adjacency.symmetric(und), 3))
        .groupBy(col("node"))
        .agg(round(sum(col("delta")), 6).as("bc"))
        .orderBy(col("bc").desc, col("node"))
        .limit(15)
    }),

    "kg_cs_bfs_reach" -> ((s: SparkSession, dir: String) => bfsReach(s, dir)),

    // CS5 Leaf-Economic-Spectrum archetypes (CS5_viz.py): the trait
    // correlation matrix (plot_trait_correlations, :283-304) and the
    // StandardScaler z-score standardization (:322-324). The trydb
    // fixture cannot host them faithfully: its labeled numeric
    // rdf:values are deterministically the SAME literal (t%3==0 forces
    // t%6==0 → OrigValueStr "12.5"), so every species×trait cell is
    // 12.5 and Pearson r is 0/0 — the archetypes run over the measured
    // lineitem columns instead (quantity / extendedprice / discount),
    // which is the computation CS5 performs, on a table with variance.
    //
    // cs5_corr_matrix: one single-pass aggregate (map-side partial,
    // one 1-row result — the 100 TB shape for global moments); corr is
    // scale-invariant so sample-vs-population never matters, only
    // accumulation order, absorbed by round-6.
    "cs5_corr_matrix" -> ((s: SparkSession, dir: String) => {
      val l = Inputs.parquet(s, dir, "lineitem").select(
        col("l_quantity").cast("double").as("qty"),
        col("l_extendedprice").cast("double").as("price"),
        col("l_discount").cast("double").as("disc"))
      l.agg(
        round(corr(col("qty"), col("price")), 6).as("corr_qty_price"),
        round(corr(col("qty"), col("disc")), 6).as("corr_qty_disc"),
        round(corr(col("price"), col("disc")), 6).as("corr_price_disc"))
    }),

    // cs5_zscore: per-group feature standardization via window
    // mean/stddev — one shuffle on the group key, then a streaming
    // window pass (whole-partition frame, no sort needed)
    "cs5_zscore" -> ((s: SparkSession, dir: String) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("l_returnflag"))
      val l = Inputs.parquet(s, dir, "lineitem")
      l.select(col("l_orderkey"), col("l_linenumber"), col("l_returnflag"),
          col("l_extendedprice").cast("double").as("x"))
        .withColumn("z",
          round((col("x") - avg(col("x")).over(w)) / stddev_samp(col("x")).over(w), 6))
        .select(col("l_orderkey"), col("l_linenumber"), col("l_returnflag"),
          col("z"))
        .orderBy(col("l_orderkey"), col("l_linenumber"))
    }),

    // cs5_pca: the principal-component decomposition itself
    // (CS5_viz.py:319-379, perform_pca: StandardScaler → PCA() →
    // explained_variance_ratio_ + loadings). Covariance of standardized
    // data == correlation of raw data, so ONE map-side-combinable
    // moment aggregate (the same single-pass shape as cs5_corr_matrix)
    // feeds a closed-form symmetric-3×3 eigensolve appended as Column
    // expressions on the 1-row result — the N×d matrix is never
    // shuffled or collected, and the oracle reproduces the identical
    // trigonometric formula in SQL so the round-6 gate covers the
    // eigenvalue path end-to-end. Loadings/eigenvectors (dimension-
    // sized) are spec-pinned via ops.Pca.eig3Corr.
    "cs5_pca" -> ((s: SparkSession, dir: String) => {
      val l = Inputs.parquet(s, dir, "lineitem").select(
        col("l_quantity").cast("double").as("qty"),
        col("l_extendedprice").cast("double").as("price"),
        col("l_discount").cast("double").as("disc"))
      val m = l.agg(
        corr(col("qty"), col("price")).as("c12"),
        corr(col("qty"), col("disc")).as("c13"),
        corr(col("price"), col("disc")).as("c23"))
      val Seq(evr1, evr2, evr3) =
        graft.ops.Pca.eigRatioCols(col("c12"), col("c13"), col("c23"))
      m.select(
        round(col("c12"), 6).as("corr_qty_price"),
        round(col("c13"), 6).as("corr_qty_disc"),
        round(col("c23"), 6).as("corr_price_disc"),
        round(evr1, 6).as("evr1"),
        round(evr2, 6).as("evr2"),
        round(evr3, 6).as("evr3"),
        round(evr1 + evr2, 6).as("cum2"))
    }),

    // cs5_pca_loadings: the PCA epilogue under the driver gate —
    // eigenVECTORS scaled to loadings (CS5_viz.py:361 components.T ·
    // sqrt(explained_variance)), where cs5_pca gates only the
    // eigenVALUE ratios. ONE map-side moment aggregate produces the
    // 1-row correlation triple (the documented dimension-pull
    // convention: a 1-row head(), like the centroid/codebook pulls);
    // the 3×3 cross-product eigensolve (ops.Pca.eig3Corr — first-max
    // candidate pick, sklearn svd_flip sign rule) runs driver-side on
    // that row, and the oracle reproduces the IDENTICAL candidate/
    // sign arithmetic in SQL from its own corr() moments, so the
    // round-6 gate covers eigenvectors + loadings end-to-end at all
    // three scales.
    "cs5_pca_loadings" -> ((s: SparkSession, dir: String) => {
      val l = Inputs.parquet(s, dir, "lineitem").select(
        col("l_quantity").cast("double").as("qty"),
        col("l_extendedprice").cast("double").as("price"),
        col("l_discount").cast("double").as("disc"))
      val m = l.agg(
        corr(col("qty"), col("price")).as("c12"),
        corr(col("qty"), col("disc")).as("c13"),
        corr(col("price"), col("disc")).as("c23")).head()
      val (eigs, vecs) = Pca.eig3Corr(m.getDouble(0), m.getDouble(1),
        m.getDouble(2))
      val ld = Pca.loadings(eigs, vecs)
      import s.implicits._
      (0 until 3).map(k => (k + 1L, ld(k)(0), ld(k)(1), ld(k)(2)))
        .toDF("component", "lq", "lp", "ldc")
        .select(col("component"),
          round(col("lq"), 6).as("loading_qty"),
          round(col("lp"), 6).as("loading_price"),
          round(col("ldc"), 6).as("loading_disc"))
        .orderBy(col("component"))
    }),

    // CS2: interaction-type crosstab — per type label, how many
    // interaction records carry a locality vs not (the value_counts/
    // crosstab heatmap input). Label join runs on the bucketed subj.
    "kg_cs_crosstab" -> ((s: SparkSession, dir: String) => {
      val t = s.table(Materialized.globiTable(s, dir))
      val cw = t.filter(col("pred") === EMI + "isClassifiedWith")
        .select(col("subj").as("rec"), col("obj").as("itype"))
      val lbl = t.filter(col("pred") === RDFS_LABEL)
        .select(col("subj").as("itype"), col("obj").as("ilabel"))
      val loc = t.filter(col("pred") === PROV + "atLocation")
        .select(col("subj").as("rec")).distinct()
        .withColumn("_hasLoc", lit(1))
      cw.join(lbl, Seq("itype"))
        .join(loc, Seq("rec"), "left")
        .groupBy(col("ilabel"))
        .agg(
          sum(when(col("_hasLoc").isNotNull, 1).otherwise(0)).as("n_with_loc"),
          sum(when(col("_hasLoc").isNull, 1).otherwise(0)).as("n_without_loc"))
        .orderBy(col("ilabel"))
    }),

    "kg_bgp_star" -> ((s: SparkSession, dir: String) => bgpStar(s, dir)),
    "kg_bgp_filtered" -> ((s: SparkSession, dir: String) => bgpFiltered(s, dir)),
    "kg_bgp_filter_expr" -> ((s: SparkSession, dir: String) => bgpFilterExpr(s, dir)),
    "kg_bgp_optional" -> ((s: SparkSession, dir: String) => bgpOptional(s, dir)),

    "kg_taxonomy_closure" -> ((s: SparkSession, dir: String) => taxonomyClosure(s, dir)),

    "kg_bgp_path_plus" -> ((s: SparkSession, dir: String) => bgpPathPlus(s, dir)),

    // SHACL-lite shapes validation over the triple table: cardinality
    // shapes (targetClass × path × minCount/maxCount) plus nodeKind/
    // datatype shapes, all evaluated in ONE pred-pushed scan — a single
    // per-subject conditional aggregate carries the type tag and every
    // constrained path's count (one shuffle total, NOT one scan per
    // shape), then each shape is a filter over that node-scale frame,
    // assembled by a bounded explode. The gate emits per-shape
    // violation COUNT + an order-independent bit_xor fingerprint of the
    // violating subjects — constant-size output that still pins the
    // exact violating SET at 100 TB (the s8k_checksum convention). The
    // sample_sex_max1 shape is genuinely violated by the fixture
    // (multi-valued hasSex), so the gate proves non-empty detection.
    "kg_shacl" -> ((s: SparkSession, dir: String) => {
      import graft.ops.Shacl
      val interaction = EMI + "Interaction"
      val sample = SOSA + "Sample"
      Shacl.report(s.table(Materialized.globiTable(s, dir)),
        card = Seq(
          Shacl.CardShape("interaction_source_exactly1", interaction,
            EMI + "hasSource", 1L, 1L),
          Shacl.CardShape("interaction_target_exactly1", interaction,
            EMI + "hasTarget", 1L, 1L),
          Shacl.CardShape("interaction_classified_min1", interaction,
            EMI + "isClassifiedWith", minCount = 1L),
          Shacl.CardShape("sample_intaxon_exactly1", sample,
            EMI + "inTaxon", 1L, 1L),
          Shacl.CardShape("sample_label_min1", sample, RDFS_LABEL,
            minCount = 1L),
          Shacl.CardShape("sample_sex_max1", sample, EMI + "hasSex",
            maxCount = 1L)),
        iri = Seq(Shacl.IriShape("intaxon_nodekind_iri", EMI + "inTaxon")),
        dt = Seq(Shacl.DatatypeShape("numericvalue_datatype_integer",
          Model.QUDT + "numericValue", Model.XSD_INTEGER)),
        cls = Seq(
          // clean range: every hasSource object is a typed Sample
          Shacl.ClassShape("hassource_class_sample", EMI + "hasSource",
            sample),
          // honestly violated range: the graph never types taxon IRIs
          // (neither does the reference), so every inTaxon object
          // violates an `sh:class emi:Taxon` shape — the report
          // SURFACES the modeling gap instead of hiding it
          Shacl.ClassShape("intaxon_class_taxon", EMI + "inTaxon",
            EMI + "Taxon")))
    })
  )

  /** n_docs-filtered view of the globi side-channel dump (same contract
    * as SparqlQueries.side).
    */
  private val g =
    s"""(SELECT subj, pred, obj FROM '${Materialized.SideDir}/globi_triples_n*/*.parquet'
        WHERE n_docs = (SELECT COUNT(*) // 3 FROM orders))"""

  private val gT =
    s"""(SELECT subj, pred, obj FROM '${Materialized.SideDir}/trydb_triples_n*/*.parquet'
        WHERE n_docs = (SELECT COUNT(*) // 3 FROM orders))"""

  val oracle: Map[String, String] = Map(
    // identical independent re-derivation — the engine side differs
    // (distributed matcher + distributed resolve), the truth does not
    "kg_pipeline_triples_dist" -> PipelineOracles.pipelineTriples,

    "kg_cs_top_degree" ->
      s"""WITH g AS (SELECT * FROM $g),
          ends AS (SELECT obj AS sample FROM g
                   WHERE pred IN ('${EMI}hasSource', '${EMI}hasTarget')),
          so AS (SELECT subj AS sample, obj AS organism FROM g
                 WHERE pred = '${SOSA}isSampleOf')
          SELECT organism, COUNT(*) AS degree
          FROM ends JOIN so USING (sample)
          GROUP BY organism
          ORDER BY degree DESC, organism LIMIT 20""",

    "kg_cs_degree_dir" ->
      s"""WITH g AS (SELECT * FROM $g),
          hs AS (SELECT subj AS intxn, obj AS src FROM g
                 WHERE pred = '${EMI}hasSource'),
          ht AS (SELECT subj AS intxn, obj AS tgt FROM g
                 WHERE pred = '${EMI}hasTarget'),
          lbl AS (SELECT subj, obj AS name FROM g WHERE pred = '$RDFS_LABEL'),
          e AS (SELECT DISTINCT ls.name AS sourceName, lt.name AS targetName
                FROM hs JOIN ht USING (intxn)
                JOIN lbl ls ON ls.subj = hs.src
                JOIN lbl lt ON lt.subj = ht.tgt),
          o AS (SELECT sourceName AS species, COUNT(*) AS out_degree
                FROM e GROUP BY 1),
          i AS (SELECT targetName AS species, COUNT(*) AS in_degree
                FROM e GROUP BY 1)
          SELECT species,
                 CAST(COALESCE(out_degree, 0) + COALESCE(in_degree, 0) AS BIGINT)
                   AS total_connections,
                 CAST(COALESCE(out_degree, 0) AS BIGINT) AS out_degree,
                 CAST(COALESCE(in_degree, 0) AS BIGINT) AS in_degree
          FROM o FULL OUTER JOIN i USING (species)
          ORDER BY total_connections DESC, species LIMIT 20""",

    "kg_cs_completeness" ->
      s"""WITH g AS (SELECT * FROM $g), t AS (SELECT * FROM $gT),
          gn AS (SELECT DISTINCT l.obj AS name
                 FROM g s JOIN g l ON l.subj = s.subj AND l.pred = '$RDFS_LABEL'
                 WHERE s.pred = '${SOSA}isSampleOf'),
          tn AS (SELECT DISTINCT l.obj AS name
                 FROM t s JOIN t l ON l.subj = s.subj AND l.pred = '$RDFS_LABEL'
                 WHERE s.pred = '${SOSA}isSampleOf')
          SELECT name, 1 AS in_interactions, 1 AS in_traits
          FROM gn JOIN tn USING (name) ORDER BY name""",

    "kg_cs_fungal_flow" -> {
      val terms = FungalTaxa.map(t => s"('$t')").mkString(", ")
      s"""WITH g AS (SELECT * FROM $g),
          lbl AS (SELECT subj, obj FROM g WHERE pred = '$RDFS_LABEL'),
          pof AS (SELECT cw.subj AS rec FROM g cw
                  JOIN lbl ON lbl.subj = cw.obj
                  WHERE cw.pred = '${EMI}isClassifiedWith'
                    AND lbl.obj = 'parasiteOf'),
          hs AS (SELECT subj AS rec, obj AS srcu FROM g
                 WHERE pred = '${EMI}hasSource'),
          ht AS (SELECT subj AS rec, obj AS tgtu FROM g
                 WHERE pred = '${EMI}hasTarget'),
          named AS (
            SELECT sl.obj AS sname, tl.obj AS tname
            FROM pof JOIN hs ON hs.rec = pof.rec
                     JOIN ht ON ht.rec = pof.rec
                     JOIN lbl sl ON sl.subj = hs.srcu
                     JOIN lbl tl ON tl.subj = ht.tgtu),
          f(t) AS (VALUES $terms)
          SELECT sname, tname, COUNT(*) AS n FROM named
          WHERE NOT EXISTS (SELECT 1 FROM f WHERE contains(lower(sname), f.t))
          GROUP BY 1, 2 ORDER BY sname, tname"""
    },

    "kg_cs_trait_diversity" ->
      s"""WITH t AS (SELECT * FROM $gT),
          lbl AS (SELECT subj, obj FROM t WHERE pred = '$RDFS_LABEL'),
          ch AS (SELECT sl.obj AS spName, rl.obj AS dataLab
                 FROM t ifo
                 JOIN lbl sl ON sl.subj = ifo.subj
                 JOIN t hr ON hr.subj = ifo.obj AND hr.pred = '${SOSA}hasResult'
                 JOIN lbl rl ON rl.subj = hr.obj
                 WHERE ifo.pred = '${SOSA}isFeatureOfInterestOf')
          SELECT spName, COUNT(DISTINCT dataLab) AS n_traits FROM ch
          GROUP BY 1 ORDER BY n_traits DESC, spName LIMIT 15""",

    // same degree-ordered orientation; the wedge join's <> and the
    // closing-edge equi-join mirror the engine exactly
    "kg_cs_triangles" ->
      s"""WITH g AS (SELECT * FROM $g),
          so AS (SELECT subj AS sample, obj AS org FROM g
                 WHERE pred = '${SOSA}isSampleOf'),
          hs AS (SELECT subj AS rec, obj AS sample FROM g
                 WHERE pred = '${EMI}hasSource'),
          ht AS (SELECT subj AS rec, obj AS sample FROM g
                 WHERE pred = '${EMI}hasTarget'),
          und AS (
            SELECT DISTINCT least(s1.org, s2.org) AS u,
                   greatest(s1.org, s2.org) AS v
            FROM hs JOIN so s1 ON s1.sample = hs.sample
                 JOIN ht ON ht.rec = hs.rec
                 JOIN so s2 ON s2.sample = ht.sample
            WHERE s1.org <> s2.org),
          deg AS (SELECT n, COUNT(*) AS d FROM (
                    SELECT u AS n FROM und UNION ALL SELECT v FROM und)
                  GROUP BY n),
          e AS MATERIALIZED (
            SELECT CASE WHEN du.d <= dv.d THEN u ELSE v END AS a,
                   CASE WHEN du.d <= dv.d THEN v ELSE u END AS b
            FROM und JOIN deg du ON du.n = und.u
                     JOIN deg dv ON dv.n = und.v),
          tri AS MATERIALIZED (
            SELECT e1.a AS x, e1.b AS y, e2.b AS z
            FROM e e1 JOIN e e2 ON e1.a = e2.a AND e1.b <> e2.b
                 JOIN e e3 ON e3.a = e1.b AND e3.b = e2.b),
          tot AS (SELECT COUNT(*) AS total_triangles FROM tri),
          pn AS (SELECT organism, COUNT(*) AS n_triangles FROM (
                   SELECT x AS organism FROM tri
                   UNION ALL SELECT y FROM tri
                   UNION ALL SELECT z FROM tri)
                 GROUP BY organism)
          SELECT organism, n_triangles, total_triangles
          FROM pn CROSS JOIN tot
          ORDER BY n_triangles DESC, organism LIMIT 20""",

    // the identical 10 seeded power iterations, unrolled (the
    // kg_cs_pagerank MATERIALIZED-CTE discipline), over the symmetric
    // edge set with the same single-seed restart term
    "kg_cs_ppr" -> {
      val iters = (1 to 10).map { k =>
        s"""pr$k AS MATERIALIZED (
            SELECT n.node,
                   CASE WHEN s.node IS NOT NULL THEN 0.15 ELSE 0.0 END
                     + 0.85 * COALESCE(c.x, 0) AS rank
            FROM nodes n LEFT JOIN seed s ON s.node = n.node
            LEFT JOIN (
              SELECT e.b AS node, SUM(p.rank / d.deg) AS x
              FROM pr${k - 1} p
              JOIN deg d ON d.node = p.node
              JOIN sym e ON e.a = p.node
              GROUP BY e.b) c ON c.node = n.node)"""
      }.mkString(",\n")
      s"""WITH g AS (SELECT * FROM $g),
          so AS (SELECT subj AS sample, obj AS org FROM g
                 WHERE pred = '${SOSA}isSampleOf'),
          hs AS (SELECT subj AS rec, obj AS sample FROM g
                 WHERE pred = '${EMI}hasSource'),
          ht AS (SELECT subj AS rec, obj AS sample FROM g
                 WHERE pred = '${EMI}hasTarget'),
          und AS (
            SELECT DISTINCT least(s1.org, s2.org) AS u,
                   greatest(s1.org, s2.org) AS v
            FROM hs JOIN so s1 ON s1.sample = hs.sample
                 JOIN ht ON ht.rec = hs.rec
                 JOIN so s2 ON s2.sample = ht.sample
            WHERE s1.org <> s2.org),
          sym AS MATERIALIZED (
            SELECT u AS a, v AS b FROM und
            UNION ALL SELECT v AS a, u AS b FROM und),
          deg AS (SELECT a AS node, COUNT(*) AS deg FROM sym GROUP BY a),
          nodes AS (SELECT node FROM deg),
          seed AS (SELECT node FROM (
                     SELECT node, deg FROM deg
                     ORDER BY deg DESC, node LIMIT 1)),
          pr0 AS (SELECT n.node,
                    CASE WHEN s.node IS NOT NULL THEN 1.0 ELSE 0.0 END
                      AS rank
                  FROM nodes n LEFT JOIN seed s ON s.node = n.node),
          $iters
          SELECT node AS organism, round(rank, 6) AS ppr
          FROM pr10 ORDER BY ppr DESC, organism LIMIT 20"""
    },

    // histogram-level window cumsum, integer-exact. Every CTE is
    // AS MATERIALIZED: DuckDB otherwise inlines the whole chain into
    // the window query and the re-planned tree spills unboundedly
    // (observed: >80 GB temp at sf0.1 vs instant materialized)
    "kg_cs_degree_dist" ->
      s"""WITH g AS (SELECT * FROM $g),
          so AS (SELECT subj AS sample, obj AS org FROM g
                 WHERE pred = '${SOSA}isSampleOf'),
          hs AS (SELECT subj AS rec, obj AS sample FROM g
                 WHERE pred = '${EMI}hasSource'),
          ht AS (SELECT subj AS rec, obj AS sample FROM g
                 WHERE pred = '${EMI}hasTarget'),
          und AS MATERIALIZED (
            SELECT DISTINCT least(s1.org, s2.org) AS u,
                   greatest(s1.org, s2.org) AS v
            FROM hs JOIN so s1 ON s1.sample = hs.sample
                 JOIN ht ON ht.rec = hs.rec
                 JOIN so s2 ON s2.sample = ht.sample
            WHERE s1.org <> s2.org),
          deg AS MATERIALIZED (
            SELECT n, COUNT(*) AS degree FROM (
              SELECT u AS n FROM und UNION ALL SELECT v FROM und)
            GROUP BY n),
          hist AS MATERIALIZED (
            SELECT degree, COUNT(*) AS n_nodes FROM deg GROUP BY 1)
          SELECT degree, n_nodes,
                 CAST(SUM(n_nodes) OVER (
                   ORDER BY degree DESC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS BIGINT) AS n_nodes_ge
          FROM hist ORDER BY degree""",

    // identical degree-oriented triangle enumeration, then the
    // single-division clustering ratio with the same operand spelling
    "kg_cs_lcc" ->
      s"""WITH g AS (SELECT * FROM $g),
          so AS (SELECT subj AS sample, obj AS org FROM g
                 WHERE pred = '${SOSA}isSampleOf'),
          hs AS (SELECT subj AS rec, obj AS sample FROM g
                 WHERE pred = '${EMI}hasSource'),
          ht AS (SELECT subj AS rec, obj AS sample FROM g
                 WHERE pred = '${EMI}hasTarget'),
          und AS (
            SELECT DISTINCT least(s1.org, s2.org) AS u,
                   greatest(s1.org, s2.org) AS v
            FROM hs JOIN so s1 ON s1.sample = hs.sample
                 JOIN ht ON ht.rec = hs.rec
                 JOIN so s2 ON s2.sample = ht.sample
            WHERE s1.org <> s2.org),
          deg AS (SELECT n AS organism, COUNT(*) AS degree FROM (
                    SELECT u AS n FROM und UNION ALL SELECT v FROM und)
                  GROUP BY 1),
          e AS MATERIALIZED (
            SELECT CASE WHEN du.degree <= dv.degree THEN u ELSE v END AS a,
                   CASE WHEN du.degree <= dv.degree THEN v ELSE u END AS b
            FROM und JOIN deg du ON du.organism = und.u
                     JOIN deg dv ON dv.organism = und.v),
          tri AS MATERIALIZED (
            SELECT e1.a AS x, e1.b AS y, e2.b AS z
            FROM e e1 JOIN e e2 ON e1.a = e2.a AND e1.b <> e2.b
                 JOIN e e3 ON e3.a = e1.b AND e3.b = e2.b),
          pn AS (SELECT organism, COUNT(*) AS n_triangles FROM (
                   SELECT x AS organism FROM tri
                   UNION ALL SELECT y FROM tri
                   UNION ALL SELECT z FROM tri)
                 GROUP BY organism)
          SELECT d.organism, CAST(d.degree AS BIGINT) AS degree,
                 CAST(COALESCE(pn.n_triangles, 0) AS BIGINT) AS n_triangles,
                 round(CAST(COALESCE(pn.n_triangles, 0) * 2 AS DOUBLE) /
                       (CAST(d.degree AS DOUBLE)
                        * CAST(d.degree - 1 AS DOUBLE)), 6) AS lcc
          FROM deg d LEFT JOIN pn ON pn.organism = d.organism
          WHERE d.degree >= 2
          ORDER BY lcc DESC, d.organism LIMIT 15""",

    // the identical 4 Bellman-Ford relaxation rounds, unrolled; the
    // md5-derived integer weights match Sampling/Dedup.hash60's
    // ('0x' || md5-prefix-15)::BIGINT convention, so distances are
    // exact integers in both engines
    "kg_cs_sssp" -> {
      val rounds = (1 to 4).map { k =>
        s"""d$k AS MATERIALIZED (
              SELECT node, MIN(dist) AS dist FROM (
                SELECT node, dist FROM d${k - 1}
                UNION ALL
                SELECT s.b AS node, d.dist + s.w AS dist
                FROM d${k - 1} d JOIN sym s ON s.a = d.node)
              GROUP BY node)"""
      }.mkString(",\n")
      s"""WITH g AS (SELECT * FROM $g),
          so AS (SELECT subj AS sample, obj AS org FROM g
                 WHERE pred = '${SOSA}isSampleOf'),
          hs AS (SELECT subj AS rec, obj AS sample FROM g
                 WHERE pred = '${EMI}hasSource'),
          ht AS (SELECT subj AS rec, obj AS sample FROM g
                 WHERE pred = '${EMI}hasTarget'),
          und AS (
            SELECT DISTINCT least(s1.org, s2.org) AS u,
                   greatest(s1.org, s2.org) AS v
            FROM hs JOIN so s1 ON s1.sample = hs.sample
                 JOIN ht ON ht.rec = hs.rec
                 JOIN so s2 ON s2.sample = ht.sample
            WHERE s1.org <> s2.org),
          w AS (SELECT u, v,
                  ('0x' || substr(md5(u || '|' || v), 1, 15))::BIGINT % 9 + 1
                    AS w
                FROM und),
          sym AS MATERIALIZED (
            SELECT u AS a, v AS b, w FROM w
            UNION ALL SELECT v AS a, u AS b, w FROM w),
          hub AS (SELECT a FROM (
                    SELECT a, COUNT(*) AS d FROM sym GROUP BY a
                    ORDER BY d DESC, a LIMIT 1)),
          d0 AS (SELECT a AS node, CAST(0 AS BIGINT) AS dist FROM hub),
          $rounds
          SELECT node, dist FROM d4 ORDER BY dist, node LIMIT 25"""
    },

    "kg_cs_communities" -> {
      // the identical 5 synchronous rounds, unrolled; each round's
      // argmax window mirrors the engine's (count DESC, label ASC)
      val rounds = (1 to 5).map { k =>
        s"""l$k AS MATERIALIZED (
              SELECT a AS node, label FROM (
                SELECT s.a, l.label, COUNT(*) AS c,
                       ROW_NUMBER() OVER (PARTITION BY s.a
                         ORDER BY COUNT(*) DESC, l.label) AS rn
                FROM sym s JOIN l${k - 1} l ON l.node = s.b
                GROUP BY s.a, l.label)
              WHERE rn = 1)"""
      }.mkString(",\n")
      s"""WITH g AS (SELECT * FROM $g),
          so AS (SELECT subj AS sample, obj AS org FROM g
                 WHERE pred = '${SOSA}isSampleOf'),
          hs AS (SELECT subj AS rec, obj AS sample FROM g
                 WHERE pred = '${EMI}hasSource'),
          ht AS (SELECT subj AS rec, obj AS sample FROM g
                 WHERE pred = '${EMI}hasTarget'),
          und AS (
            SELECT DISTINCT least(s1.org, s2.org) AS u,
                   greatest(s1.org, s2.org) AS v
            FROM hs JOIN so s1 ON s1.sample = hs.sample
                 JOIN ht ON ht.rec = hs.rec
                 JOIN so s2 ON s2.sample = ht.sample
            WHERE s1.org <> s2.org),
          sym AS MATERIALIZED (
            SELECT u AS a, v AS b FROM und
            UNION ALL SELECT v AS a, u AS b FROM und),
          l0 AS MATERIALIZED (
            SELECT DISTINCT a AS node, a AS label FROM sym),
          $rounds,
          comm AS (SELECT label AS community,
                          CAST(COUNT(*) AS BIGINT) AS n_members
                   FROM l5 GROUP BY label),
          tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_communities
                  FROM comm)
          SELECT community, n_members, n_communities
          FROM comm CROSS JOIN tot
          ORDER BY n_members DESC, community LIMIT 25"""
    },

    // same exact integer sums, same closed-form Pearson, round(6)
    "kg_cs_assortativity" ->
      s"""WITH g AS (SELECT * FROM $g),
          so AS (SELECT subj AS sample, obj AS org FROM g
                 WHERE pred = '${SOSA}isSampleOf'),
          hs AS (SELECT subj AS rec, obj AS sample FROM g
                 WHERE pred = '${EMI}hasSource'),
          ht AS (SELECT subj AS rec, obj AS sample FROM g
                 WHERE pred = '${EMI}hasTarget'),
          und AS MATERIALIZED (
            SELECT DISTINCT least(s1.org, s2.org) AS u,
                   greatest(s1.org, s2.org) AS v
            FROM hs JOIN so s1 ON s1.sample = hs.sample
                 JOIN ht ON ht.rec = hs.rec
                 JOIN so s2 ON s2.sample = ht.sample
            WHERE s1.org <> s2.org),
          sym AS MATERIALIZED (
            SELECT u AS a, v AS b FROM und
            UNION ALL SELECT v AS a, u AS b FROM und),
          deg AS (SELECT a AS n, COUNT(*) AS d FROM sym GROUP BY a),
          p AS (SELECT dx.d AS x, dy.d AS y
                FROM sym JOIN deg dx ON dx.n = sym.a
                         JOIN deg dy ON dy.n = sym.b),
          s AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
                       CAST(SUM(x) AS BIGINT) AS sx,
                       CAST(SUM(y) AS BIGINT) AS sy,
                       CAST(SUM(x * y) AS BIGINT) AS sxy,
                       CAST(SUM(x * x) AS BIGINT) AS sxx,
                       CAST(SUM(y * y) AS BIGINT) AS syy
                FROM p)
          SELECT n AS n_directed_edges,
                 CASE WHEN n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0
                      THEN round(CAST(n * sxy - sx * sy AS DOUBLE)
                                 / sqrt(CAST(n * sxx - sx * sx AS DOUBLE)
                                        * CAST(n * syy - sy * sy AS DOUBLE)), 6)
                      ELSE NULL END AS assortativity
          FROM s""",

    // same wedge enumeration with the shared neighbor kept, same
    // 1/ln(deg) weighting, same anti-join + round(6) + (u, v) tiebreak
    "kg_cs_adamic_adar" ->
      s"""WITH g AS (SELECT * FROM $g),
          so AS (SELECT subj AS sample, obj AS org FROM g
                 WHERE pred = '${SOSA}isSampleOf'),
          hs AS (SELECT subj AS rec, obj AS sample FROM g
                 WHERE pred = '${EMI}hasSource'),
          ht AS (SELECT subj AS rec, obj AS sample FROM g
                 WHERE pred = '${EMI}hasTarget'),
          und AS MATERIALIZED (
            SELECT DISTINCT least(s1.org, s2.org) AS u,
                   greatest(s1.org, s2.org) AS v
            FROM hs JOIN so s1 ON s1.sample = hs.sample
                 JOIN ht ON ht.rec = hs.rec
                 JOIN so s2 ON s2.sample = ht.sample
            WHERE s1.org <> s2.org),
          sym AS MATERIALIZED (
            SELECT u AS a, v AS b FROM und
            UNION ALL SELECT v AS a, u AS b FROM und),
          deg AS (SELECT a AS n, COUNT(*) AS d FROM sym GROUP BY a),
          cand AS (
            SELECT x.b AS u, y.b AS v,
                   COUNT(*) AS common,
                   round(SUM(1.0 / ln(CAST(deg.d AS DOUBLE))), 6) AS aa
            FROM sym x JOIN sym y ON x.a = y.a AND x.b < y.b
                 JOIN deg ON deg.n = x.a
            GROUP BY 1, 2),
          ne AS (SELECT u, v, common, aa FROM cand
                 WHERE NOT EXISTS (SELECT 1 FROM und
                                   WHERE und.u = cand.u AND und.v = cand.v))
          SELECT u, v, CAST(common AS BIGINT) AS common, aa
          FROM ne ORDER BY aa DESC, u, v LIMIT 20""",

    // same oriented wedge count, same anti-join against existing edges,
    // same common/(du+dv-common) Jaccard with round(6) + (u, v) tiebreak
    "kg_cs_jaccard_nbrs" ->
      s"""WITH g AS (SELECT * FROM $g),
          so AS (SELECT subj AS sample, obj AS org FROM g
                 WHERE pred = '${SOSA}isSampleOf'),
          hs AS (SELECT subj AS rec, obj AS sample FROM g
                 WHERE pred = '${EMI}hasSource'),
          ht AS (SELECT subj AS rec, obj AS sample FROM g
                 WHERE pred = '${EMI}hasTarget'),
          und AS MATERIALIZED (
            SELECT DISTINCT least(s1.org, s2.org) AS u,
                   greatest(s1.org, s2.org) AS v
            FROM hs JOIN so s1 ON s1.sample = hs.sample
                 JOIN ht ON ht.rec = hs.rec
                 JOIN so s2 ON s2.sample = ht.sample
            WHERE s1.org <> s2.org),
          sym AS MATERIALIZED (
            SELECT u AS a, v AS b FROM und
            UNION ALL SELECT v AS a, u AS b FROM und),
          deg AS (SELECT a AS n, COUNT(*) AS d FROM sym GROUP BY a),
          cand AS (
            SELECT x.b AS u, y.b AS v, COUNT(*) AS common
            FROM sym x JOIN sym y ON x.a = y.a AND x.b < y.b
            GROUP BY 1, 2),
          ne AS (SELECT u, v, common FROM cand
                 WHERE NOT EXISTS (SELECT 1 FROM und
                                   WHERE und.u = cand.u AND und.v = cand.v))
          SELECT ne.u, ne.v, CAST(common AS BIGINT) AS common,
                 round(CAST(common AS DOUBLE) / (du.d + dv.d - common), 6)
                   AS jaccard
          FROM ne JOIN deg du ON du.n = ne.u JOIN deg dv ON dv.n = ne.v
          ORDER BY jaccard DESC, u, v LIMIT 20""",

    // same deterministic per-center admission (row_number by neighbor
    // id, first WedgeCap kept), same capped wedge count + anti-join,
    // same exact-integer d(d-1)/2 ledger via // — no double division
    "kg_cs_wedge_capped" ->
      s"""WITH g AS (SELECT * FROM $g),
          so AS (SELECT subj AS sample, obj AS org FROM g
                 WHERE pred = '${SOSA}isSampleOf'),
          hs AS (SELECT subj AS rec, obj AS sample FROM g
                 WHERE pred = '${EMI}hasSource'),
          ht AS (SELECT subj AS rec, obj AS sample FROM g
                 WHERE pred = '${EMI}hasTarget'),
          und AS MATERIALIZED (
            SELECT DISTINCT least(s1.org, s2.org) AS u,
                   greatest(s1.org, s2.org) AS v
            FROM hs JOIN so s1 ON s1.sample = hs.sample
                 JOIN ht ON ht.rec = hs.rec
                 JOIN so s2 ON s2.sample = ht.sample
            WHERE s1.org <> s2.org),
          sym AS MATERIALIZED (
            SELECT u AS a, v AS b FROM und
            UNION ALL SELECT v AS a, u AS b FROM und),
          kept AS MATERIALIZED (
            SELECT a, b FROM (
              SELECT a, b, row_number() OVER (PARTITION BY a ORDER BY b) AS r
              FROM sym)
            WHERE r <= $WedgeCap),
          deg AS (SELECT a, COUNT(*) AS d FROM sym GROUP BY a),
          ledger AS (
            SELECT CAST(SUM(d * (d - 1)) // 2 AS BIGINT) AS wedges_total,
                   CAST(SUM(least(d, $WedgeCap)
                            * (least(d, $WedgeCap) - 1)) // 2 AS BIGINT)
                     AS wedges_kept
            FROM deg),
          cand AS (
            SELECT x.b AS u, y.b AS v, COUNT(*) AS common_capped
            FROM kept x JOIN kept y ON x.a = y.a AND x.b < y.b
            GROUP BY 1, 2),
          top AS (
            SELECT u, v, CAST(common_capped AS BIGINT) AS common_capped
            FROM cand
            WHERE NOT EXISTS (SELECT 1 FROM und
                              WHERE und.u = cand.u AND und.v = cand.v)
            ORDER BY common_capped DESC, u, v LIMIT 20)
          SELECT top.u, top.v, top.common_capped,
                 ledger.wedges_kept, ledger.wedges_total
          FROM top CROSS JOIN ledger""",

    // the identical HLL-register iteration (MAX-merge along edges per
    // round) AND the identical estimate formula, unrolled r = 0..3;
    // exact pairs by the same distinct frontier expansion
    "kg_cs_hyperball" -> {
      val regRounds = (1 to 3).map { k =>
        s"""r$k AS MATERIALIZED (
              SELECT node, b, MAX(mreg) AS mreg FROM (
                SELECT s.dst AS node, r.b, r.mreg
                FROM sym s JOIN r${k - 1} r ON r.node = s.src
                UNION ALL SELECT node, b, mreg FROM r${k - 1})
              GROUP BY node, b)"""
      }.mkString(",\n          ")
      val pairRounds = (1 to 3).map { k =>
        s"""p$k AS MATERIALIZED (
              SELECT DISTINCT a, z FROM (
                SELECT p.a, s.dst AS z FROM p${k - 1} p
                JOIN sym s ON s.src = p.z
                UNION ALL SELECT a, z FROM p${k - 1}))"""
      }.mkString(",\n          ")
      val perR = (0 to 3).map { k =>
        s"""SELECT $k AS r,
               (SELECT COUNT(*) FROM p$k) AS exact_pairs,
               (SELECT CAST(SUM(CAST(est AS DECIMAL(18,3))) AS DOUBLE) FROM (
                  SELECT round(CASE WHEN v > 0
                            AND (0.7213 / (1.0 + 1.079 / 64.0)) * 4096.0 / z <= 160.0
                           THEN 64.0 * ln(64.0 / CAST(v AS DOUBLE))
                           ELSE (0.7213 / (1.0 + 1.079 / 64.0)) * 4096.0 / z
                      END, 3) AS est
                  FROM (SELECT node,
                          SUM(2.0 ^ (-mreg)) + CAST(64 - COUNT(*) AS DOUBLE) AS z,
                          64 - COUNT(*) AS v
                        FROM r$k GROUP BY node))) AS est_pairs"""
      }.mkString("\n          UNION ALL\n          ")
      s"""WITH g AS (SELECT * FROM $g),
          so AS (SELECT subj AS sample, obj AS org FROM g
                 WHERE pred = '${SOSA}isSampleOf'),
          hs AS (SELECT subj AS rec, obj AS sample FROM g
                 WHERE pred = '${EMI}hasSource'),
          ht AS (SELECT subj AS rec, obj AS sample FROM g
                 WHERE pred = '${EMI}hasTarget'),
          und AS MATERIALIZED (
            SELECT DISTINCT least(s1.org, s2.org) AS u,
                   greatest(s1.org, s2.org) AS v
            FROM hs JOIN so s1 ON s1.sample = hs.sample
                 JOIN ht ON ht.rec = hs.rec
                 JOIN so s2 ON s2.sample = ht.sample
            WHERE s1.org <> s2.org),
          sym AS (SELECT u AS src, v AS dst FROM und
                  UNION ALL SELECT v AS src, u AS dst FROM und),
          n AS (SELECT DISTINCT src AS node FROM sym),
          h AS (SELECT node,
                  ('0x' || substr(md5(node), 1, 15))::BIGINT AS h FROM n),
          r0 AS MATERIALIZED (
            SELECT node, h % 64 AS b,
                   MAX(CASE WHEN (h >> 6) = 0 THEN 55
                            ELSE 55 - length(bin(h >> 6)) END) AS mreg
            FROM h GROUP BY node, h % 64),
          $regRounds,
          p0 AS (SELECT node AS a, node AS z FROM n),
          $pairRounds
          SELECT r, exact_pairs, est_pairs FROM (
          $perR)
          ORDER BY r"""
    },

    // identical register rounds as kg_cs_hyperball, per-node estimates
    // per round, identical fixed-order difference/division/sum chain
    "kg_cs_harmonic" -> {
      val regRounds = (1 to 3).map { k =>
        s"""r$k AS MATERIALIZED (
              SELECT node, b, MAX(mreg) AS mreg FROM (
                SELECT s.dst AS node, r.b, r.mreg
                FROM sym s JOIN r${k - 1} r ON r.node = s.src
                UNION ALL SELECT node, b, mreg FROM r${k - 1})
              GROUP BY node, b)"""
      }.mkString(",\n          ")
      val estRounds = (0 to 3).map { k =>
        s"""e$k AS (
              SELECT node, round(CASE WHEN v > 0
                        AND (0.7213 / (1.0 + 1.079 / 64.0)) * 4096.0 / z <= 160.0
                       THEN 64.0 * ln(64.0 / CAST(v AS DOUBLE))
                       ELSE (0.7213 / (1.0 + 1.079 / 64.0)) * 4096.0 / z
                  END, 3) AS e$k
              FROM (SELECT node,
                      SUM(2.0 ^ (-mreg)) + CAST(64 - COUNT(*) AS DOUBLE) AS z,
                      64 - COUNT(*) AS v
                    FROM r$k GROUP BY node))"""
      }.mkString(",\n          ")
      s"""WITH g AS (SELECT * FROM $g),
          so AS (SELECT subj AS sample, obj AS org FROM g
                 WHERE pred = '${SOSA}isSampleOf'),
          hs AS (SELECT subj AS rec, obj AS sample FROM g
                 WHERE pred = '${EMI}hasSource'),
          ht AS (SELECT subj AS rec, obj AS sample FROM g
                 WHERE pred = '${EMI}hasTarget'),
          und AS MATERIALIZED (
            SELECT DISTINCT least(s1.org, s2.org) AS u,
                   greatest(s1.org, s2.org) AS v
            FROM hs JOIN so s1 ON s1.sample = hs.sample
                 JOIN ht ON ht.rec = hs.rec
                 JOIN so s2 ON s2.sample = ht.sample
            WHERE s1.org <> s2.org),
          sym AS (SELECT u AS src, v AS dst FROM und
                  UNION ALL SELECT v AS src, u AS dst FROM und),
          n AS (SELECT DISTINCT src AS node FROM sym),
          h AS (SELECT node,
                  ('0x' || substr(md5(node), 1, 15))::BIGINT AS h FROM n),
          r0 AS MATERIALIZED (
            SELECT node, h % 64 AS b,
                   MAX(CASE WHEN (h >> 6) = 0 THEN 55
                            ELSE 55 - length(bin(h >> 6)) END) AS mreg
            FROM h GROUP BY node, h % 64),
          $regRounds,
          $estRounds
          SELECT node,
                 (e1 - e0) / 1.0 + (e2 - e1) / 2.0 + (e3 - e2) / 3.0
                   AS harmonic
          FROM e0 JOIN e1 USING (node) JOIN e2 USING (node)
               JOIN e3 USING (node)
          ORDER BY harmonic DESC, node ASC LIMIT 15"""
    },

    // same top-3 hub pick (degree desc, name), same 3 unrolled
    // frontier-expansion rounds with the anti-join against the visited
    // set — counts per exact distance
    // same pinned sources; 8 unrolled σ-carrying BFS levels, then the
    // unrolled backward dependency accumulation with the identical
    // division/multiplication order; the deepest unrolled level seeds
    // δ = 0 (it has no successors — the engine's exhaustion loop
    // guarantees that or mismatches loudly)
    "kg_cs_betweenness" -> {
      val fwd = (1 to 8).map { k =>
        s"""l$k AS MATERIALIZED (
            SELECT l.hub, s.b AS node, CAST(SUM(l.sigma) AS BIGINT) AS sigma
            FROM l${k - 1} l JOIN sym s ON s.a = l.node
            WHERE NOT EXISTS (SELECT 1 FROM v${k - 1} v
                              WHERE v.hub = l.hub AND v.node = s.b)
            GROUP BY l.hub, s.b),
          v$k AS MATERIALIZED (
            SELECT hub, node FROM v${k - 1}
            UNION ALL SELECT hub, node FROM l$k)"""
      }.mkString(",\n          ")
      val bwd = (7 to 1 by -1).map { k =>
        s"""d$k AS MATERIALIZED (
            SELECT c.hub, c.node,
                   COALESCE(SUM(CAST(c.sigma AS DOUBLE) / w.sigma
                                * (1 + dw.delta)), 0.0) AS delta
            FROM l$k c
            LEFT JOIN sym s ON s.a = c.node
            LEFT JOIN l${k + 1} w ON w.hub = c.hub AND w.node = s.b
            LEFT JOIN d${k + 1} dw ON dw.hub = w.hub AND dw.node = w.node
            GROUP BY c.hub, c.node)"""
      }.mkString(",\n          ")
      val allD = (1 to 8).map(k => s"SELECT hub, node, delta FROM d$k")
        .mkString("\n            UNION ALL ")
      s"""WITH g AS (SELECT * FROM $g),
          so AS (SELECT subj AS sample, obj AS org FROM g
                 WHERE pred = '${SOSA}isSampleOf'),
          hs AS (SELECT subj AS rec, obj AS sample FROM g
                 WHERE pred = '${EMI}hasSource'),
          ht AS (SELECT subj AS rec, obj AS sample FROM g
                 WHERE pred = '${EMI}hasTarget'),
          und AS MATERIALIZED (
            SELECT DISTINCT least(s1.org, s2.org) AS u,
                   greatest(s1.org, s2.org) AS v
            FROM hs JOIN so s1 ON s1.sample = hs.sample
                 JOIN ht ON ht.rec = hs.rec
                 JOIN so s2 ON s2.sample = ht.sample
            WHERE s1.org <> s2.org),
          sym AS MATERIALIZED (
            SELECT u AS a, v AS b FROM und
            UNION ALL SELECT v AS a, u AS b FROM und),
          l0 AS MATERIALIZED (
            SELECT a AS hub, a AS node, CAST(1 AS BIGINT) AS sigma FROM (
              SELECT a, COUNT(*) AS d FROM sym GROUP BY a
              ORDER BY d DESC, a LIMIT 3)),
          v0 AS MATERIALIZED (SELECT hub, node FROM l0),
          $fwd,
          d8 AS MATERIALIZED (
            SELECT hub, node, CAST(0 AS DOUBLE) AS delta FROM l8),
          $bwd,
          allD AS ($allD)
          SELECT node, round(SUM(delta), 6) AS bc
          FROM allD GROUP BY node ORDER BY bc DESC, node LIMIT 15"""
    },

    // same seed hubs, 8 unrolled BFS levels with per-level visited
    // anti-joins, then the same (count-1, sum dist) aggregate
    "kg_cs_closeness" -> {
      val rounds = (1 to 8).map { k =>
        s"""f$k AS MATERIALIZED (
            SELECT DISTINCT f${k - 1}.hub, s.b AS node
            FROM f${k - 1} JOIN sym s ON s.a = f${k - 1}.node
            WHERE NOT EXISTS (SELECT 1 FROM v${k - 1}
                              WHERE v${k - 1}.hub = f${k - 1}.hub
                                AND v${k - 1}.node = s.b)),
          v$k AS MATERIALIZED (
            SELECT hub, node, dist FROM v${k - 1}
            UNION ALL SELECT hub, node, $k AS dist FROM f$k)"""
      }.mkString(",\n          ")
      s"""WITH g AS (SELECT * FROM $g),
          so AS (SELECT subj AS sample, obj AS org FROM g
                 WHERE pred = '${SOSA}isSampleOf'),
          hs AS (SELECT subj AS rec, obj AS sample FROM g
                 WHERE pred = '${EMI}hasSource'),
          ht AS (SELECT subj AS rec, obj AS sample FROM g
                 WHERE pred = '${EMI}hasTarget'),
          und AS MATERIALIZED (
            SELECT DISTINCT least(s1.org, s2.org) AS u,
                   greatest(s1.org, s2.org) AS v
            FROM hs JOIN so s1 ON s1.sample = hs.sample
                 JOIN ht ON ht.rec = hs.rec
                 JOIN so s2 ON s2.sample = ht.sample
            WHERE s1.org <> s2.org),
          sym AS MATERIALIZED (
            SELECT u AS a, v AS b FROM und
            UNION ALL SELECT v AS a, u AS b FROM und),
          f0 AS MATERIALIZED (
            SELECT a AS hub, a AS node FROM (
              SELECT a, COUNT(*) AS d FROM sym GROUP BY a
              ORDER BY d DESC, a LIMIT 3)),
          v0 AS MATERIALIZED (SELECT hub, node, 0 AS dist FROM f0),
          $rounds
          SELECT hub, CAST(COUNT(*) - 1 AS BIGINT) AS n_reached,
                 CAST(SUM(dist) AS BIGINT) AS sum_dist,
                 round(CAST(COUNT(*) - 1 AS DOUBLE)
                       / CAST(SUM(dist) AS DOUBLE), 6) AS closeness
          FROM v8 GROUP BY hub ORDER BY hub"""
    },

    "kg_cs_bfs_reach" ->
      s"""WITH g AS (SELECT * FROM $g),
          so AS (SELECT subj AS sample, obj AS org FROM g
                 WHERE pred = '${SOSA}isSampleOf'),
          hs AS (SELECT subj AS rec, obj AS sample FROM g
                 WHERE pred = '${EMI}hasSource'),
          ht AS (SELECT subj AS rec, obj AS sample FROM g
                 WHERE pred = '${EMI}hasTarget'),
          und AS MATERIALIZED (
            SELECT DISTINCT least(s1.org, s2.org) AS u,
                   greatest(s1.org, s2.org) AS v
            FROM hs JOIN so s1 ON s1.sample = hs.sample
                 JOIN ht ON ht.rec = hs.rec
                 JOIN so s2 ON s2.sample = ht.sample
            WHERE s1.org <> s2.org),
          sym AS MATERIALIZED (
            SELECT u AS a, v AS b FROM und
            UNION ALL SELECT v AS a, u AS b FROM und),
          f0 AS MATERIALIZED (
            SELECT a AS hub, a AS node FROM (
              SELECT a, COUNT(*) AS d FROM sym GROUP BY a
              ORDER BY d DESC, a LIMIT 3)),
          f1 AS MATERIALIZED (
            SELECT DISTINCT f0.hub, s.b AS node
            FROM f0 JOIN sym s ON s.a = f0.node
            WHERE NOT EXISTS (SELECT 1 FROM f0 v
                              WHERE v.hub = f0.hub AND v.node = s.b)),
          v1 AS MATERIALIZED (
            SELECT hub, node FROM f0 UNION ALL SELECT hub, node FROM f1),
          f2 AS MATERIALIZED (
            SELECT DISTINCT f1.hub, s.b AS node
            FROM f1 JOIN sym s ON s.a = f1.node
            WHERE NOT EXISTS (SELECT 1 FROM v1
                              WHERE v1.hub = f1.hub AND v1.node = s.b)),
          v2 AS MATERIALIZED (
            SELECT hub, node FROM v1 UNION ALL SELECT hub, node FROM f2),
          f3 AS MATERIALIZED (
            SELECT DISTINCT f2.hub, s.b AS node
            FROM f2 JOIN sym s ON s.a = f2.node
            WHERE NOT EXISTS (SELECT 1 FROM v2
                              WHERE v2.hub = f2.hub AND v2.node = s.b))
          SELECT hub, dist, n_nodes FROM (
            SELECT hub, CAST(1 AS BIGINT) AS dist, COUNT(*) AS n_nodes
            FROM f1 GROUP BY hub
            UNION ALL
            SELECT hub, CAST(2 AS BIGINT), COUNT(*) FROM f2 GROUP BY hub
            UNION ALL
            SELECT hub, CAST(3 AS BIGINT), COUNT(*) FROM f3 GROUP BY hub)
          ORDER BY hub, dist""",

    "kg_cs_kcore" -> {
      // 12 unrolled peel rounds per K (degree filter + edge restriction
      // per round); peeling is a fixpoint, so extra rounds are no-ops.
      // Each CTE is MATERIALIZED for the same optimizer reason as
      // pagerank's
      def peels(kk: Int) = (1 to 12).map { r =>
        s"""d${kk}_$r AS MATERIALIZED (
              SELECT n FROM (SELECT u AS n FROM r${kk}_${r - 1}
                             UNION ALL SELECT v FROM r${kk}_${r - 1})
              GROUP BY n HAVING COUNT(*) >= $kk),
            r${kk}_$r AS MATERIALIZED (
              SELECT u, v FROM r${kk}_${r - 1}
              WHERE u IN (SELECT n FROM d${kk}_$r)
                AND v IN (SELECT n FROM d${kk}_$r))"""
      }.mkString(",\n")
      def coreSel(kk: Int) =
        s"""SELECT $kk AS k, organism, CAST(COUNT(*) AS BIGINT) AS core_degree
            FROM (SELECT u AS organism FROM r${kk}_12
                  UNION ALL SELECT v FROM r${kk}_12)
            GROUP BY organism"""
      s"""WITH g AS (SELECT * FROM $g),
          so AS (SELECT subj AS sample, obj AS org FROM g
                 WHERE pred = '${SOSA}isSampleOf'),
          hs AS (SELECT subj AS rec, obj AS sample FROM g
                 WHERE pred = '${EMI}hasSource'),
          ht AS (SELECT subj AS rec, obj AS sample FROM g
                 WHERE pred = '${EMI}hasTarget'),
          r2_0 AS MATERIALIZED (
            SELECT DISTINCT least(s1.org, s2.org) AS u,
                   greatest(s1.org, s2.org) AS v
            FROM hs JOIN so s1 ON s1.sample = hs.sample
                 JOIN ht ON ht.rec = hs.rec
                 JOIN so s2 ON s2.sample = ht.sample
            WHERE s1.org <> s2.org),
          r3_0 AS (SELECT u, v FROM r2_12),
          ${peels(2)},
          ${peels(3)}
          SELECT k, organism, core_degree FROM (
            ${coreSel(2)} UNION ALL ${coreSel(3)})
          ORDER BY k, core_degree DESC, organism"""
    },

    "kg_cs_pagerank" -> {
      // 10 power iterations unrolled as chained CTEs (recursive CTEs
      // forbid aggregation over the recursive reference). Every CTE is
      // AS MATERIALIZED: inlined, each prK would nest its whole
      // predecessor chain and the optimizer re-plans an exponentially
      // deep tree (observed: minutes instead of seconds)
      val iters = (1 to 10).map { k =>
        s"""pr$k AS MATERIALIZED (
            SELECT nd.node, 0.15/nn.n + 0.85*COALESCE(s.x, 0) AS rank
            FROM nodes nd CROSS JOIN nn
            LEFT JOIN (
              SELECT e.dst AS node, SUM(p.rank/d.deg) AS x
              FROM pr${k - 1} p
              JOIN deg d ON d.node = p.node
              JOIN e ON e.src = p.node
              GROUP BY e.dst) s ON s.node = nd.node)"""
      }.mkString(",\n")
      s"""WITH g AS MATERIALIZED (SELECT * FROM $g),
          so AS MATERIALIZED (SELECT subj AS sample, obj AS org FROM g
                 WHERE pred = '${SOSA}isSampleOf'),
          hs AS (SELECT subj AS rec, obj AS sample FROM g
                 WHERE pred = '${EMI}hasSource'),
          ht AS (SELECT subj AS rec, obj AS sample FROM g
                 WHERE pred = '${EMI}hasTarget'),
          e AS MATERIALIZED (
            SELECT DISTINCT s1.org AS src, s2.org AS dst
            FROM hs JOIN so s1 ON s1.sample = hs.sample
                 JOIN ht ON ht.rec = hs.rec
                 JOIN so s2 ON s2.sample = ht.sample
            WHERE s1.org <> s2.org),
          nodes AS MATERIALIZED (SELECT src AS node FROM e UNION SELECT dst FROM e),
          nn AS MATERIALIZED (SELECT COUNT(*) AS n FROM nodes),
          deg AS MATERIALIZED (SELECT src AS node, COUNT(*) AS deg FROM e GROUP BY src),
          pr0 AS MATERIALIZED (SELECT node, 1.0/nn.n AS rank FROM nodes CROSS JOIN nn),
          $iters
          SELECT pr10.node AS organism,
                 round(pr10.rank * nn.n, 6) AS pr_scaled
          FROM pr10 CROSS JOIN nn
          ORDER BY pr_scaled DESC, organism LIMIT 20"""
    },

    "cs5_corr_matrix" ->
      """SELECT round(corr(CAST(l_quantity AS DOUBLE), CAST(l_extendedprice AS DOUBLE)), 6) AS corr_qty_price,
                round(corr(CAST(l_quantity AS DOUBLE), CAST(l_discount AS DOUBLE)), 6) AS corr_qty_disc,
                round(corr(CAST(l_extendedprice AS DOUBLE), CAST(l_discount AS DOUBLE)), 6) AS corr_price_disc
         FROM lineitem""",

    "cs5_zscore" ->
      """SELECT l_orderkey, l_linenumber, l_returnflag,
                round((CAST(l_extendedprice AS DOUBLE)
                        - AVG(CAST(l_extendedprice AS DOUBLE)) OVER (PARTITION BY l_returnflag))
                      / stddev_samp(CAST(l_extendedprice AS DOUBLE)) OVER (PARTITION BY l_returnflag), 6) AS z
         FROM lineitem ORDER BY l_orderkey, l_linenumber""",

    // same closed-form symmetric-3×3 eigensolve as Pca.eigRatioCols,
    // spelled in SQL: unit-diagonal correlation matrix, q = tr/3 = 1,
    // p = sqrt((c12²+c13²+c23²)/3), det((A−I)/p) = 2·c12·c13·c23/p³,
    // λk = 1 + 2p·cos(φ + 2πk/3) descending for k = 0,2,1
    "cs5_pca" ->
      """WITH m AS (
           SELECT corr(CAST(l_quantity AS DOUBLE), CAST(l_extendedprice AS DOUBLE)) AS c12,
                  corr(CAST(l_quantity AS DOUBLE), CAST(l_discount AS DOUBLE)) AS c13,
                  corr(CAST(l_extendedprice AS DOUBLE), CAST(l_discount AS DOUBLE)) AS c23
           FROM lineitem),
         e AS (SELECT *, sqrt((c12*c12 + c13*c13 + c23*c23) / 3.0) AS p FROM m),
         f AS (SELECT *,
                 acos(greatest(-1.0, least(1.0, c12*c13*c23 / (p*p*p)))) / 3.0 AS phi
               FROM e),
         l AS (SELECT *,
                 CASE WHEN p = 0 THEN 1.0 ELSE 1.0 + 2.0*p*cos(phi) END AS l1,
                 CASE WHEN p = 0 THEN 1.0
                      ELSE 1.0 + 2.0*p*cos(phi + 2.0*pi()/3.0) END AS l3
               FROM f)
         SELECT round(c12, 6) AS corr_qty_price,
                round(c13, 6) AS corr_qty_disc,
                round(c23, 6) AS corr_price_disc,
                round(l1/3.0, 6) AS evr1,
                round((3.0 - l1 - l3)/3.0, 6) AS evr2,
                round(l3/3.0, 6) AS evr3,
                round(l1/3.0 + (3.0 - l1 - l3)/3.0, 6) AS cum2
         FROM l""",

    // the PCA epilogue: same Cardano eigenvalues, then eigenVECTORS by
    // the cross-product method exactly as ops.Pca.eig3Corr — all three
    // row-pair cross products of (A − λI), FIRST-max-norm candidate
    // pick (Scala maxBy ties go to the earlier candidate), unit
    // normalization, sklearn-svd_flip sign rule (largest-|component|
    // entry positive, first-wins on ties), loadings = v·sqrt(max(λ,0))
    "cs5_pca_loadings" ->
      """WITH m AS (
           SELECT corr(CAST(l_quantity AS DOUBLE), CAST(l_extendedprice AS DOUBLE)) AS c12,
                  corr(CAST(l_quantity AS DOUBLE), CAST(l_discount AS DOUBLE)) AS c13,
                  corr(CAST(l_extendedprice AS DOUBLE), CAST(l_discount AS DOUBLE)) AS c23
           FROM lineitem),
         e AS (SELECT *, sqrt((c12*c12 + c13*c13 + c23*c23) / 3.0) AS p FROM m),
         f AS (SELECT *,
                 acos(greatest(-1.0, least(1.0, c12*c13*c23 / (p*p*p)))) / 3.0 AS phi
               FROM e),
         l AS (SELECT *,
                 CASE WHEN p = 0 THEN 1.0 ELSE 1.0 + 2.0*p*cos(phi) END AS l1,
                 CASE WHEN p = 0 THEN 1.0
                      ELSE 1.0 + 2.0*p*cos(phi + 2.0*pi()/3.0) END AS l3
               FROM f),
         lam AS (
           SELECT k, c12, c13, c23,
                  CASE k WHEN 1 THEN l1 WHEN 2 THEN 3.0 - l1 - l3 ELSE l3 END AS lv
           FROM l, (SELECT UNNEST([1, 2, 3]) AS k)),
         sh AS (SELECT *, 1.0 - lv AS d FROM lam),
         cp AS (
           SELECT k, lv,
                  c12*c23 - c13*d AS x1, c13*c12 - d*c23   AS y1, d*d - c12*c12   AS z1,
                  c12*d - c13*c23 AS x2, c13*c13 - d*d     AS y2, d*c23 - c12*c13 AS z2,
                  d*d - c23*c23   AS x3, c23*c13 - c12*d   AS y3, c12*c23 - d*c13 AS z3
           FROM sh),
         nn AS (
           SELECT *, sqrt(x1*x1 + y1*y1 + z1*z1) AS n1,
                     sqrt(x2*x2 + y2*y2 + z2*z2) AS n2,
                     sqrt(x3*x3 + y3*y3 + z3*z3) AS n3
           FROM cp),
         pick AS (
           SELECT k, lv,
                  CASE WHEN n1 >= n2 AND n1 >= n3 THEN x1/n1
                       WHEN n2 >= n3 THEN x2/n2 ELSE x3/n3 END AS vx,
                  CASE WHEN n1 >= n2 AND n1 >= n3 THEN y1/n1
                       WHEN n2 >= n3 THEN y2/n2 ELSE y3/n3 END AS vy,
                  CASE WHEN n1 >= n2 AND n1 >= n3 THEN z1/n1
                       WHEN n2 >= n3 THEN z2/n2 ELSE z3/n3 END AS vz
           FROM nn),
         sgn AS (
           SELECT *, CASE WHEN (CASE WHEN abs(vx) >= abs(vy) AND abs(vx) >= abs(vz) THEN vx
                                     WHEN abs(vy) >= abs(vz) THEN vy ELSE vz END) < 0
                          THEN -1.0 ELSE 1.0 END AS s,
                  sqrt(greatest(lv, 0.0)) AS sl
           FROM pick)
         SELECT CAST(k AS BIGINT) AS component,
                round(s * vx * sl, 6) AS loading_qty,
                round(s * vy * sl, 6) AS loading_price,
                round(s * vz * sl, 6) AS loading_disc
         FROM sgn ORDER BY component""",

    "kg_cs_crosstab" ->
      s"""WITH g AS (SELECT * FROM $g),
          cw AS (SELECT subj AS rec, obj AS itype FROM g
                 WHERE pred = '${EMI}isClassifiedWith'),
          lbl AS (SELECT subj AS itype, obj AS ilabel FROM g
                  WHERE pred = '$RDFS_LABEL'),
          loc AS (SELECT DISTINCT subj AS rec FROM g
                  WHERE pred = '${PROV}atLocation')
          SELECT ilabel,
                 CAST(SUM(CASE WHEN loc.rec IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_with_loc,
                 CAST(SUM(CASE WHEN loc.rec IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_without_loc
          FROM cw JOIN lbl USING (itype) LEFT JOIN loc ON loc.rec = cw.rec
          GROUP BY ilabel ORDER BY ilabel""",

    // the BGP restated as explicit joins — gate covers the compiler's
    // parse + join-order + projection end-to-end
    "kg_bgp_star" ->
      s"""WITH g AS (SELECT * FROM $g),
          rec AS (SELECT subj AS rec FROM g
                  WHERE pred = '${Model.RDF_TYPE}'
                    AND obj = '${EMI}Interaction'),
          hs AS (SELECT subj AS rec, obj AS ss FROM g
                 WHERE pred = '${EMI}hasSource'),
          ht AS (SELECT subj AS rec, obj AS ts FROM g
                 WHERE pred = '${EMI}hasTarget'),
          so AS (SELECT subj AS samp, obj AS org FROM g
                 WHERE pred = '${SOSA}isSampleOf')
          SELECT s1.org AS sorg, s2.org AS torg,
                 COUNT(*) AS n_recs
          FROM rec JOIN hs USING (rec) JOIN ht USING (rec)
               JOIN so s1 ON s1.samp = hs.ss
               JOIN so s2 ON s2.samp = ht.ts
          GROUP BY 1, 2
          ORDER BY n_recs DESC, sorg, torg LIMIT 20""",

    "kg_bgp_filtered" ->
      s"""WITH g AS (SELECT * FROM $g),
          it AS (SELECT subj AS it FROM g
                 WHERE pred = '$RDFS_LABEL' AND obj = 'eats'),
          cw AS (SELECT subj AS rec, obj AS it FROM g
                 WHERE pred = '${EMI}isClassifiedWith'),
          hs AS (SELECT subj AS rec, obj AS ss FROM g
                 WHERE pred = '${EMI}hasSource'),
          lbl AS (SELECT subj AS ss, obj AS sname FROM g
                  WHERE pred = '$RDFS_LABEL')
          SELECT sname, COUNT(*) AS n_recs
          FROM it JOIN cw USING (it) JOIN hs USING (rec)
               JOIN lbl USING (ss)
          GROUP BY 1 ORDER BY n_recs DESC, sname LIMIT 15""",

    // FILTERs restated as WHERE clauses on the explicit joins
    "kg_bgp_filter_expr" ->
      s"""WITH g AS (SELECT * FROM $g),
          hs AS (SELECT subj AS rec, obj AS ss FROM g
                 WHERE pred = '${EMI}hasSource'),
          ht AS (SELECT subj AS rec, obj AS ts FROM g
                 WHERE pred = '${EMI}hasTarget'),
          so AS (SELECT subj AS samp, obj AS org FROM g
                 WHERE pred = '${SOSA}isSampleOf'),
          lbl AS (SELECT subj AS ss, obj AS sname FROM g
                  WHERE pred = '$RDFS_LABEL')
          SELECT sname, COUNT(*) AS n_recs
          FROM hs JOIN ht USING (rec)
               JOIN so s1 ON s1.samp = hs.ss
               JOIN so s2 ON s2.samp = ht.ts
               JOIN lbl ON lbl.ss = hs.ss
          WHERE s1.org <> s2.org
            AND regexp_matches(sname, '^Taxon 1[0-9]$$')
          GROUP BY 1 ORDER BY sname""",

    // OPTIONAL restated as an explicit LEFT JOIN
    "kg_bgp_optional" ->
      s"""WITH g AS (SELECT * FROM $g),
          cw AS (SELECT subj AS rec, obj AS it FROM g
                 WHERE pred = '${EMI}isClassifiedWith'),
          lbl AS (SELECT subj AS it, obj AS ilabel FROM g
                  WHERE pred = '$RDFS_LABEL'),
          loc AS (SELECT subj AS rec, obj AS loc FROM g
                  WHERE pred = '${PROV}atLocation')
          SELECT ilabel, COUNT(*) AS n_recs,
                 CAST(COUNT(loc.loc) AS BIGINT) AS n_located
          FROM cw JOIN lbl USING (it) LEFT JOIN loc USING (rec)
          GROUP BY 1 ORDER BY ilabel""",

    // independent re-derivation of BOTH the parent edges (string_split
    // over the side-channel paths dump) and the closure itself — a
    // depth-bounded RECURSIVE CTE (bound 12 > the max min-depth 7, so
    // MIN(depth) over enumerated paths equals the engine's doubling
    // fixpoint exactly)
    "kg_taxonomy_closure" ->
      s"""WITH RECURSIVE p AS (
           SELECT DISTINCT path
           FROM '${Materialized.SideDir}/taxon_paths_n*/*.parquet'
           WHERE n_docs = (SELECT COUNT(*) // 3 FROM orders)),
         toks AS (SELECT string_split(path, '|') AS t FROM p
                  WHERE len(string_split(path, '|')) >= 2),
         idx AS (SELECT t, i
                 FROM toks, UNNEST(generate_series(1, len(t) - 1)) AS u(i)),
         e AS (SELECT DISTINCT trim(t[i + 1]) AS child, trim(t[i]) AS parent
               FROM idx
               WHERE trim(t[i + 1]) <> '' AND trim(t[i]) <> ''
                 AND trim(t[i + 1]) <> trim(t[i])),
         c AS (
           SELECT child AS node, parent AS anc, 1 AS depth FROM e
           UNION ALL
           SELECT c.node, e.parent, c.depth + 1
           FROM c JOIN e ON e.child = c.anc
           WHERE c.depth < 12)
         SELECT node, anc, CAST(MIN(depth) AS BIGINT) AS depth
         FROM c GROUP BY node, anc ORDER BY node, anc""",

    // same edge re-derivation + recursive closure, restricted to the
    // Kingdom0 ancestor, joined back to the direct-parent edges — the
    // SQL restatement of `?d broader+ "Kingdom0" . ?d broader ?p`
    "kg_bgp_path_plus" ->
      s"""WITH RECURSIVE p AS (
           SELECT DISTINCT path
           FROM '${Materialized.SideDir}/taxon_paths_n*/*.parquet'
           WHERE n_docs = (SELECT COUNT(*) // 3 FROM orders)),
         toks AS (SELECT string_split(path, '|') AS t FROM p
                  WHERE len(string_split(path, '|')) >= 2),
         idx AS (SELECT t, i
                 FROM toks, UNNEST(generate_series(1, len(t) - 1)) AS u(i)),
         e AS (SELECT DISTINCT trim(t[i + 1]) AS child, trim(t[i]) AS parent
               FROM idx
               WHERE trim(t[i + 1]) <> '' AND trim(t[i]) <> ''
                 AND trim(t[i + 1]) <> trim(t[i])),
         c AS (
           SELECT child AS node, parent AS anc, 1 AS depth FROM e
           UNION ALL
           SELECT c.node, e.parent, c.depth + 1
           FROM c JOIN e ON e.child = c.anc
           WHERE c.depth < 12),
         dd AS (SELECT DISTINCT node FROM c WHERE anc = 'Kingdom0')
         SELECT dd.node AS d, e.parent AS p
         FROM dd JOIN e ON e.child = dd.node
         ORDER BY d, p""",

    // same one-pass per-subject conditional aggregate, same shape
    // predicates, same hash60 bit_xor fingerprint; the VALUES shape
    // list supplies the zero-violation rows on both sides
    "kg_shacl" ->
      s"""WITH gg AS (
           SELECT subj, pred, obj, objIsLiteral, objDatatype
           FROM '${Materialized.SideDir}/globi_triples_n*/*.parquet'
           WHERE n_docs = (SELECT COUNT(*) // 3 FROM orders)),
         ps AS (
           SELECT subj,
             MAX(CASE WHEN pred = '${Model.RDF_TYPE}'
                       AND obj IN ('${EMI}Interaction', '${SOSA}Sample')
                      THEN obj END) AS ttype,
             SUM(CASE WHEN pred = '${EMI}hasSource' THEN 1 ELSE 0 END) AS c_src,
             SUM(CASE WHEN pred = '${EMI}hasTarget' THEN 1 ELSE 0 END) AS c_tgt,
             SUM(CASE WHEN pred = '${EMI}isClassifiedWith' THEN 1 ELSE 0 END) AS c_cls,
             SUM(CASE WHEN pred = '${EMI}inTaxon' THEN 1 ELSE 0 END) AS c_tax,
             SUM(CASE WHEN pred = '$RDFS_LABEL' THEN 1 ELSE 0 END) AS c_lbl,
             SUM(CASE WHEN pred = '${EMI}hasSex' THEN 1 ELSE 0 END) AS c_sex
           FROM gg
           WHERE pred IN ('${Model.RDF_TYPE}', '${EMI}hasSource',
             '${EMI}hasTarget', '${EMI}isClassifiedWith', '${EMI}inTaxon',
             '$RDFS_LABEL', '${EMI}hasSex')
           GROUP BY subj),
         v AS (
           SELECT 'interaction_source_exactly1' AS shape_id, subj FROM ps
           WHERE ttype = '${EMI}Interaction' AND c_src <> 1
           UNION ALL
           SELECT 'interaction_target_exactly1', subj FROM ps
           WHERE ttype = '${EMI}Interaction' AND c_tgt <> 1
           UNION ALL
           SELECT 'interaction_classified_min1', subj FROM ps
           WHERE ttype = '${EMI}Interaction' AND c_cls < 1
           UNION ALL
           SELECT 'sample_intaxon_exactly1', subj FROM ps
           WHERE ttype = '${SOSA}Sample' AND c_tax <> 1
           UNION ALL
           SELECT 'sample_label_min1', subj FROM ps
           WHERE ttype = '${SOSA}Sample' AND c_lbl < 1
           UNION ALL
           SELECT 'sample_sex_max1', subj FROM ps
           WHERE ttype = '${SOSA}Sample' AND c_sex > 1
           UNION ALL
           SELECT 'intaxon_nodekind_iri', subj FROM gg
           WHERE pred = '${EMI}inTaxon' AND objIsLiteral
           UNION ALL
           SELECT 'numericvalue_datatype_integer', subj FROM gg
           WHERE pred = '${Model.QUDT}numericValue'
             AND (NOT objIsLiteral OR objDatatype <> '${Model.XSD_INTEGER}')
           UNION ALL
           SELECT 'hassource_class_sample', subj FROM gg
           WHERE pred = '${EMI}hasSource' AND obj NOT IN (
             SELECT subj FROM gg WHERE pred = '${Model.RDF_TYPE}'
               AND obj = '${SOSA}Sample')
           UNION ALL
           SELECT 'intaxon_class_taxon', subj FROM gg
           WHERE pred = '${EMI}inTaxon' AND obj NOT IN (
             SELECT subj FROM gg WHERE pred = '${Model.RDF_TYPE}'
               AND obj = '${EMI}Taxon')),
         agg AS (
           SELECT shape_id, COUNT(*) AS n_violations,
             bit_xor(('0x' || substr(md5(subj), 1, 15))::BIGINT) AS fp
           FROM v GROUP BY shape_id),
         shapes(shape_id) AS (VALUES
           ('interaction_source_exactly1'), ('interaction_target_exactly1'),
           ('interaction_classified_min1'), ('sample_intaxon_exactly1'),
           ('sample_label_min1'), ('sample_sex_max1'),
           ('intaxon_nodekind_iri'), ('numericvalue_datatype_integer'),
           ('hassource_class_sample'), ('intaxon_class_taxon'))
         SELECT s.shape_id, COALESCE(n_violations, 0) AS n_violations,
                COALESCE(fp, 0) AS fp
         FROM shapes s LEFT JOIN agg USING (shape_id)
         ORDER BY shape_id""")
}
