package graft.kg

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DataType

/** Stage 3.5 — connected-components canonicalization over entity
  * equivalence edges (north rule; NOT in the reference, whose
  * canonicalization is purely dictionary-based — SURVEY §4.1).
  *
  * ROW-COUNT GUARD ([[Model.driverRows]]): while the edge table has at
  * most `maxDriverRows` rows — the equivalence graph is
  * dimension-sized — one action brings the edges to the driver, where
  * a min-label union-find labels the components and the mapping comes back as a local
  * relation. Above the guard, or with a non-positive guard, the
  * distributed algorithm below runs; the specs hold both arms equal.
  *
  * Distributed algorithm: alternating large-star / small-star (Kiveris
  * et al., "Connected Components in MapReduce and Beyond", SoCC'14),
  * implemented as a driver loop of DataFrame ops:
  *
  *   large-star: for each node u, neighbors v > u attach to
  *               m = min(N(u) ∪ {u});  small-star: neighbors v <= u
  *               (and u itself) attach to m.
  *
  * Convergence when the edge multiset stops changing (checked via a
  * count + sum-of-hashes aggregate — one tiny action per iteration).
  * Each star step is ONE shuffle (window partitionBy(u) min) with a
  * single-pass two-arm emission; high-degree hubs are exactly what
  * large-star splits, so the algorithm self-handles skew.
  * Lineage is cut by an eager localCheckpoint per iteration — at
  * 10^12-doc scale the loop runs O(log d) iterations.
  *
  * Node ids are atomic values (IRIs as strings, or numbers) under
  * Spark's ordering of their type (lexicographic for strings), a total
  * order — all either arm needs.
  */
object Canonical {

  /** Input: edges(src, dst) undirected. Output: mapping(node, component)
    * for every endpoint of an edge with src ≠ dst and no null endpoint,
    * where component = the component's min node id.
    */
  def connectedComponents(edges: DataFrame, maxIter: Int = 50,
      maxDriverRows: Long = Model.MaxDriverRows): DataFrame = {
    val e = ordered(edges)
    Model.driverRows(e, maxDriverRows, "components")
      .map(rows => driverComponents(e.sparkSession,
        rows.toSeq.map(r => (r.get(0), r.get(1))), e.schema("src").dataType))
      .getOrElse(starComponents(edges, maxIter))
  }

  /** Each edge as (min, max) endpoint, loops and null endpoints dropped
    * (a null endpoint makes `=!=` null).
    */
  private def ordered(e: DataFrame): DataFrame =
    e.select(least(col("src"), col("dst")).as("src"),
        greatest(col("src"), col("dst")).as("dst"))
      .filter(col("src") =!= col("dst"))

  /** Min-label union-find over edge pairs on the driver (no loops, no
    * null endpoints): node ids of type `dt` are ranked in Spark's
    * ordering of that type, so a component's root — always its smallest
    * rank — is its min node, as the distributed arm's.
    */
  private def driverComponents(spark: SparkSession, edges: Seq[(Any, Any)],
      dt: DataType): DataFrame = {
    import org.apache.spark.sql.catalyst.CatalystTypeConverters
    import org.apache.spark.sql.catalyst.util.TypeUtils
    import org.apache.spark.sql.types.{StructField, StructType}
    val toCatalyst = CatalystTypeConverters.createToCatalystConverter(dt)
    val nodes = edges.iterator.flatMap(e => Iterator(e._1, e._2))
      .toArray.distinct.map(v => (toCatalyst(v), v))
      .sortBy(_._1)(TypeUtils.getInterpretedOrdering(dt)).map(_._2)
    val rank = nodes.iterator.zipWithIndex.toMap
    val parent = Array.tabulate(nodes.length)(identity)
    def find(x: Int): Int = {
      var r = x
      while (parent(r) != r) { parent(r) = parent(parent(r)); r = parent(r) }
      r
    }
    edges.foreach { case (u, v) =>
      val (a, b) = (find(rank(u)), find(rank(v)))
      if (a < b) parent(b) = a else if (b < a) parent(a) = b
    }
    val mapping = nodes.indices.map(i => Row(nodes(i), nodes(find(i))))
    spark.createDataFrame(java.util.Arrays.asList(mapping: _*),
      StructType(Seq(StructField("node", dt), StructField("component", dt))))
  }

  /** The distributed arm: large-star / small-star rounds. */
  private def starComponents(edges: DataFrame, maxIter: Int): DataFrame = {
    def canon(e: DataFrame): DataFrame = ordered(e).distinct()

    // symmetrize once; keep (u, v) both directions for the star steps
    def sym(e: DataFrame): DataFrame =
      e.select(col("src").as("u"), col("dst").as("v"))
        .unionByName(e.select(col("dst").as("u"), col("src").as("v")))

    // Emit up to two (s, d) pairs per input row in ONE pass (array →
    // filter nulls → explode): the star steps each produce a "reroute
    // every neighbor" arm and a "once per node" arm, and computing them
    // as two filtered projections of the same window subtree would
    // execute the sort+window twice.
    def emit2(cond1: org.apache.spark.sql.Column, s1: org.apache.spark.sql.Column,
        d1: org.apache.spark.sql.Column, cond2: org.apache.spark.sql.Column,
        s2: org.apache.spark.sql.Column, d2: org.apache.spark.sql.Column) =
      explode(filter(
        array(when(cond1, struct(s1.as("s"), d1.as("d"))),
          when(cond2, struct(s2.as("s"), d2.as("d")))),
        x => x.isNotNull))

    // Fused large-star ∘ small-star round, hub-degree-safe: per-node
    // mins come from WINDOW aggregates (one shuffle + sort per star
    // step, streaming spill on hub partitions) instead of a groupBy +
    // self-join (two shuffles per step and the join re-executes its
    // input subtree once per reference) — and small-star skips the
    // re-symmetrize entirely because every large-star output edge
    // already points downward (d = some min ≤ s), so the v ≤ u half of
    // sym(largeStar(e)) is largeStar(e) itself. Neither step ever
    // materializes a neighbor LIST: a celebrity node with 10^7
    // neighbors is a big sorted partition, not an aggregation buffer —
    // and large-star is precisely the step that splits such hubs.
    def round(e: DataFrame): DataFrame = {
      import org.apache.spark.sql.expressions.Window
      val wu = Window.partitionBy("u")
      // large-star: m = min(N(u) ∪ {u}); reroute v > u to m, attach u
      val s = sym(e)
        .withColumn("m", min(least(col("v"), col("u"))).over(wu))
        .withColumn("mv", min(col("v")).over(wu))
      val ls = s
        .select(emit2(
          col("v") > col("u"), col("v"), col("m"),
          col("v") === col("mv"), col("u"), col("m")).as("e"))
        .select(col("e.s").as("u"), col("e.d").as("v"))
      // small-star on the downward edge list: m = min(N≤(u) ∪ {u})
      val t = ls.withColumn("m", min(col("v")).over(wu))
      t.select(emit2(
          lit(true), col("v"), col("m"),
          col("v") === col("m"), col("u"), col("m")).as("e"))
        .select(col("e.s").as("src"), col("e.d").as("dst"))
    }

    def signature(e: DataFrame): (Long, Long) = {
      // order-insensitive, overflow-free fingerprint of the edge set
      val row = e.select(xxhash64(col("src"), col("dst")).as("h"))
        .agg(count(lit(1)).as("n"),
          coalesce(expr("bit_xor(h)"), lit(0L)).as("x"))
        .head()
      (row.getLong(0), row.getLong(1))
    }

    // localCheckpoint each round: truncates the logical plan (plain
    // persist leaves Catalyst re-analyzing an exponentially growing
    // lineage) — the standard iterative-DataFrame pattern. On a real
    // cluster swap for reliable checkpoint() to survive executor loss.
    // The convergence signature is checked every SECOND round: the star
    // steps are monotone (a converged edge set is a fixpoint, so the
    // extra round is a no-op), and halving the signature actions halves
    // the driver round-trips that dominate the tail iterations.
    // every round IS checkpointed: sym() references the round input
    // twice, so an un-materialized round would re-execute the previous
    // round's DAG multiplicatively — measured 5× slower when tried.
    // Only the SIGNATURE action runs every 2nd round.
    var cur = canon(edges).localCheckpoint(true)
    var sig = signature(cur)
    var converged = false
    var it = 0
    while (!converged && it < maxIter) {
      val mid = canon(round(cur)).localCheckpoint(true)
      val next =
        if (it + 1 < maxIter)
          canon(round(mid)).localCheckpoint(true)
        else mid
      val nextSig = signature(next)
      converged = nextSig == sig
      sig = nextSig
      cur = next
      it += 2
    }
    // star-contracted graph: every surviving edge is (node, root)
    val mapping = sym(cur).groupBy(col("u").as("node"))
      .agg(min(least(col("v"), col("u"))).as("component"))
    // isolated representation: roots map to themselves
    mapping
  }

  /** Entity-equivalence edges for canonicalization: two Wikidata ids are
    * equivalent when some verbatim taxon name resolved to both (same
    * surface form, different dictionary paths). This reproduces — and
    * then transitively closes — the merge the reference implies by
    * routing id-dict and name-dict lookups into the same Mapped_ID_WD
    * space (globi_kg_generator.py:190-206).
    */
  def equivalenceEdges(matcherOut: DataFrame): DataFrame = {
    val named = matcherOut
      .filter(col("Mapped_ID_WD").isNotNull && col("Mapped_ID_WD") =!= "" &&
        col("TaxonName").isNotNull && trim(col("TaxonName")) =!= "")
      .select(trim(col("TaxonName")).as("name"),
        regexp_replace(col("Mapped_ID_WD"), "Wikidata:", "").as("wd"))
      .distinct()
    named.as("a").join(named.as("b"), Seq("name"))
      .filter(col("a.wd") < col("b.wd"))
      .select(col("a.wd").as("src"), col("b.wd").as("dst"))
      .distinct()
  }

  /** `connectedComponents(equivalenceEdges(m))` over the raw
    * (TaxonName, Mapped_ID_WD) pairs of matcher rows already on the
    * driver: the same filter and name/id forms (`trim` strips ASCII
    * spaces only, as Spark's), then the driver union-find. A name's
    * distinct ids are a clique in [[equivalenceEdges]]; a star on one of
    * them has the same components and nodes, with edges linear in the
    * rows.
    */
  private[graft] def equivalenceMapping(spark: SparkSession,
      namedIds: Seq[(String, String)]): DataFrame = {
    def trimSpaces(s: String): String = s.replaceAll("^ +| +$", "")
    val idsByName = namedIds
      .filter { case (name, wd) =>
        wd != null && wd.nonEmpty && name != null && trimSpaces(name).nonEmpty
      }
      .map { case (name, wd) => trimSpaces(name) -> wd.replace("Wikidata:", "") }
      .distinct.groupMap(_._1)(_._2)
    val star = idsByName.valuesIterator
      .flatMap(ids => ids.tail.map(id => (ids.head: Any) -> (id: Any))).toSeq
    driverComponents(spark, star, org.apache.spark.sql.types.StringType)
  }

  /** Rewrite triple subjects/objects through the canonical map (IRIs
    * only; literals pass through). Canonical ids only exist for wd
    * entities, so the join key is the WD-prefixed IRI.
    *
    * The broadcast hint is ROW-COUNT-GUARDED ([[Model.MaxDriverRows]]):
    * while the mapping is dictionary-sized the two probes are
    * broadcast-hash joins, but when the entity space
    * scales with the corpus (open-world linking) a forced broadcast
    * would OOM the executors — above the guard the planner keeps its
    * freedom and falls back to a shuffle join (AQE can still pick
    * broadcast if stats allow).
    */
  def canonicalizeTriples(triples: DataFrame, mapping: DataFrame,
      maxBroadcastRows: Long = Model.MaxDriverRows): DataFrame = {
    // a local relation (the driver CC arm's mapping) is counted without
    // a job; the distributed arm's mapping recomputes its final groupBy
    // over the checkpointed star graph
    val rows = mapping.queryExecution.optimizedPlan match {
      case l: org.apache.spark.sql.catalyst.plans.logical.LocalRelation =>
        l.data.length.toLong
      case _ => mapping.count()
    }
    val m0 = mapping.select(
      concat(lit(Model.WD), col("node")).as("_n"),
      concat(lit(Model.WD), col("component")).as("_c"))
    val m = if (rows <= maxBroadcastRows) broadcast(m0) else m0
    triples
      .join(m.withColumnRenamed("_n", "_sn").withColumnRenamed("_c", "_sc"),
        col("subj") === col("_sn"), "left")
      .join(m.withColumnRenamed("_n", "_on").withColumnRenamed("_c", "_oc"),
        col("obj") === col("_on") && !col("objIsLiteral"), "left")
      .select(
        coalesce(col("_sc"), col("subj")).as("subj"),
        col("pred"),
        coalesce(col("_oc"), col("obj")).as("obj"),
        col("objIsLiteral"), col("objDatatype"))
      .dropDuplicates("subj", "pred", "obj", "objIsLiteral", "objDatatype")
  }
}
