package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** HyperBall (Boldi–Rosa–Vigna, "HyperANF / In-Core Computation of
  * Geometric Centralities"): estimate the graph NEIGHBORHOOD FUNCTION
  * N(r) — how many (source, node) pairs lie within distance ≤ r — with
  * one 64-register HLL counter per node instead of all-pairs BFS:
  *
  *   ball_0(v) = HLL({v})
  *   ball_r(v) = MAX-merge( ball_{r-1}(u) : u ∈ N(v) ∪ {v} )
  *   N(r)      = Σ_v estimate(ball_r(v))
  *
  * This is THE web-scale distance-distribution algorithm: per round,
  * one shuffle (edges ⋈ registers + a (node, bucket) MAX re-aggregate)
  * over ≤ 64 small ints of state per node — where exact N(r) needs the
  * full reachable-pair set, quadratic in the worst case. Effective
  * diameter falls out as the smallest r with N(r) ≥ q·N(∞).
  *
  * Built entirely from the repo's portable HLL core
  * ([[Sketches.hllRegisters]] / [[Sketches.hllEstimate]]), so every
  * register and estimate is engine-portable and the driver gate hashes
  * the estimates exactly against a SQL re-derivation.
  */
object HyperBall {

  /** The registers of ball_0 .. ball_maxR over an UNDIRECTED distinct
    * edge list `(u, v)`, one `(node, b, mreg)` frame per radius. Each
    * round is one shuffle: the registers move along every edge
    * orientation and re-aggregate by (node, bucket) MAX with the node's
    * own, localCheckpointed so the plan stays one round deep.
    */
  private def balls(edges: DataFrame, maxR: Int): Seq[DataFrame] = {
    val adj = Adjacency.symmetric(edges).select(col("a").as("src"), col("b").as("dst"))
    val ball0 = Sketches.hllRegisters(
      adj.select(col("src").as("node")).distinct()
        .withColumn("h", Dedup.hash60(col("node").cast("string"))),
      "node", "h").localCheckpoint(true)
    (1 to maxR).scanLeft(ball0) { (regs, _) =>
      Sketches.mergeRegisters(
          adj.join(regs.withColumnRenamed("node", "src"), Seq("src"))
            .select(col("dst").as("node"), col("b"), col("mreg")),
          regs, "node")
        .localCheckpoint(true)
    }
  }

  /** The neighborhood function N(r) for r = 0..maxR over an UNDIRECTED
    * distinct edge list `(u, v)`. Estimates are summed per round as
    * DECIMAL(18,3) (order-independent exact addition — the repo's
    * double-sum convention) and returned as one row per radius:
    * `(r, est_pairs)`.
    */
  def neighborhoodFunction(edges: DataFrame, maxR: Int): DataFrame = {
    require(maxR >= 0, "maxR must be non-negative")
    balls(edges, maxR).zipWithIndex.map { case (regs, r) =>
      Sketches.hllEstimate(regs, "node")
        .agg(sum(col("est_distinct").cast("decimal(18,3)"))
          .cast("double").as("est_pairs"))
        .select(lit(r).as("r"), col("est_pairs"))
    }.reduce(_ unionByName _)
  }

  /** HARMONIC CENTRALITY via the same ball iteration (the HyperBall
    * paper's headline application): harmonic(v) = Σ_u 1/d(v,u),
    * truncated at `maxR`, estimated as
    * Σ_{r=1..maxR} (|ball_r(v)| − |ball_{r−1}(v)|) / r with the
    * per-node HLL estimates — the centrality that needs all-pairs
    * distances exactly, estimated here in maxR shuffles with bounded
    * per-node state. The per-round estimates are 3-dp-rounded doubles
    * and the difference/division/sum chain is written in fixed order,
    * so the scores hash exactly against a mirrored-order oracle.
    * Returns the top `k` (node, harmonic), score desc then node asc.
    */
  def harmonicCentrality(edges: DataFrame, maxR: Int, k: Int): DataFrame = {
    require(maxR >= 1, "harmonic centrality needs maxR >= 1")
    val joined = balls(edges, maxR).zipWithIndex.map { case (regs, r) =>
      Sketches.hllEstimate(regs, "node").withColumnRenamed("est_distinct", s"e$r")
    }.reduce(_.join(_, Seq("node")))
    val harmonic = (1 to maxR)
      .map(r => (col(s"e$r") - col(s"e${r - 1}")) / lit(r.toDouble))
      .reduce(_ + _)
    joined.select(col("node"), harmonic.as("harmonic"))
      .orderBy(col("harmonic").desc, col("node").asc)
      .limit(k)
  }

  /** Exact neighborhood function — the fixture-scale honesty rider
    * (the recall@10 convention): distinct reachable pairs per radius
    * by frontier expansion. Quadratic in the worst case; the estimate
    * above is the 100 TB path, this pins its accuracy per scale.
    * Returns `(r, exact_pairs)` for r = 0..maxR.
    */
  def exactNeighborhood(edges: DataFrame, maxR: Int): DataFrame = {
    val sym = Adjacency.symmetric(edges).select(col("a").as("src"), col("b").as("dst"))
    val nodes = sym.select(col("src").as("node")).distinct()
    var pairs = nodes.select(col("node").as("a"), col("node").as("z"))
      .localCheckpoint(true)
    def row(r: Int): DataFrame =
      pairs.agg(count(lit(1)).as("exact_pairs"))
        .select(lit(r).as("r"), col("exact_pairs"))
    var out = row(0)
    for (r <- 1 to maxR) {
      pairs = pairs
        .join(sym.withColumnRenamed("src", "z"), Seq("z"))
        .select(col("a"), col("dst").as("z"))
        .unionByName(pairs)
        .distinct()
        .localCheckpoint(true)
      out = out.unionByName(row(r))
    }
    out
  }
}
