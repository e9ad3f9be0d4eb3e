package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Sampled-source Brandes betweenness over a DataFrame edge list
  * (Brandes 2001, the sampled estimator of Brandes–Pich 2007): forward
  * BFS carrying σ (shortest-path counts), backward dependency
  * accumulation δ(v) = Σ_w σ(v)/σ(w)·(1+δ(w)) over successor-level
  * neighbors. Every round is ONE frontier-scale join + aggregate,
  * localCheckpointed (the iterative-DataFrame discipline); σ stays
  * integer end-to-end, δ is double. Exact per source; sampling = the
  * caller's pinned source set, so two engines given the same sources
  * compute identical scores.
  */
object Brandes {

  /** und(u, v) undirected distinct edges; sources(hub) seed nodes →
    * (hub, node, delta) per-source dependencies for every node at
    * distance ≥ 1 from its source. Sum over hubs for the betweenness
    * estimate.
    */
  def dependencies(und: DataFrame, sources: DataFrame): DataFrame = {
    val sym = Adjacency.symmetric(und).localCheckpoint(true)
    var visited = sources.select(col("hub"), col("hub").as("node"),
      lit(0L).as("dist"), lit(1L).as("sigma")).localCheckpoint(true)
    var frontier = visited
    var level = 0L
    var n = frontier.count()
    while (n > 0) {
      level += 1
      // σ aggregates over predecessor-level neighbors BEFORE the
      // visited anti-join, so path multiplicities are exact
      val next = frontier.join(sym, frontier("node") === sym("a"))
        .select(col("hub"), col("b").as("node"), col("sigma"))
        .groupBy(col("hub"), col("node"))
        .agg(sum(col("sigma")).as("sigma"))
        .join(visited.select(col("hub"), col("node")),
          Seq("hub", "node"), "left_anti")
        .withColumn("dist", lit(level))
        .select(col("hub"), col("node"), col("dist"), col("sigma"))
        .localCheckpoint(true)
      // the accumulated set IS re-checkpointed here, deliberately: the
      // backward pass re-reads visited once per level (dist == k
      // filters), so a compact single-RDD checkpoint beats a growing
      // union of per-level fragments — measured 3.0 → 3.7 s when the
      // re-checkpoint was dropped (the forward-only BFS loops, which
      // never re-read the union, do drop it)
      visited = visited.union(next).localCheckpoint(true)
      frontier = next
      n = next.count()
    }
    val maxDist = level - 1 // last expansion was empty
    var deltaAbove = visited.filter(lit(false))
      .select(col("hub"), col("node"), lit(0.0).as("delta"))
    val parts =
      scala.collection.mutable.ArrayBuffer[DataFrame]()
    for (k <- maxDist to 1L by -1L) {
      val cur = visited.filter(col("dist") === k)
      val nxtW = visited.filter(col("dist") === k + 1)
        .select(col("hub"), col("node").as("wnode"),
          col("sigma").as("wsigma"))
        .join(deltaAbove.select(col("hub"), col("node").as("wnode"),
          col("delta").as("wdelta")), Seq("hub", "wnode"), "left")
        .select(col("hub"), col("wnode"), col("wsigma"),
          coalesce(col("wdelta"), lit(0.0)).as("wdelta"))
      val contrib = cur.join(sym, cur("node") === sym("a"))
        .select(col("hub"), col("node"), col("sigma"), col("b"))
        .join(nxtW.withColumnRenamed("hub", "whub"),
          col("b") === col("wnode") && col("hub") === col("whub"))
        .select(col("hub"), col("node"),
          (col("sigma").cast("double") / col("wsigma").cast("double") *
            (lit(1.0) + col("wdelta"))).as("c"))
        .groupBy(col("hub"), col("node"))
        .agg(sum(col("c")).as("delta"))
      val deltaK = cur.select(col("hub"), col("node"))
        .join(contrib, Seq("hub", "node"), "left")
        .select(col("hub"), col("node"),
          coalesce(col("delta"), lit(0.0)).as("delta"))
        .localCheckpoint(true)
      parts += deltaK
      deltaAbove = deltaK
    }
    if (parts.isEmpty)
      visited.filter(lit(false))
        .select(col("hub"), col("node"), lit(0.0).as("delta"))
    else parts.reduce(_ unionByName _)
  }
}
