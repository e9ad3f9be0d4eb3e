package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The loops of the distributed graph queries: a fixed number of
  * synchronous rounds, the damped power iteration that runs on it, and
  * the breadth-first frontier walk.
  */
object Iterate {

  /** `n` rounds of `step` from `init`, the state localCheckpointed after
    * every second round and after the last one. A state that enters the
    * next round once keeps a two-round lineage linear, and halving the
    * eager checkpoints halves the per-round driver round trips that
    * dominate on a dimension-sized graph.
    */
  def rounds(init: DataFrame, n: Int)(step: DataFrame => DataFrame): DataFrame =
    (1 to n).foldLeft(init) { (state, i) =>
      val next = step(state)
      if (i % 2 == 0 || i == n) next.localCheckpoint(true) else next
    }

  /** `n` rounds of `rank'(v) = restart(v) + 0.85 · Σ rank(a) / deg(a)`
    * over the rows `(a, b = v)` of the adjacency `adj`, from `init(node,
    * rank)`. `deg(n, d)` holds the rows leaving each node
    * ([[Adjacency.degrees]] of `adj`), and `restart(node, restart)`
    * lists every node; a node without out-edges drops its mass. Each
    * round is one contribution aggregate joined back onto the node set.
    */
  def powerIteration(adj: DataFrame, deg: DataFrame, restart: DataFrame, init: DataFrame,
      n: Int): DataFrame = {
    val outDeg = deg.select(col("n").as("node"), col("d").as("deg"))
    rounds(init, n) { rank =>
      val contrib = rank.join(outDeg, Seq("node"))
        .join(adj, col("node") === col("a"))
        .groupBy(col("b").as("node"))
        .agg(sum(col("rank") / col("deg")).as("x"))
      restart.join(contrib, Seq("node"), "left")
        .select(col("node"),
          (col("restart") + lit(0.85) * coalesce(col("x"), lit(0.0))).as("rank"))
    }
  }

  /** Breadth-first levels from each `sources(hub)` over the adjacency
    * `adj(a, b)`: `(hub, node, dist)` for every node within `maxLevels`
    * steps of its hub, the hub itself at dist 0. A level is frontier ⋈
    * adj → distinct → anti-join on the nodes already visited, one shuffle
    * over frontier rows, localCheckpointed; the walk stops after
    * `maxLevels` levels or at the first empty frontier. The visited set
    * is a union of the level checkpoints and is not re-checkpointed, as
    * no level reads it more than once.
    */
  def frontierWalk(adj: DataFrame, sources: DataFrame, maxLevels: Int): DataFrame = {
    var visited = sources.select(col("hub"), col("hub").as("node"), lit(0L).as("dist"))
      .localCheckpoint(true)
    var frontier = visited
    var level = 0L
    while (level < maxLevels && frontier.count() > 0) {
      level += 1
      frontier = frontier.join(adj, frontier("node") === adj("a"))
        .select(col("hub"), col("b").as("node")).distinct()
        .join(visited, Seq("hub", "node"), "left_anti")
        .withColumn("dist", lit(level))
        .localCheckpoint(true)
      visited = visited.union(frontier)
    }
    visited
  }
}
