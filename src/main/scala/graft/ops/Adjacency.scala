package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The adjacency parts every distributed graph query is built from.
  * An undirected edge list is `(u, v)`, one row per edge; an adjacency
  * is `(a, b)`, one row per edge orientation, read as "b is a neighbour
  * of a" (a directed edge list renamed to `(a, b)` is an adjacency too).
  * Skew handling for the wedge join (hub blocking, list crosscutting)
  * belongs here, so every caller gets it at once.
  */
object Adjacency {

  /** Both orientations `(a, b)` of the undirected edges `und(u, v)`;
    * every other column of `und` rides along on both (SSSP's weight `w`).
    */
  def symmetric(und: DataFrame): DataFrame = {
    val rest = und.columns.filterNot(c => c == "u" || c == "v").map(col).toSeq
    und.select(col("u").as("a") +: col("v").as("b") +: rest: _*)
      .union(und.select(col("v").as("a") +: col("u").as("b") +: rest: _*))
  }

  /** `(n, d)`: the number of adjacency rows leaving each node `a` (its
    * degree in a symmetric adjacency, its out-degree in a directed one).
    */
  def degrees(adj: DataFrame): DataFrame =
    adj.groupBy(col("a").as("n")).agg(count(lit(1)).as("d"))

  /** `(hub)`: the `k` nodes of highest degree, ties broken by name. */
  def topByDegree(adj: DataFrame, k: Int): DataFrame =
    degrees(adj).orderBy(col("d").desc, col("n")).limit(k).select(col("n").as("hub"))

  /** `(w, u, v)`: every wedge u – w – v of `adj`, oriented `u < v` so
    * each unordered neighbour pair of a centre appears once. One
    * self-join on the centre: O(Σ deg²) rows through one shuffle.
    */
  def wedges(adj: DataFrame): DataFrame =
    adj.as("x").join(adj.as("y"), col("x.a") === col("y.a") && col("x.b") < col("y.b"))
      .select(col("x.a").as("w"), col("x.b").as("u"), col("y.b").as("v"))
}
