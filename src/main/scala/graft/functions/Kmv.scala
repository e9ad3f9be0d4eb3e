package graft.functions

import org.apache.spark.sql.{Column, Encoder}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._

/** KMV ("k minimum values" / bottom-k theta) sketch — the mergeable
  * set sketch that, unlike HLL, also supports INTERSECTION estimates
  * (the theta-sketch idea): keep the k smallest distinct 60-bit hashes
  * of a set; the k-th smallest estimates density (≈ k/|S| of the hash
  * space), so |S| ≈ (k-1)·2^60/h_k, and two sketches intersect by
  * counting common hashes below θ = min(h_k^A, h_k^B) over the full
  * sketches.
  *
  * Implemented as a typed [[Aggregator]] (the §2.9 UDAF surface):
  * bounded O(k) state per group, map-side partial aggregation like any
  * built-in — at 100 TB each executor reduces its partitions to one
  * 64-long array per group before the shuffle. The hot path is the
  * O(1) reject (once the buffer is full, a hash ≥ the current k-th
  * min returns the buffer untouched); the O(k) insert happens only
  * the expected O(k·log n) times per partition.
  *
  * Everything is integer-deterministic (md5-derived hashes, exact
  * comparisons), so estimates are reproducible bit-for-bit across
  * engines — the DuckDB oracle re-derives h_k with a window rank and
  * applies the same closed-form arithmetic.
  */
object Kmv {

  /** Size of the 60-bit hash space the estimates normalize by. */
  val HashSpace: Double = math.pow(2.0, 60)

  final class SketchAgg(k: Int)
      extends Aggregator[Long, Array[Long], Array[Long]] {
    require(k > 1, "k must exceed 1")
    override def zero: Array[Long] = Array.emptyLongArray
    override def reduce(b: Array[Long], h: Long): Array[Long] =
      if (b.length == k && h >= b(k - 1)) b // O(1) fast-path reject
      else if (java.util.Arrays.binarySearch(b, h) >= 0) b // duplicate
      else ((b :+ h).sorted).take(k)
    override def merge(a: Array[Long], b: Array[Long]): Array[Long] =
      (a ++ b).distinct.sorted.take(k)
    override def finish(b: Array[Long]): Array[Long] = b
    override def bufferEncoder: Encoder[Array[Long]] =
      ExpressionEncoder[Array[Long]]()
    override def outputEncoder: Encoder[Array[Long]] =
      ExpressionEncoder[Array[Long]]()
  }

  /** The sketch as an untyped aggregate Column over a LongType hash. */
  def sketch(h: Column, k: Int): Column = udaf(new SketchAgg(k)).apply(h)

  /** Distinct-count estimate from a sketch column: exact |sketch| while
    * the set fits in k; (k-1)·2^60/h_k once it overflows.
    */
  def estimateDistinct(sk: Column, k: Int): Column =
    when(size(sk) < k, size(sk).cast("double"))
      .otherwise(lit((k - 1).toDouble) * lit(HashSpace) /
        element_at(sk, k).cast("double"))

  /** θ = the sampling threshold below which both sketches are
    * exhaustive: the smaller k-th min when both are FULL, the full
    * sketch's k-th min when only one is (the other holds its whole set),
    * NULL when neither is. `least` skips the NULL k-th min of a non-full
    * sketch; the size guard also keeps element_at(sk, k) from throwing
    * under ANSI mode (ADVICE r05).
    */
  def theta(a: Column, b: Column, k: Int): Column = {
    def kth(sk: Column) = when(size(sk) >= k, element_at(sk, k))
    least(kth(a), kth(b))
  }

  /** Intersection-cardinality estimate: hashes below θ present in
    * BOTH, scaled back by the sampled fraction. When neither sketch is
    * full (θ NULL) both are exhaustive sets, so the EXACT intersection
    * size is returned instead of a NULL estimate — the expression is
    * total and never divides by a null θ.
    */
  def estimateIntersection(a: Column, b: Column, k: Int): Column = {
    val th = theta(a, b, k)
    val common = size(filter(array_intersect(a, b), x => x < th))
    when(th.isNotNull,
      common.cast("double") * lit(HashSpace) / th.cast("double"))
      .otherwise(size(array_intersect(a, b)).cast("double"))
  }
}
