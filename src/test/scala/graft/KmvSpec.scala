package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.functions.Kmv

/** KMV sketch aggregator: partition-order invariance (the sketch is a
  * true bounded-state aggregate), duplicate absorption, and estimate
  * sanity on sets far above k.
  */
class KmvSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("sketch equals the exact bottom-k of distinct hashes, any partitioning") {
    val k = 16
    val vals = (1 to 500).map(i => (i * 2654435761L) & ((1L << 60) - 1))
    val dups = vals ++ vals.take(100) // duplicates must be absorbed
    val want = vals.distinct.sorted.take(k)
    for (parts <- Seq(1, 3, 13)) {
      val got = dups.toDF("h").repartition(parts)
        .agg(Kmv.sketch(col("h"), k).as("sk"))
        .head().getSeq[Long](0)
      assert(got === want, s"parts=$parts")
    }
  }

  test("small sets stay exact; estimate tracks large sets within 30%") {
    val k = 64
    val small = (1 to 20).map(i => (i * 7919L) & ((1L << 60) - 1))
    val smallEst = small.toDF("h")
      .agg(round(Kmv.estimateDistinct(Kmv.sketch(col("h"), k), k), 4))
      .head().getDouble(0)
    assert(smallEst === 20.0)
    val n = 20000
    val bigDf = (1 to n).toDF("i")
      .select(graft.ops.Dedup.hash60(concat(lit("kmvspec:"),
        col("i").cast("string"))).as("h"))
    val est = bigDf.agg(Kmv.estimateDistinct(Kmv.sketch(col("h"), k), k))
      .head().getDouble(0)
    assert(math.abs(est - n) / n < 0.3, s"est=$est for n=$n")
  }

  test("non-full sketches: theta NULL, intersection exact, full unchanged") {
    val k = 16
    // two overlapping sets SMALLER than k: sketches are exhaustive
    val a = (1 to 10).map(i => (i * 7919L) & ((1L << 60) - 1))
    val b = (6 to 12).map(i => (i * 7919L) & ((1L << 60) - 1))
    val row = Seq((a, b)).toDF("ska", "skb")
      .select(sort_array(col("ska")).as("ska"), sort_array(col("skb")).as("skb"))
      .select(Kmv.theta(col("ska"), col("skb"), k).as("th"),
        Kmv.estimateIntersection(col("ska"), col("skb"), k).as("est"))
      .head()
    assert(row.isNullAt(0), "theta must be NULL on non-full sketches")
    assert(row.getDouble(1) === 5.0, "exact intersection expected")
    // full sketches keep the sampled-fraction estimate (guard is a no-op)
    val fa = (1 to 40).map(i => (i * 7919L) & ((1L << 60) - 1)).sorted.take(k)
    val fb = (20 to 60).map(i => (i * 7919L) & ((1L << 60) - 1)).sorted.take(k)
    val fr = Seq((fa, fb)).toDF("ska", "skb")
      .select(Kmv.theta(col("ska"), col("skb"), k).as("th"),
        Kmv.estimateIntersection(col("ska"), col("skb"), k).as("est"))
      .head()
    val thWant = math.min(fa(k - 1), fb(k - 1))
    assert(fr.getLong(0) == thWant)
    val commonWant = fa.toSet.intersect(fb.toSet).count(_ < thWant)
    assert(fr.getDouble(1) ===
      commonWant.toDouble * math.pow(2, 60) / thWant.toDouble)
  }

  test("one full sketch: theta is its k-th min and the estimate scales") {
    val k = 4
    // A overflowed its sketch (theta 40 samples 40/2^60 of the space);
    // B fits in k and is its whole set. Below theta both are exhaustive,
    // so the two common hashes there scale back by 2^60/40.
    val full = Seq(10L, 20L, 30L, 40L)
    val partial = Seq(20L, 30L, 50L)
    for ((a, b) <- Seq((full, partial), (partial, full))) {
      val row = Seq((a, b)).toDF("ska", "skb")
        .select(Kmv.theta(col("ska"), col("skb"), k).as("th"),
          Kmv.estimateIntersection(col("ska"), col("skb"), k).as("est"))
        .head()
      assert(row.getLong(0) == 40L)
      assert(row.getDouble(1) === 2.0 * math.pow(2, 60) / 40.0)
    }
  }
}
