package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.ops.Similarity
import graft.functions.VectorExprs

/** The native vector kernels (DotD / SqDistD / SignCellE) must be
  * BIT-identical to the higher-order-function formulations they
  * replaced — same element-order accumulation, widening, null
  * semantics, round-6 and NaN ordering. Checked value-by-value over a
  * deterministic fixture including negatives, tiny magnitudes, a null
  * element and a length mismatch.
  */
class VectorExprsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def legacyDot(a: org.apache.spark.sql.Column,
      b: org.apache.spark.sql.Column) =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)

  private def legacySqDist(a: org.apache.spark.sql.Column,
      c: Array[Double]) =
    aggregate(zip_with(a, lit(c), (x, y) => {
      val t = x.cast("double") - y
      t * t
    }), lit(0.0), (acc, v) => acc + v)

  /** One blocking plane's sign bit: component i weighs +1 iff
    * (i·prime) mod 64 < 32, the projection rounded to 6 dp before the
    * sign test.
    */
  private def signPlaneBit(vec: org.apache.spark.sql.Column, prime: Int) = {
    val proj = aggregate(
      zip_with(vec, sequence(lit(0), size(vec) - 1),
        (x, i) => x.cast("double") *
          when(pmod(i * prime, lit(64)) < 32, lit(1.0)).otherwise(lit(-1.0))),
      lit(0.0), (a, v) => a + v)
    when(round(proj, 6) >= 0, lit(1L)).otherwise(lit(0L))
  }

  /** Similarity.signCell's pre-kernel spelling: one plane bit per prime. */
  private def signCellLegacy(vec: org.apache.spark.sql.Column, primes: Seq[Int]) =
    primes.zipWithIndex
      .map { case (pr, b) => signPlaneBit(vec, pr) * lit(1L << b) }
      .reduce(_ + _)

  private def vecs = {
    val rows = (0 until 64).map { i =>
      (i.toLong, Array.tabulate(16)(j =>
        (((i * 31 + j * 17) % 23) - 11).toFloat / (j + 1).toFloat))
    }
    rows.toDF("id", "v")
  }

  test("DotD equals the aggregate∘zip_with dot bit-for-bit") {
    val q = Array.tabulate(16)(j => ((j % 7) - 3).toFloat / 2.0f)
    val df = vecs.select(col("id"),
      VectorExprs.dotD(col("v"), lit(q)).as("native"),
      legacyDot(col("v"), lit(q)).as("legacy"))
    val bad = df.filter(not(col("native") <=> col("legacy")))
    assert(bad.count() === 0)
  }

  test("DotD null semantics: length mismatch and null element") {
    val df = Seq(
      (1L, Seq(Some(1.0f), Some(2.0f)), Seq(Some(3.0f))),
      (2L, Seq(Some(1.0f), None), Seq(Some(3.0f), Some(4.0f))),
      (3L, Seq(Some(1.0f), Some(2.0f)), Seq(Some(3.0f), Some(4.0f))))
      .toDF("id", "a", "b")
    val out = df.select(col("id"),
      VectorExprs.dotD(col("a"), col("b")).as("native"),
      legacyDot(col("a"), col("b")).as("legacy"))
    val bad = out.filter(not(col("native") <=> col("legacy")))
    assert(bad.count() === 0)
    assert(out.filter(col("id") === 3 && col("native") === 11.0).count() === 1)
    assert(out.filter(col("id") =!= 3 && col("native").isNull).count() === 2)
  }

  test("SqDistD equals the aggregate∘zip_with squared distance") {
    val c = Array.tabulate(16)(j => (j - 8).toDouble / 3.0)
    val df = vecs.select(
      VectorExprs.sqDistD(col("v"), lit(c)).as("native"),
      legacySqDist(col("v"), c).as("legacy"))
    assert(df.filter(not(col("native") <=> col("legacy"))).count() === 0)
  }

  test("SignCellE equals the legacy per-plane signCell formulation") {
    val primes = Seq(3, 5, 7, 11)
    val df = vecs.select(
      Similarity.signCell(col("v"), primes).as("native"),
      signCellLegacy(col("v"), primes).as("legacy"))
    assert(df.filter(not(col("native") <=> col("legacy"))).count() === 0)
  }
}
