package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.ops.HyperBall

/** HyperBall semantics: the exact rider is truly exact on a known
  * graph, the HLL estimate tracks it, and both saturate at full
  * reachability (driver-gate `kg_cs_hyperball` pins engine/DuckDB
  * parity of the estimates themselves).
  */
class HyperBallSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  // a 10-node path graph: N(r) has a closed form
  private def path = (0 until 9)
    .map(i => (f"n$i%02d", f"n${i + 1}%02d")).toDF("u", "v")

  test("exactNeighborhood matches the path-graph closed form") {
    val got = HyperBall.exactNeighborhood(path, 3).collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    // path of n=10: N(r) = sum over v of |ball(v,r)| ; balls clip at ends
    def n(r: Int) = (0 until 10).map(i =>
      (math.min(9, i + r) - math.max(0, i - r) + 1).toLong).sum
    assert(got == Map(0 -> n(0), 1 -> n(1), 2 -> n(2), 3 -> n(3)))
  }

  test("estimate tracks exact within HLL error and saturates when connected") {
    // K12 complete-ish: a denser random graph, diameter small
    val es = (for (i <- 0 until 12; j <- i + 1 until 12 if (i + j) % 3 != 0)
      yield (f"v$i%02d", f"v$j%02d")).toDF("u", "v")
    val est = HyperBall.neighborhoodFunction(es, 2).collect()
      .map(r => r.getInt(0) -> r.getDouble(1)).toMap
    val exact = HyperBall.exactNeighborhood(es, 2).collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    (0 to 2).foreach { r =>
      val rel = math.abs(est(r) - exact(r)) / exact(r)
      assert(rel < 0.35, s"r=$r est ${est(r)} vs exact ${exact(r)}")
    }
    // connected at r=2: every pair reached, and the estimate agrees
    // with itself at saturation (monotone, no decrease)
    assert(exact(2) == 144L)
    assert(est(1) <= est(2) + 1e-9 && est(0) <= est(1) + 1e-9)
  }

  test("harmonicCentrality ranks by score then node, within HLL error of the exact scores") {
    // K5 on k0..k4 with the path k0 - p0 - p1 - p2 hanging off k0.
    // k1..k4 have equal balls at every radius >= 1 and singleton balls
    // at 0 (whose linear-counting estimate depends only on the occupied
    // register count), so their scores tie exactly
    val k5 = for (i <- 0 until 5; j <- i + 1 until 5) yield (s"k$i", s"k$j")
    val edges = k5 ++ Seq("k0" -> "p0", "p0" -> "p1", "p1" -> "p2")
    val es = edges.toDF("u", "v")
    def top(k: Int) = HyperBall.harmonicCentrality(es, 3, k).collect()
      .map(r => (r.getString(0), r.getDouble(1))).toSeq
    val all = top(100)
    assert(all.map(_._1).sorted == (0 until 5).map(i => s"k$i") ++ Seq("p0", "p1", "p2"))
    assert(all == all.sortBy { case (n, h) => (-h, n) }, all)
    assert(top(6) == all.take(6))
    val tied = all.filter(_._1.matches("k[1-4]"))
    assert(tied.map(_._2).distinct.size == 1, tied)
    assert(all.map(_._1).containsSlice(Seq("k1", "k2", "k3", "k4")), all)
    // the exact harmonic centrality truncated at distance 3, by BFS
    val adj = edges.flatMap { case (u, v) => Seq(u -> v, v -> u) }
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    def exact(v: String): Double = {
      var seen = Set(v)
      var frontier = Set(v)
      (1 to 3).map { r =>
        frontier = frontier.flatMap(adj) -- seen
        seen ++= frontier
        frontier.size / r.toDouble
      }.sum
    }
    assert(math.abs(exact("k1") - (4 + 1.0 / 2 + 1.0 / 3)) < 1e-12)
    all.foreach { case (n, h) =>
      val rel = math.abs(h - exact(n)) / exact(n)
      assert(rel < 0.35, s"$n: est $h vs exact ${exact(n)}")
    }
  }
}
