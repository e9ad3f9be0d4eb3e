package graft.ops

import org.apache.spark.unsafe.types.UTF8String

/** A dimension-sized directed graph held on the driver, for the graph
  * queries below a row guard: the driver-side twin of an edge list
  * DataFrame, whose per-query rounds would otherwise each cost a Spark
  * job.
  *
  * Nodes are ranked in Spark's string order (UTF8_BINARY: UTF-8 bytes,
  * unsigned), which differs from `String.compareTo` above U+FFFF; a node
  * IS its rank, so every name comparison a query makes — `least`,
  * `x.b < y.b`, an ORDER BY tiebreak — is an Int comparison that agrees
  * with the distributed plan's. Two CSR arrays hold the edges: the
  * directed out-adjacency (what PageRank and the closure walk) and the
  * symmetric adjacency (the undirected view), each node's slice sorted
  * ascending, so a common-neighbour step is a linear merge of two sorted
  * arrays (the sorted-set intersection HERO, SIGMOD 2024, builds on).
  */
final class LocalGraph private (
    /** node ids, ascending in Spark's string order */
    val names: Array[String],
    outOff: Array[Int], outAdj: Array[Int],
    symOff: Array[Int], symAdj: Array[Int]) {

  def size: Int = names.length

  /** Undirected degree. */
  def degree(v: Int): Int = symOff(v + 1) - symOff(v)

  def outDegree(v: Int): Int = outOff(v + 1) - outOff(v)

  /** The out-neighbours of `v`, ascending. */
  def successors(v: Int): Iterator[Int] = Iterator.range(outOff(v), outOff(v + 1)).map(outAdj)

  /** The undirected neighbours of `v`, ascending. */
  def neighbors(v: Int): Iterator[Int] = Iterator.range(symOff(v), symOff(v + 1)).map(symAdj)

  /** The undirected edges, each once as (u, v) with u < v. */
  def edges: Iterator[(Int, Int)] =
    Iterator.range(0, size).flatMap(u => neighbors(u).filter(_ > u).map(u -> _))

  def adjacent(u: Int, v: Int): Boolean =
    java.util.Arrays.binarySearch(symAdj, symOff(u), symOff(u + 1), v) >= 0

  /** The common neighbours of `a` and `b`, ascending, passed to `visit`;
    * returns their count. One merge of the two sorted slices.
    */
  def intersect(a: Int, b: Int)(visit: Int => Unit): Int = {
    var i = symOff(a); val ie = symOff(a + 1)
    var j = symOff(b); val je = symOff(b + 1)
    var n = 0
    while (i < ie && j < je) {
      val x = symAdj(i); val y = symAdj(j)
      if (x < y) i += 1
      else if (y < x) j += 1
      else { visit(x); n += 1; i += 1; j += 1 }
    }
    n
  }

  def intersectCount(a: Int, b: Int): Int = intersect(a, b)(_ => ())

  /** Per-node triangle counts: the common neighbours of an edge's ends
    * each close one triangle, and each triangle at a node is seen from
    * both of that node's edges in it.
    */
  def triangleCounts: Array[Long] = {
    val t = new Array[Long](size)
    edges.foreach { case (u, v) =>
      val c = intersectCount(u, v)
      t(u) += c; t(v) += c
    }
    t.map(_ / 2)
  }

  /** The non-adjacent pairs u < v that share at least one neighbour,
    * by u, each once.
    */
  def openPairs: Iterator[(Int, Int)] = {
    val seen = Array.fill(size)(-1)
    Iterator.range(0, size).flatMap { u =>
      neighbors(u).foreach(seen(_) = u)
      seen(u) = u
      // forced before the next u restamps `seen`
      neighbors(u).flatMap(neighbors).filter { v =>
        val fresh = v > u && seen(v) != u
        if (fresh) seen(v) = u
        fresh
      }.toArray.iterator.map(u -> _)
    }
  }

  /** Breadth-first rings from a source set: element k - 1 is the number
    * of nodes first reached at distance k, for k = 1..depth.
    */
  def rings(sources: Seq[Int], depth: Int): Array[Int] = {
    val seen = new Array[Boolean](size)
    sources.foreach(seen(_) = true)
    var frontier = sources.distinct.toArray
    Array.fill(depth) {
      val next = frontier.iterator.flatMap(neighbors).filter { v =>
        val fresh = !seen(v)
        seen(v) = true
        fresh
      }.toArray
      frontier = next
      next.length
    }
  }

  /** The transitive closure over the directed edges within `maxDepth`
    * steps: `(node, anc, depth)` for every node reached from `node`
    * along one or more out-edges, `depth` the fewest edges, ordered by
    * (node, anc). One BFS per node; the start is not marked seen, so a
    * node on a cycle reaches itself at its shortest cycle's length.
    */
  def closure(maxDepth: Int): Iterator[(Int, Int, Int)] = {
    val seen = Array.fill(size)(-1)
    Iterator.range(0, size).flatMap { v =>
      val reached = Array.newBuilder[(Int, Int)]
      var frontier = Array(v)
      var depth = 1
      while (depth <= maxDepth && frontier.nonEmpty) {
        val next = Array.newBuilder[Int]
        frontier.foreach { u =>
          var i = outOff(u)
          while (i < outOff(u + 1)) {
            val w = outAdj(i)
            if (seen(w) != v) { seen(w) = v; next += w; reached += ((w, depth)) }
            i += 1
          }
        }
        frontier = next.result()
        depth += 1
      }
      reached.result().sortInPlace().iterator.map { case (a, d) => (v, a, d) }
    }
  }

  /** One power-iteration step over the directed edges:
    * `base + damping · Σ_{u→v} rank(u) / outdeg(u)` per node `v`. Mass
    * on nodes without out-edges is dropped.
    */
  def pageRankStep(rank: Array[Double], base: Double, damping: Double): Array[Double] = {
    val x = new Array[Double](size)
    for (u <- 0 until size if outDegree(u) > 0) {
      val c = rank(u) / outDegree(u)
      var i = outOff(u)
      while (i < outOff(u + 1)) { x(outAdj(i)) += c; i += 1 }
    }
    x.map(base + damping * _)
  }
}

object LocalGraph {

  /** The graph of distinct directed edges (src, dst), src ≠ dst. */
  def apply(directed: Seq[(String, String)]): LocalGraph = {
    directed.foreach { case (s, d) => require(s != d, s"self-loop at $s") }
    val names = sparkOrder(directed.iterator.flatMap { case (s, d) => Iterator(s, d) })
    val rank = names.iterator.zipWithIndex.toMap
    val out = directed.map { case (s, d) => (rank(s), rank(d)) }.distinct
    val sym = out.flatMap { case (s, d) => Seq((s, d), (d, s)) }.distinct
    val (outOff, outAdj) = csr(names.length, out)
    val (symOff, symAdj) = csr(names.length, sym)
    new LocalGraph(names, outOff, outAdj, symOff, symAdj)
  }

  /** The distinct `terms`, ascending in Spark's string order. */
  private[ops] def sparkOrder(terms: Iterator[String]): Array[String] =
    terms.toArray.distinct.map(s => UTF8String.fromString(s) -> s)
      .sortWith((a, b) => a._1.binaryCompare(b._1) < 0).map(_._2)

  /** Offsets and targets of a CSR over `n` nodes, each slice ascending. */
  private def csr(n: Int, edges: Seq[(Int, Int)]): (Array[Int], Array[Int]) = {
    val off = new Array[Int](n + 1)
    edges.foreach { case (s, _) => off(s + 1) += 1 }
    for (v <- 0 until n) off(v + 1) += off(v)
    val adj = edges.sorted.map(_._2).toArray
    (off, adj)
  }
}
