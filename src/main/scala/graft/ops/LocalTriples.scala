package graft.ops

import org.apache.spark.sql.catalyst.expressions.{Cast, Literal}
import org.apache.spark.sql.catalyst.util.SQLOrderingUtil
import org.apache.spark.sql.types.{DoubleType, StringType}
import org.apache.spark.unsafe.types.UTF8String
import Bgp._
import LocalTriples.Bindings

/** A dimension-sized triple table held on the driver, for the BGP and
  * SPARQL queries below a row guard: the driver-side twin of a
  * (subj, pred, obj) DataFrame, whose join plans would otherwise each pay
  * Spark's planning, stage submission and codegen for a few thousand
  * rows.
  *
  * Terms are interned once and ranked in Spark's string order, as
  * [[LocalGraph]] ranks nodes: a term IS its rank, so every string
  * comparison a query makes — a FILTER, an ORDER BY — is an Int
  * comparison that agrees with the distributed plan's. -1 is NULL (an
  * OPTIONAL group's unmatched variables); it sorts first, where Spark's
  * ascending order puts nulls. Each predicate holds its (subj, obj)
  * pairs, duplicates kept: a triple table is a bag.
  */
final class LocalTriples private (
    /** terms, ascending in Spark's string order */
    val names: Array[String],
    rank: Map[String, Int],
    /** per predicate rank: its subjects and objects */
    pairs: Map[Int, (Array[Int], Array[Int])]) {

  /** The term of a rank; null for -1. */
  def name(r: Int): String = if (r < 0) null else names(r)

  /** The rows of `select`'s bindings, as term ranks: [[Bgp.compile]]'s
    * result on the driver. It runs the same [[Bgp.plan]], each join as a
    * hash equi-join of Int rows; a `Plus` predicate closes over
    * [[LocalGraph.closure]]`(1 << plusRounds)`, the reach of
    * [[Closure.transitive]]`(edges, plusRounds)`.
    */
  def evaluate(patterns: Seq[Pattern], select: Seq[String], plusRounds: Int = 4,
      optionals: Seq[Seq[Pattern]] = Nil,
      filters: Seq[FilterExpr] = Nil): Seq[Array[Int]] = {
    val p = plan(patterns, select, optionals, filters)
    def joined(steps: Seq[Step]): Bindings =
      steps.tail.foldLeft(scan(steps.head._1, plusRounds)) {
        case (b, (pat, keys)) => join(b, scan(pat, plusRounds), keys, outer = false)
      }
    val all = p.optionals.foldLeft(joined(p.required)) {
      case (b, (steps, keys)) => join(b, joined(steps), keys, outer = true)
    }
    val keep = p.filters.map(test(_, all.vars))
    val cols = select.map(all.vars.indexOf).toArray
    all.rows.toSeq.filter(r => keep.forall(_(r))).map(r => cols.map(r))
  }

  /** Parse + evaluate in one step, as [[Bgp.query]]. */
  def query(bgp: String, select: Seq[String],
      prefixes: Map[String, String] = defaultPrefixes,
      plusRounds: Int = 4): Seq[Array[Int]] = {
    val (required, optionals, filters) = parseQuery(bgp, prefixes)
    evaluate(required, select, plusRounds, optionals, filters)
  }

  /** One pattern's bindings, as [[Bgp]]'s scan: constants select, a
    * repeated variable is an intra-row equality, each variable one
    * column. A term the table lacks matches nothing.
    */
  private def scan(pat: Pattern, plusRounds: Int): Bindings = {
    def triplesOf(pred: Int): Iterator[Array[Int]] = {
      val (s, o) = pairs(pred)
      Iterator.range(0, s.length).map(i => Array(s(i), pred, o(i)))
    }
    val source = pat.p match {
      case Plus(iri) => closure(iri, plusRounds).iterator.map { case (s, o) => Array(s, -1, o) }
      case C(iri) => rank.get(iri).iterator.flatMap(triplesOf)
      case _ => pairs.keysIterator.flatMap(triplesOf)
    }
    val terms = Seq(0 -> pat.s, 1 -> pat.p, 2 -> pat.o)
    val consts = terms.collect { case (i, C(v)) => (i, rank.getOrElse(v, -2)) }
    val byVar = terms.collect { case (i, V(n)) => (n, i) }.groupMap(_._1)(_._2).toSeq.sortBy(_._1)
    val rows = source.filter { t =>
      consts.forall { case (i, c) => t(i) == c } &&
        byVar.forall { case (_, at) => at.forall(t(_) == t(at.head)) }
    }.map(t => byVar.map { case (_, at) => t(at.head) }.toArray).toArray
    Bindings(byVar.map(_._1).toIndexedSeq, rows)
  }

  /** The distinct (node, ancestor) pairs of `iri`'s edges within
    * `1 << rounds` steps. A self-loop reaches its node in one step;
    * [[LocalGraph]] holds the other edges.
    */
  private def closure(iri: String, rounds: Int): Seq[(Int, Int)] = {
    val edges = rank.get(iri).toSeq.flatMap { pred =>
      val (s, o) = pairs(pred)
      s.indices.map(i => (s(i), o(i)))
    }.distinct
    val (loops, proper) = edges.partition { case (s, o) => s == o }
    val g = LocalGraph(proper.map { case (s, o) => (names(s), names(o)) })
    (g.closure(1 << rounds).map { case (v, a, _) => (rank(g.names(v)), rank(g.names(a))) }
      .toSeq ++ loops).distinct
  }

  /** Bag-semantics equi-join on `keys`; a null key matches nothing, and
    * an outer join keeps an unmatched left row with nulls on the right.
    */
  private def join(l: Bindings, r: Bindings, keys: Seq[String], outer: Boolean): Bindings = {
    val lk = keys.map(l.vars.indexOf).toArray
    val rk = keys.map(r.vars.indexOf).toArray
    val rest = r.vars.indices.filterNot(rk.contains).toArray
    val byKey = r.rows.filter(row => rk.forall(row(_) >= 0)).groupBy(row => rk.map(row).toSeq)
    val none = Array.empty[Array[Int]]
    val out = Array.newBuilder[Array[Int]]
    l.rows.foreach { row =>
      val hits = if (lk.exists(row(_) < 0)) none else byKey.getOrElse(lk.map(row).toSeq, none)
      hits.foreach(m => out += row ++ rest.map(m))
      if (outer && hits.isEmpty) out += row ++ Array.fill(rest.length)(-1)
    }
    Bindings(l.vars ++ rest.map(r.vars), out.result())
  }

  /** A filter over rows of `vars`, with Spark's semantics: a null
    * operand drops the row; strings compare in Spark's order (by rank,
    * or by UTF-8 bytes against a constant); a numeric comparison casts
    * the term as Spark's `cast("double")` does and compares as SQL
    * orders doubles (NaN largest, -0.0 = 0.0); `regex` is `rlike`, a
    * `find` anywhere in the term.
    */
  private def test(f: FilterExpr, vars: IndexedSeq[String]): Array[Int] => Boolean = {
    def holds(op: String, c: Int): Boolean = op match {
      case "=" => c == 0
      case "!=" => c != 0
      case "<" => c < 0
      case "<=" => c <= 0
      case ">" => c > 0
      case ">=" => c >= 0
    }
    def at(v: String): Int = vars.indexOf(v)
    f match {
      case Cmp(l, op, V(n)) =>
        val (i, j) = (at(l), at(n))
        row => row(i) >= 0 && row(j) >= 0 && holds(op, Integer.compare(row(i), row(j)))
      case Cmp(l, op, C(v)) =>
        val (i, u) = (at(l), UTF8String.fromString(v))
        row => row(i) >= 0 && holds(op, UTF8String.fromString(names(row(i))).binaryCompare(u))
      case Cmp(l, op, other) => throw unsupportedRhs(l, op, other)
      case NumCmp(l, op, v) =>
        val i = at(l)
        val asDouble = scala.collection.mutable.HashMap.empty[Int, Option[Double]]
        row => row(i) >= 0 && asDouble.getOrElseUpdate(row(i),
          Option(Cast(Literal(UTF8String.fromString(names(row(i))), StringType), DoubleType).eval())
            .map(_.asInstanceOf[Double]))
          .exists(d => holds(op, SQLOrderingUtil.compareDoubles(d, v)))
      case Regex(v, p) =>
        val (i, re) = (at(v), java.util.regex.Pattern.compile(p))
        row => row(i) >= 0 && re.matcher(names(row(i))).find()
    }
  }
}

object LocalTriples {

  /** Variable names and their rows, one rank per variable. */
  private final case class Bindings(vars: IndexedSeq[String], rows: Array[Array[Int]])

  /** The index of `triples` (subj, pred, obj), none of them null. */
  def apply(triples: Seq[(String, String, String)]): LocalTriples = {
    triples.foreach { case t @ (s, p, o) =>
      require(s != null && p != null && o != null, s"null term in $t")
    }
    val names = LocalGraph.sparkOrder(triples.iterator.flatMap { case (s, p, o) => Iterator(s, p, o) })
    val rank = names.iterator.zipWithIndex.toMap
    val pairs = triples.groupMap(t => rank(t._2))(t => (rank(t._1), rank(t._3))).map {
      case (pred, so) => pred -> so.toArray.unzip
    }
    new LocalTriples(names, rank, pairs)
  }
}
