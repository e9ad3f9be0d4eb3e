package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Basic-graph-pattern (BGP) compiler: a SPARQL-style conjunctive
  * pattern over a (subj, pred, obj) triple table, compiled to a
  * DataFrame join plan (the query surface the reference serves via its
  * SPARQL endpoint — e.g. the CS query patterns in
  * case-studies/CS3/CS3_query.rq-style star/chain shapes).
  *
  * Compilation is Spark-first, not an interpreter:
  *
  *  - each triple pattern becomes ONE pred/subj/obj-CONSTANT-filtered
  *    projection of the triple table, so every constant is a pushdown
  *    predicate that reaches the parquet scan (PushedFilters), and only
  *    the variable positions survive as columns — column pruning does
  *    the rest;
  *  - shared variables between patterns become equi-join keys
  *    (using-column joins, so Catalyst sees plain hash-joinable keys);
  *  - join ORDER is greedy-selective: seed with the most-constant
  *    pattern, then repeatedly join the pattern sharing the most
  *    already-bound variables (ties: more constants, then input order).
  *    A connected BGP therefore never plans a cartesian product; a
  *    genuinely disconnected one fails fast instead of exploding;
  *  - a variable repeated WITHIN one pattern compiles to an intra-row
  *    equality filter before projection (?x ?p ?x → subj = obj).
  *
  * At scale: same-subject star joins run exchange-free over the
  * subj-bucketed triple tables ([[Bucketing]]); dimension-sized pattern
  * scans (e.g. `?t rdf:type emi:InteractionType`) broadcast via AQE's
  * runtime size estimate, so the compiler does not hand-place hints.
  */
object Bgp {

  sealed trait Term
  final case class V(name: String) extends Term
  final case class C(value: String) extends Term
  /** SPARQL property path `iri+` — one-or-more hops of a constant
    * predicate. Compiles to [[Closure.transitive]] over that
    * predicate's edge set (log-round path doubling), used as a virtual
    * triple source in the join plan.
    */
  final case class Plus(value: String) extends Term

  final case class Pattern(s: Term, p: Term, o: Term) {
    require(!s.isInstanceOf[Plus] && !o.isInstanceOf[Plus],
      "property path '+' is only valid in predicate position")
    def terms: Seq[(String, Term)] =
      Seq("subj" -> s, "pred" -> p, "obj" -> o)
    def vars: Set[String] = terms.collect { case (_, V(n)) => n }.toSet
    def nConsts: Int = terms.count(t =>
      t._2.isInstanceOf[C] || t._2.isInstanceOf[Plus])
  }

  /** FILTER expression (SPARQL's group-level filter, minimal grammar):
    * `FILTER (?a OP rhs)` with OP ∈ {=, !=, <, <=, >, >=} and rhs a
    * variable, quoted string, or number (numeric rhs compares after a
    * double cast on both sides), or `FILTER regex(?v, "pattern")`.
    */
  sealed trait FilterExpr { def vars: Set[String] }
  final case class Cmp(lhs: String, op: String, rhs: Term)
      extends FilterExpr {
    def vars: Set[String] =
      Set(lhs) ++ (rhs match { case V(n) => Set(n); case _ => Set.empty })
  }
  final case class NumCmp(lhs: String, op: String, value: Double)
      extends FilterExpr { def vars: Set[String] = Set(lhs) }
  final case class Regex(v: String, pattern: String) extends FilterExpr {
    def vars: Set[String] = Set(v)
  }

  /** Split on top-level `.` only — dots inside quotes, parentheses, or
    * `<iri>` angles do not separate clauses (so absolute IRIs with
    * dots and FILTER expressions parse correctly).
    */
  private def splitTopLevel(s: String): Seq[String] = {
    val out = Seq.newBuilder[String]
    val cur = new StringBuilder
    var depth = 0; var inQ = false; var inAngle = false
    // a top-level '<' inside a FILTER segment is a comparison operator,
    // not an IRI opener (ADVICE r05: an unparenthesized `FILTER ?a < 5`
    // set inAngle and swallowed the following '.'-separators, silently
    // mis-merging clauses)
    def inFilterSegment: Boolean = isFilter(cur.toString)
    s.foreach {
      case '"' => inQ = !inQ; cur += '"'
      case '<' if !inQ && depth == 0 && !inFilterSegment =>
        inAngle = true; cur += '<'
      case '>' if !inQ && inAngle => inAngle = false; cur += '>'
      case '(' if !inQ => depth += 1; cur += '('
      case ')' if !inQ => depth -= 1; cur += ')'
      case '.' if !inQ && depth == 0 && !inAngle =>
        out += cur.toString; cur.clear()
      case c => cur += c
    }
    out += cur.toString
    out.result().map(_.trim).filter(_.nonEmpty)
  }

  /** A FILTER clause: the keyword as a whole word. A `filter:` prefixed
    * name or a `filters:` prefix is a term, not the keyword.
    */
  private val filterKw = """(?i)^FILTER\b(?!:)""".r
  private def isFilter(clause: String): Boolean =
    filterKw.findPrefixOf(clause.trim).isDefined

  private val regexRe =
    """(?is)regex\(\s*\?(\w+)\s*,\s*"([^"]*)"\s*\)""".r
  private val numRe = """-?\d+(\.\d+)?""".r

  private def parseFilter(body: String,
      prefixes: Map[String, String]): FilterExpr = {
    val inner0 = body.trim
    regexRe.findFirstMatchIn(inner0) match {
      case Some(m) => Regex(m.group(1), m.group(2))
      case None =>
        val inner = inner0.stripPrefix("(").stripSuffix(")").trim
        inner.split("\\s+", 3) match {
          case Array(l, op, r)
              if l.startsWith("?") &&
                Set("=", "!=", "<", "<=", ">", ">=")(op) =>
            if (numRe.pattern.matcher(r).matches())
              NumCmp(l.drop(1), op, r.toDouble)
            else {
              val rr = r.trim
              val t: Term =
                if (rr.startsWith("?") && rr.length > 1) V(rr.drop(1))
                else if (rr.startsWith("\"") && rr.endsWith("\"") &&
                  rr.length >= 2) C(rr.substring(1, rr.length - 1))
                else if (rr.startsWith("<") && rr.endsWith(">"))
                  C(rr.substring(1, rr.length - 1))
                else if (rr.contains(":")) {
                  val Array(pre, local) = rr.split(":", 2)
                  C(prefixes.getOrElse(pre, throw new IllegalArgumentException(
                    s"unknown prefix '$pre:' in FILTER rhs '$rr'")) + local)
                } else throw new IllegalArgumentException(
                  s"unparseable FILTER rhs '$rr'")
              Cmp(l.drop(1), op, t)
            }
          case _ => throw new IllegalArgumentException(
            s"unparseable FILTER '$body' (expect ?var OP rhs or regex(?v, \"pat\"))")
        }
    }
  }

  private def filterColumn(f: FilterExpr, bound: Set[String]): Column = {
    val missing = f.vars.filterNot(bound)
    require(missing.isEmpty,
      s"FILTER references unbound variables: ${missing.mkString(",")}")
    def cmp(l: Column, op: String, r: Column): Column = op match {
      case "=" => l === r
      case "!=" => l =!= r
      case "<" => l < r
      case "<=" => l <= r
      case ">" => l > r
      case ">=" => l >= r
    }
    f match {
      case Cmp(l, op, V(n)) => cmp(col(l), op, col(n))
      case Cmp(l, op, C(v)) => cmp(col(l), op, lit(v))
      case Cmp(l, op, other) => throw new IllegalArgumentException(
        s"unsupported FILTER rhs $other for ?$l $op")
      case NumCmp(l, op, v) => cmp(col(l).cast("double"), op, lit(v))
      case Regex(v, p) => col(v).rlike(p)
    }
  }

  /** Parse a compact BGP string: `.`-separated triples of
    * whitespace-separated terms. `?x` = variable; `<iri>` = absolute
    * IRI; `"lit"` = literal; `prefix:local` expands via `prefixes`;
    * bare `a` = rdf:type (SPARQL shorthand).
    */
  def parse(bgp: String,
      prefixes: Map[String, String] = defaultPrefixes): Seq[Pattern] = {
    def term(t: String): Term = t match {
      case v if v.startsWith("?") && v.length > 1 => V(v.drop(1))
      case "a" => C(graft.kg.Model.RDF_TYPE)
      case p if p.endsWith("+") && p.length > 1 && !p.startsWith("\"") =>
        term(p.dropRight(1)) match {
          case C(iri) => Plus(iri)
          case _ => throw new IllegalArgumentException(
            s"'+' path needs a constant predicate, got '$p'")
        }
      case i if i.startsWith("<") && i.endsWith(">") =>
        C(i.substring(1, i.length - 1))
      case l if l.startsWith("\"") && l.endsWith("\"") && l.length >= 2 =>
        C(l.substring(1, l.length - 1))
      case p if p.contains(":") =>
        val Array(pre, local) = p.split(":", 2)
        prefixes.get(pre) match {
          case Some(ns) => C(ns + local)
          case None => throw new IllegalArgumentException(
            s"unknown prefix '$pre:' in term '$p'")
        }
      case other => throw new IllegalArgumentException(
        s"unparseable term '$other' (expect ?var, <iri>, \"lit\", pfx:local, or a)")
    }
    splitTopLevel(bgp).map { t =>
      require(!isFilter(t),
        s"FILTER clause '$t' — use query()/parseQuery(), which handle filters")
      val toks = t.split("\\s+").toSeq
      require(toks.length == 3,
        s"triple pattern must have exactly 3 terms, got ${toks.length} in '$t'")
      Pattern(term(toks(0)), term(toks(1)), term(toks(2)))
    }
  }

  /** Patterns + FILTER clauses of one group body. */
  private def parseBody(bgp: String, prefixes: Map[String, String]):
      (Seq[Pattern], Seq[FilterExpr]) = {
    val (fSegs, pSegs) =
      splitTopLevel(bgp).partition(isFilter)
    (parse(pSegs.mkString(" . "), prefixes),
      fSegs.map(s => parseFilter(s.trim.drop("FILTER".length).trim, prefixes)))
  }

  val defaultPrefixes: Map[String, String] = {
    val m = graft.kg.Model
    Map("emi" -> m.EMI, "emibox" -> m.EMIBOX, "sosa" -> m.SOSA,
      "rdf" -> m.RDF, "rdfs" -> m.RDFS, "xsd" -> m.XSD, "wd" -> m.WD,
      "prov" -> m.PROV, "qudt" -> m.QUDT, "dcterms" -> m.DCTERMS,
      "wgs84" -> m.WGS84)
  }

  /** One pattern → constant-filtered, variable-projected scan. A
    * `Plus` predicate swaps the base triple scan for the transitive
    * closure of that predicate's edge set (computed eagerly via
    * [[Closure.transitive]]; `plusRounds` doubling rounds cover paths
    * up to 2^plusRounds hops).
    */
  private def scan(triples: DataFrame, pat: Pattern,
      plusRounds: Int): DataFrame = {
    val (frame, terms) = pat.p match {
      case Plus(iri) =>
        val edges = triples.filter(col("pred") === iri)
          .select(col("subj").as("child"), col("obj").as("parent"))
          .distinct()
        (Closure.transitive(edges, plusRounds)
          .select(col("node").as("subj"), col("anc").as("obj")),
          Seq("subj" -> pat.s, "obj" -> pat.o))
      case _ => (triples, pat.terms)
    }
    val constFiltered = terms.foldLeft(frame) {
      case (df, (pos, C(v))) => df.filter(col(pos) === v)
      case (df, _) => df
    }
    // repeated variable within the pattern → intra-row equality
    val varPositions: Seq[(String, String)] =
      terms.collect { case (pos, V(n)) => (pos, n) }
    val eqFiltered = varPositions.groupBy(_._2).values
      .filter(_.length > 1)
      .foldLeft(constFiltered) { (df, dup) =>
        dup.map(_._1).sliding(2).foldLeft(df) { case (d, Seq(a, b)) =>
          d.filter(col(a) === col(b))
        }
      }
    val proj: Seq[Column] = varPositions
      .groupBy(_._2).toSeq.sortBy(_._1)
      .map { case (name, poss) => col(poss.head._1).as(name) }
    eqFiltered.select(proj: _*)
  }

  /** Greedy-selective join of a connected pattern group → (plan, bound
    * variable set). Seed = most constants; then always the pattern
    * sharing the most already-bound variables.
    */
  private def joinPatterns(triples: DataFrame, patterns: Seq[Pattern],
      plusRounds: Int): (DataFrame, Set[String]) = {
    require(patterns.nonEmpty, "empty pattern group")
    val seedIdx = patterns.zipWithIndex.maxBy { case (p, i) =>
      (p.nConsts, -i)
    }._2
    var remaining = patterns.zipWithIndex.filterNot(_._2 == seedIdx)
    var plan = scan(triples, patterns(seedIdx), plusRounds)
    var bound = patterns(seedIdx).vars
    while (remaining.nonEmpty) {
      val (next, idx) = remaining.maxBy { case (p, i) =>
        ((p.vars & bound).size, p.nConsts, -i)
      }
      val shared = (next.vars & bound).toSeq.sorted
      require(shared.nonEmpty,
        "disconnected BGP: pattern shares no variable with the bound set " +
          s"(bound = ${bound.toSeq.sorted.mkString(",")}); " +
          "cartesian products are refused")
      plan = plan.join(scan(triples, next, plusRounds), shared)
      bound ++= next.vars
      remaining = remaining.filterNot(_._2 == idx)
    }
    (plan, bound)
  }

  /** Compile a BGP to a DataFrame of variable bindings (SPARQL bag
    * semantics — no implicit distinct), projected to `select`. Each
    * entry of `optionals` is an OPTIONAL group: compiled independently
    * and LEFT-joined on the variables it shares with the required part
    * (its private variables surface as NULL on non-matches) — the
    * SPARQL OPTIONAL arm the reference's metric queries lean on,
    * restricted to groups that share ≥ 1 variable with the required
    * patterns (well-designed queries; no cross-group correlation).
    */
  def compile(triples: DataFrame, patterns: Seq[Pattern],
      select: Seq[String], plusRounds: Int = 4,
      optionals: Seq[Seq[Pattern]] = Nil,
      filters: Seq[FilterExpr] = Nil): DataFrame = {
    val boundable = (patterns ++ optionals.flatten).flatMap(_.vars).toSet
    val missing = select.filterNot(boundable)
    require(missing.isEmpty,
      s"select variables not bound by any pattern: ${missing.mkString(",")}")
    var (plan, bound) = joinPatterns(triples, patterns, plusRounds)
    optionals.foreach { group =>
      val (g, gvars) = joinPatterns(triples, group, plusRounds)
      val shared = (gvars & bound).toSeq.sorted
      require(shared.nonEmpty,
        "OPTIONAL group shares no variable with the required patterns")
      plan = plan.join(g, shared, "left_outer")
      bound ++= gvars
    }
    // group-level filters: Catalyst pushes single-variable predicates
    // down into the pattern scans on its own; multi-variable ones stay
    // at the first join where both sides are bound
    filters.foldLeft(plan)((p, f) => p.filter(filterColumn(f, bound)))
      .select(select.map(col): _*)
  }

  /** Split `OPTIONAL { ... }` blocks (non-nested) and FILTER clauses
    * out of a pattern string → (required patterns, optional groups,
    * filters). Filters are group-level: they apply after every join.
    */
  def parseQuery(bgp: String,
      prefixes: Map[String, String] = defaultPrefixes):
      (Seq[Pattern], Seq[Seq[Pattern]], Seq[FilterExpr]) = {
    val optRe = "(?is)OPTIONAL\\s*\\{([^}]*)\\}".r
    val optionals =
      optRe.findAllMatchIn(bgp).map(m => parse(m.group(1), prefixes)).toSeq
    val (required, filters) =
      parseBody(optRe.replaceAllIn(bgp, " "), prefixes)
    (required, optionals, filters)
  }

  /** Parse + compile in one step (handles OPTIONAL blocks + FILTERs). */
  def query(triples: DataFrame, bgp: String, select: Seq[String],
      prefixes: Map[String, String] = defaultPrefixes,
      plusRounds: Int = 4): DataFrame = {
    val (required, optionals, filters) = parseQuery(bgp, prefixes)
    compile(triples, required, select, plusRounds, optionals, filters)
  }
}
