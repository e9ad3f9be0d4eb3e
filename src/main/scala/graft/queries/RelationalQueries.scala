package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.normalize.Norm
import graft.ops.Salting
import graft.sources.Inputs

/** Relational operator surface (SURVEY.md §2.2-§2.7): every entry is a
  * (Spark plan, equivalent DuckDB SQL) pair. Query names carry the
  * operator ids from the SURVEY §2 inventory so coverage is line-by-line
  * checkable.
  *
  * Numeric parity rules (driver hashes values): money columns are cast to
  * DECIMAL(18,2) before aggregation (exact, order-independent) and the
  * final aggregate is cast back to DOUBLE (exact decimal→IEEE conversion
  * on both engines). Every query carries a deterministic total ORDER BY.
  */
object RelationalQueries {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- scans / projections / filters ------------------------------
    "s1_scan_prune" -> ((s: SparkSession, dir: String) => {
      Inputs.parquet(s, dir, "lineitem")
        .filter(col("l_quantity") >= 45 && col("l_returnflag") === "R")
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
        .orderBy(col("l_orderkey"), col("l_linenumber"))
    }),

    "p2_null_widened" -> ((s: SparkSession, dir: String) => {
      val o = Inputs.parquet(s, dir, "orders")
        .withColumn("marker",
          when(col("o_orderkey") % 5 === 0, lit("\\N"))
            .when(col("o_orderkey") % 5 === 1, lit("no:match"))
            .when(col("o_orderkey") % 5 === 2, lit(""))
            .when(col("o_orderkey") % 5 === 3, lit("ĜLOBI:x"))
            .otherwise(col("o_orderpriority")))
      o.filter(Norm.isPresent(col("marker")))
        .select(col("o_orderkey"), col("marker"))
        .orderBy(col("o_orderkey"))
    }),

    "p4_status_mask" -> ((s: SparkSession, dir: String) => {
      // selective recompute: error events zeroed, others kept (matcher.py:464-468 archetype)
      Inputs.parquet(s, dir, "events")
        .withColumn("v2",
          when(col("event_type") === "error", lit(0.0)).otherwise(col("value")))
        .groupBy(col("event_type"))
        .agg(sum(col("v2").cast("decimal(18,2)")).cast("double").as("sum_v"),
          count(lit(1)).as("n"))
        .orderBy(col("event_type"))
    }),

    // ---- joins -------------------------------------------------------
    "j1_broadcast_join" -> ((s: SparkSession, dir: String) => {
      val c = Inputs.parquet(s, dir, "customer")
      val n = Inputs.parquet(s, dir, "nation")
      val r = Inputs.parquet(s, dir, "region")
      c.join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
        .groupBy(col("r_name"), col("n_name"))
        .agg(count(lit(1)).as("n_cust"))
        .orderBy(col("r_name"), col("n_name"))
    }),

    "j2_left_outer" -> ((s: SparkSession, dir: String) => {
      val c = Inputs.parquet(s, dir, "customer")
      val o = Inputs.parquet(s, dir, "orders")
      c.join(o, c("c_custkey") === o("o_custkey"), "left")
        .groupBy(col("c_custkey"))
        .agg(count(col("o_orderkey")).as("n_orders"))
        .orderBy(col("c_custkey"))
    }),

    "j3_semi" -> ((s: SparkSession, dir: String) => {
      val n = Inputs.parquet(s, dir, "nation")
      val sup = Inputs.parquet(s, dir, "supplier")
        .select(col("s_nationkey").as("n_nationkey"))
      n.join(sup, Seq("n_nationkey"), "left_semi")
        .select(col("n_nationkey"), col("n_name"))
        .orderBy(col("n_nationkey"))
    }),

    "j3b_anti" -> ((s: SparkSession, dir: String) => {
      val n = Inputs.parquet(s, dir, "nation")
      val sup = Inputs.parquet(s, dir, "supplier")
        .select(col("s_nationkey").as("n_nationkey"))
      n.join(sup, Seq("n_nationkey"), "left_anti")
        .select(col("n_nationkey"), col("n_name"))
        .orderBy(col("n_nationkey"))
    }),

    "j4_priority_fallback" -> ((s: SparkSession, dir: String) => {
      // composite-key priority lookup (matcher.py:357-379 archetype):
      // per source, doc count in 'en' if present, else in 'fr', else null
      val d = Inputs.parquet(s, dir, "documents")
      val dim = d.groupBy(col("source"), col("lang")).agg(count(lit(1)).as("n"))
      val en = dim.filter(col("lang") === "en").select(col("source"), col("n").as("n_en"))
      val fr = dim.filter(col("lang") === "fr").select(col("source"), col("n").as("n_fr"))
      d.select(col("source")).distinct()
        .join(en, Seq("source"), "left")
        .join(fr, Seq("source"), "left")
        .select(col("source"), coalesce(col("n_en"), col("n_fr")).as("picked"))
        .orderBy(col("source"))
    }),

    "j5_scored_disambiguation" -> ((s: SparkSession, dir: String) => {
      // scored best-match join (matcher.py:248-280 archetype): candidate set
      // = suppliers in the same nation; score = |balance gap|, argmin with
      // deterministic tiebreak via row_number.
      val c = Inputs.parquet(s, dir, "customer")
      val sup = Inputs.parquet(s, dir, "supplier")
      val cand = c.join(sup, c("c_nationkey") === sup("s_nationkey"))
        .withColumn("gap", abs(col("c_acctbal") - col("s_acctbal")))
      val w = Window.partitionBy(col("c_custkey"))
        .orderBy(col("gap").asc, col("s_suppkey").asc)
      cand.withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("c_custkey"), col("s_suppkey"))
        .orderBy(col("c_custkey"))
    }),

    "j6_two_tier_fallback" -> ((s: SparkSession, dir: String) => {
      // two-tier dictionary fallback (globi_kg_generator.py:190-206):
      // resolve by part (only large parts present in tier-1 dict), else by
      // supplier; rows resolving in neither are dropped.
      val li = Inputs.parquet(s, dir, "lineitem")
      val p = Inputs.parquet(s, dir, "part").filter(col("p_size") >= 40)
        .select(col("p_partkey"), col("p_name"))
      val sup = Inputs.parquet(s, dir, "supplier").filter(col("s_acctbal") > 5000)
        .select(col("s_suppkey"), col("s_name"))
      li.join(broadcast(p), li("l_partkey") === p("p_partkey"), "left")
        .join(broadcast(sup), li("l_suppkey") === sup("s_suppkey"), "left")
        .withColumn("resolved", coalesce(col("p_name"), col("s_name")))
        .filter(col("resolved").isNotNull)
        .select(col("l_orderkey"), col("l_linenumber"), col("resolved"))
        .orderBy(col("l_orderkey"), col("l_linenumber"))
    }),

    "j10_salted_skew" -> ((s: SparkSession, dir: String) => {
      // the north-rule-mandated salted skew join under the driver gate
      // (ops.Salting — "broadcast-then-salted-shuffle entity-linking"):
      // big side = the document corpus on its skewed lang key ('en'
      // carries ~43% of every scale), dim side = the per-lang profile.
      // Hot threshold = 25% of the corpus, so the fixture GENUINELY
      // takes the salted arm at every scale ('en' explodes into 8
      // salts, the cold langs keep salt 0) — detection uses the exact
      // detector (sampleFraction = 1.0) because a 0.1% sample of a
      // 500-row fixture is noise; production keeps the sampled default
      // (SaltingSpec pins the sampled detector on a 200k-row hub).
      // Oracle = the PLAIN SQL join: a green hash row proves the
      // salt-explode/replicate machinery loses and duplicates nothing.
      val d = Inputs.parquet(s, dir, "documents")
        .select(col("doc_id"), col("lang"))
      val dim = d.groupBy(col("lang")).agg(count(lit(1)).as("lang_total"))
      val thr = math.max(1L, d.count() / 4) // parquet metadata count
      Salting.autoSaltedJoin(d, dim, "lang", threshold = thr, salts = 8,
          sampleFraction = 1.0)
        .select(col("doc_id"), col("lang"), col("lang_total"))
        .orderBy(col("doc_id"))
    }),

    // ---- aggregations -------------------------------------------------
    "q1_agg" -> ((s: SparkSession, dir: String) => {
      val li = Inputs.parquet(s, dir, "lineitem")
      li.groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(col("l_quantity")).as("sum_qty"),
          sum(col("l_extendedprice").cast("decimal(18,2)")).cast("double").as("sum_base"),
          sum(col("l_extendedprice").cast("decimal(18,2)") *
            (lit(java.math.BigDecimal.ONE).cast("decimal(18,2)") -
              col("l_discount").cast("decimal(18,2)"))).cast("double").as("sum_disc"),
          count(lit(1)).as("cnt"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    }),

    // Multi-level aggregation: ROLLUP over (returnflag, linestatus) —
    // subtotals per flag and the grand total in ONE pass (Spark expands
    // the grouping sets before the exchange; still a single shuffle
    // with map-side partials). Rolled-up levels are COALESCEd to 'ALL'
    // on both engines, sidestepping NULL-ordering divergence (Spark
    // sorts NULLS FIRST, DuckDB NULLS LAST) without a nondeterministic
    // null key.
    "a11_rollup" -> ((s: SparkSession, dir: String) => {
      val li = Inputs.parquet(s, dir, "lineitem")
      li.rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(sum(col("l_quantity")).as("sum_qty"),
          sum(col("l_extendedprice").cast("decimal(18,2)")).cast("double").as("sum_base"),
          count(lit(1)).as("cnt"))
        .select(coalesce(col("l_returnflag"), lit("ALL")).as("rf"),
          coalesce(col("l_linestatus"), lit("ALL")).as("ls"),
          col("sum_qty"), col("sum_base"), col("cnt"))
        .orderBy(col("rf"), col("ls"))
    }),

    // CUBE over the same keys: every grouping-set combination including
    // per-linestatus marginals — the full multidimensional aggregate.
    "a12_cube" -> ((s: SparkSession, dir: String) => {
      val li = Inputs.parquet(s, dir, "lineitem")
      li.cube(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("cnt"),
          sum(col("l_quantity")).as("sum_qty"))
        .select(coalesce(col("l_returnflag"), lit("ALL")).as("rf"),
          coalesce(col("l_linestatus"), lit("ALL")).as("ls"),
          col("cnt"), col("sum_qty"))
        .orderBy(col("rf"), col("ls"))
    }),

    // Full outer join — the one join shape the matrix lacked: customers
    // (filtered to high balances) against per-customer F-order counts,
    // so BOTH dangling sides genuinely occur (rich customers without
    // F-orders, F-orders from low-balance customers). Keys COALESCEd,
    // null indicators as integers.
    "j11_full_outer" -> ((s: SparkSession, dir: String) => {
      val c = Inputs.parquet(s, dir, "customer")
        .filter(col("c_acctbal") > 5000)
        .select(col("c_custkey"))
      val o = Inputs.parquet(s, dir, "orders")
        .filter(col("o_orderstatus") === "F")
        .groupBy(col("o_custkey")).agg(count(lit(1)).as("n_orders"))
      c.join(o, c("c_custkey") === o("o_custkey"), "full_outer")
        .select(coalesce(c("c_custkey"), o("o_custkey")).as("custkey"),
          when(c("c_custkey").isNull, 0L).otherwise(1L).as("has_cust"),
          coalesce(col("n_orders"), lit(0L)).as("n_orders"))
        .orderBy(col("custkey"))
    }),

    "a1_distinct" -> ((s: SparkSession, dir: String) => {
      Inputs.parquet(s, dir, "lineitem")
        .select(col("l_returnflag"), col("l_linestatus"))
        .distinct()
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    }),

    "a2_dup_detect" -> ((s: SparkSession, dir: String) => {
      // duplicate-group detection via window count (wikidata_fetcher.py:284-288)
      val e = Inputs.parquet(s, dir, "events")
      val w = Window.partitionBy(col("user_id"), col("event_type"))
      e.withColumn("cnt", count(lit(1)).over(w))
        .filter(col("cnt") > 1)
        .select(col("user_id"), col("event_type"), col("cnt"))
        .distinct()
        .orderBy(col("user_id"), col("event_type"))
    }),

    "a3_pivot" -> ((s: SparkSession, dir: String) => {
      // long→wide pivot with fixed value list (wikidata_fetcher.py:231-250)
      val o = Inputs.parquet(s, dir, "orders")
      val pv = o.groupBy(col("o_orderstatus"))
        .pivot("o_orderpriority",
          Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"))
        .agg(count(lit(1)))
      pv.select(col("o_orderstatus"),
          coalesce(col("`1-URGENT`"), lit(0L)).as("p1"),
          coalesce(col("`2-HIGH`"), lit(0L)).as("p2"),
          coalesce(col("`3-MEDIUM`"), lit(0L)).as("p3"),
          coalesce(col("`4-NOT SPECIFIED`"), lit(0L)).as("p4"),
          coalesce(col("`5-LOW`"), lit(0L)).as("p5"))
        .orderBy(col("o_orderstatus"))
    }),

    "a4_term_count" -> ((s: SparkSession, dir: String) => {
      // explode + group term counting (globi_entity_matcher.py:160-220 archetype)
      val d = Inputs.parquet(s, dir, "documents")
      d.select(explode(split(col("text"), "\\s+")).as("token"))
        .filter(col("token").isin("key", "value", "table", "row", "scan"))
        .groupBy(col("token"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("token"))
    }),

    "a7_union_countdistinct" -> ((s: SparkSession, dir: String) => {
      // UNION + COUNT(DISTINCT) metrics archetype (metrics/query_globi_wikidata_ids.txt)
      val e = Inputs.parquet(s, dir, "events")
      val a = e.filter(col("event_type") === "click").select(col("user_id"))
      val b = e.filter(col("event_type") === "view").select(col("user_id"))
      a.unionByName(b).agg(countDistinct(col("user_id")).as("n_users"))
    }),

    "a8_crosstab" -> ((s: SparkSession, dir: String) => {
      val d = Inputs.parquet(s, dir, "documents")
      val pv = d.groupBy(col("lang"))
        .pivot("source", Seq("src0", "src1", "src2", "src3"))
        .agg(count(lit(1)))
      pv.select(col("lang"),
          coalesce(col("src0"), lit(0L)).as("src0"),
          coalesce(col("src1"), lit(0L)).as("src1"),
          coalesce(col("src2"), lit(0L)).as("src2"),
          coalesce(col("src3"), lit(0L)).as("src3"))
        .orderBy(col("lang"))
    }),

    // ---- windows / sorts / top-k --------------------------------------
    "w1_argmax" -> ((s: SparkSession, dir: String) => {
      val c = Inputs.parquet(s, dir, "customer")
      val w = Window.partitionBy(col("c_nationkey"))
        .orderBy(col("c_acctbal").desc, col("c_custkey").asc)
      c.withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("c_nationkey"), col("c_custkey"), col("c_acctbal"))
        .orderBy(col("c_nationkey"))
    }),

    "w5_median" -> ((s: SparkSession, dir: String) => {
      // exact lower median per group, defined positionally (the value
      // at rank (n+1)//2 ascending) so both engines agree with no
      // interpolation-rule drift. Histogram formulation: ONE map-side-
      // combinable (group, value) count aggregate — the N rows never
      // sort; the cumulative pass runs over the value-cardinality-sized
      // histogram (the exact-quantile shape that survives 100 TB when
      // values are discrete; for continuous values the approx sketch
      // replaces the histogram, same two-phase plan).
      val l = Inputs.parquet(s, dir, "lineitem")
        .select(col("l_returnflag"), col("l_quantity").cast("double").as("q"))
      val h = l.groupBy(col("l_returnflag"), col("q"))
        .agg(count(lit(1)).as("c"))
      val w = Window.partitionBy(col("l_returnflag")).orderBy(col("q"))
      val cw = Window.partitionBy(col("l_returnflag"))
      h.withColumn("cum", sum(col("c")).over(w))
        .withColumn("n", sum(col("c")).over(cw))
        .withColumn("r", ((col("n") + 1) / 2).cast("long"))
        .filter(col("cum") >= col("r") && col("cum") - col("c") < col("r"))
        .select(col("l_returnflag"), col("q").as("median_qty"))
        .orderBy(col("l_returnflag"))
    }),

    "w6_quantiles" -> ((s: SparkSession, dir: String) => {
      // exact multi-percentile (p25/p50/p75/p90) per group from ONE
      // histogram — the w5_median machinery generalized: the rank for
      // percentile p is computed in INTEGER arithmetic ((n*p + 99) div
      // 100, the ceiling of n*p/100) so no float rank can drift, and all
      // four percentiles read the same cumulative pass. The N rows are
      // aggregated once; the window sort runs over the value-cardinality-
      // sized histogram crossed with 4 percentile rows (dimension-sized).
      val l = Inputs.parquet(s, dir, "lineitem")
        .select(col("l_returnflag"), col("l_quantity").cast("double").as("q"))
      val h = l.groupBy(col("l_returnflag"), col("q"))
        .agg(count(lit(1)).as("c"))
      val w = Window.partitionBy(col("l_returnflag")).orderBy(col("q"))
      val cw = Window.partitionBy(col("l_returnflag"))
      val cum = h.withColumn("cum", sum(col("c")).over(w))
        .withColumn("n", sum(col("c")).over(cw))
      cum.select(col("l_returnflag"), col("q"), col("c"), col("cum"), col("n"),
          explode(array(lit(25L), lit(50L), lit(75L), lit(90L))).as("pct"))
        .withColumn("r", expr("(n * pct + 99) div 100"))
        .filter(col("cum") >= col("r") && col("cum") - col("c") < col("r"))
        .select(col("l_returnflag"), col("pct"), col("q").as("value"))
        .orderBy(col("l_returnflag"), col("pct"))
    }),

    "w7_quantile_sketch" -> ((s: SparkSession, dir: String) => {
      // mergeable approximate-quantile sketch (ops.Sketches log-
      // histogram — the 4th sketch family member next to HLL/CMS/Bloom)
      // over the price distribution in EXACT CENTS, with the exact
      // discrete quantile riding along for error visibility (the
      // a9_sketch_distinct convention). The sketch is a ≤976-cell SUM
      // state: at 100 TB the exact rider's distinct-value sort is the
      // thing this replaces — production serves the sketch alone. Both
      // the bucketing (bitlength + shifts, no libm log) and the rank
      // arithmetic ((n·pct+99) div 100, the w6 rule) are integer-exact
      // on both engines; est ≤ exact ≤ est + est/16 is the spec-pinned
      // bound.
      val pcts = Seq(25L, 50L, 75L, 90L, 99L)
      val cents = Inputs.parquet(s, dir, "lineitem")
        .select((col("l_extendedprice").cast("decimal(18,2)") * 100)
          .cast("long").as("v"))
      // ONE corpus scan + shuffle: the exact rider's distinct-value
      // histogram is built first (dimension-sized: distinct cents) and
      // the sketch cells aggregate the HISTOGRAM's weighted values —
      // identical cell counts, no second pass over lineitem. The
      // checkpoint materializes the shared histogram once for both
      // consumers.
      val hist = cents.groupBy(col("v")).agg(count(lit(1)).as("cnt"))
        .localCheckpoint(true)
      val est = graft.ops.Sketches.qsketchQuantiles(
        graft.ops.Sketches.qsketchCellsFromHist(hist, "v", "cnt"), pcts)
      val exact = graft.ops.Sketches.quantileDisc(hist, "v", pcts)
        .select(col("pct"), col("v").as("exact_cents"))
      est.select(col("pct"), col("est").as("est_cents"))
        .join(exact, Seq("pct"))
        .orderBy(col("pct"))
    }),

    "w2_sort" -> ((s: SparkSession, dir: String) => {
      Inputs.parquet(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderdate"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
    }),

    "w3_topk" -> ((s: SparkSession, dir: String) => {
      Inputs.parquet(s, dir, "orders")
        .select(col("o_orderkey"), col("o_totalprice"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
        .limit(15)
    }),

    "w4_det_record_id" -> ((s: SparkSession, dir: String) => {
      // partition-order-independent record id (vs reference inRec{n},
      // globi_kg_generator.py:213-217): content hash, not row position
      Inputs.parquet(s, dir, "documents")
        .select(col("doc_id"), md5(col("doc_id").cast("string")).as("rec_id"))
        .orderBy(col("doc_id"))
    }),

    // ---- set operations ------------------------------------------------
    "u1_union_distinct" -> ((s: SparkSession, dir: String) => {
      val c = Inputs.parquet(s, dir, "customer").select(col("c_custkey").as("k"))
      val o = Inputs.parquet(s, dir, "orders").select(col("o_custkey").as("k"))
      c.unionByName(o).distinct().orderBy(col("k"))
    }),

    "u3a_intersect" -> ((s: SparkSession, dir: String) => {
      val c = Inputs.parquet(s, dir, "customer").select(col("c_nationkey").as("nk"))
      val sup = Inputs.parquet(s, dir, "supplier").select(col("s_nationkey").as("nk"))
      c.intersect(sup).orderBy(col("nk"))
    }),

    "u3b_except" -> ((s: SparkSession, dir: String) => {
      val c = Inputs.parquet(s, dir, "customer").select(col("c_nationkey").as("nk"))
      val sup = Inputs.parquet(s, dir, "supplier").select(col("s_nationkey").as("nk"))
      c.except(sup).orderBy(col("nk"))
    }),

    // ---- scalar function parity -----------------------------------------
    "f2_uri_normalize" -> ((s: SparkSession, dir: String) => {
      val p = Inputs.parquet(s, dir, "part")
        .withColumn("raw",
          when(col("p_partkey") % 4 === 0,
            concat(lit("https://www.gbif.org/species/"), col("p_partkey")))
            .when(col("p_partkey") % 4 === 1,
              concat(lit("https://www.wikidata.org/entity/Q"), col("p_partkey")))
            .when(col("p_partkey") % 4 === 2,
              concat(lit("tsn:"), col("p_partkey")))
            .otherwise(concat(lit("gbif:"), col("p_partkey"))))
      p.select(col("p_partkey"), Norm.normalizeUri(col("raw")).as("norm_id"))
        .orderBy(col("p_partkey"))
    }),

    "f3_rank_unpack" -> ((s: SparkSession, dir: String) => {
      // |-packed ordered path unpack (matcher.py:416-427): split both lists,
      // zip positionally, project onto predefined ranks with "" fill
      val d = Inputs.parquet(s, dir, "documents")
        .withColumn("names",
          concat_ws("|", slice(split(col("text"), "\\s+"), 1, 3)))
        .withColumn("ranks", lit("kingdom|phylum|class|order"))
      val nameArr = split(col("names"), "\\|")
      val rankArr = split(col("ranks"), "\\|")
      val m = map_from_entries(
        zip_with(rankArr, nameArr, (r, n) => struct(r.as("k"), coalesce(n, lit("")).as("v"))))
      d.select(col("doc_id"),
          coalesce(element_at(m, "kingdom"), lit("")).as("kingdom"),
          coalesce(element_at(m, "phylum"), lit("")).as("phylum"),
          coalesce(element_at(m, "class"), lit("")).as("class"),
          coalesce(element_at(m, "order"), lit("")).as("rank_order"))
        .orderBy(col("doc_id"))
    }),

    "f4_preprocess_term" -> ((s: SparkSession, dir: String) => {
      // de-pluralization rules (utils.py:124-129) over document tokens
      val d = Inputs.parquet(s, dir, "documents")
      d.select(explode(split(col("text"), "\\s+")).as("token"))
        .distinct()
        .select(col("token"), Norm.preprocessTerm(col("token")).as("term"))
        .orderBy(col("token"))
    }),

    "f9_format_uri" -> ((s: SparkSession, dir: String) => {
      // percent-encoding parity with python urllib.parse.quote
      // (utils.py:104-106). The appended constant tail forces the
      // reserved-char, multibyte-UTF-8, and unreserved-passthrough
      // branches through the driver gate on every row (part names alone
      // only exercise the space branch); the oracle carries the
      // hand-encoded expected tail.
      val p = Inputs.parquet(s, dir, "part")
      p.select(col("p_partkey"),
          Norm.formatUri(concat(col("p_name"), lit("/x?&#Ĝ +*~._-")))
            .as("encoded"))
        .orderBy(col("p_partkey"))
    }),

    "f10_numeric_literal" -> ((s: SparkSession, dir: String) => {
      // xsd:double vs xsd:string detection (trydb_kg_generator.py:130-134)
      val e = Inputs.parquet(s, dir, "events")
        .withColumn("raw",
          when(col("event_id") % 3 === 0, col("value").cast("string"))
            .when(col("event_id") % 3 === 1, concat(lit("v"), col("value")))
            .otherwise(concat(col("value"), lit("E+2"))))
      e.select(col("event_id"),
          when(Norm.isNumericLiteral(col("raw")), lit("xsd:double"))
            .otherwise(lit("xsd:string")).as("dtype"))
        .orderBy(col("event_id"))
    })
  )

  /** DuckDB-dialect oracle SQL. Table names are bare (driver maps them to
    * the same parquet files). regexp_replace carries the 'g' flag to match
    * Spark's replace-all semantics.
    */
  val oracle: Map[String, String] = Map(
    "s1_scan_prune" ->
      """SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
         WHERE l_quantity >= 45 AND l_returnflag = 'R'
         ORDER BY l_orderkey, l_linenumber""",

    "p2_null_widened" ->
      """WITH m AS (
           SELECT o_orderkey,
                  CASE CAST(o_orderkey % 5 AS INT)
                    WHEN 0 THEN '\N' WHEN 1 THEN 'no:match' WHEN 2 THEN ''
                    WHEN 3 THEN 'ĜLOBI:x' ELSE o_orderpriority END AS marker
           FROM orders)
         SELECT o_orderkey, marker FROM m
         WHERE marker IS NOT NULL AND marker <> '' AND marker <> '\N'
           AND marker <> 'no:match' AND marker NOT LIKE 'ĜLOBI:%'
         ORDER BY o_orderkey""",

    "p4_status_mask" ->
      """SELECT event_type,
                CAST(SUM(CAST(CASE WHEN event_type = 'error' THEN 0.0 ELSE value END
                     AS DECIMAL(18,2))) AS DOUBLE) AS sum_v,
                COUNT(*) AS n
         FROM events GROUP BY event_type ORDER BY event_type""",

    "j1_broadcast_join" ->
      """SELECT r_name, n_name, COUNT(*) AS n_cust
         FROM customer JOIN nation ON c_nationkey = n_nationkey
                       JOIN region ON n_regionkey = r_regionkey
         GROUP BY r_name, n_name ORDER BY r_name, n_name""",

    "j2_left_outer" ->
      """SELECT c_custkey, COUNT(o_orderkey) AS n_orders
         FROM customer LEFT JOIN orders ON c_custkey = o_custkey
         GROUP BY c_custkey ORDER BY c_custkey""",

    "j3_semi" ->
      """SELECT n_nationkey, n_name FROM nation
         WHERE n_nationkey IN (SELECT s_nationkey FROM supplier)
         ORDER BY n_nationkey""",

    "j3b_anti" ->
      """SELECT n_nationkey, n_name FROM nation
         WHERE n_nationkey NOT IN (SELECT s_nationkey FROM supplier)
         ORDER BY n_nationkey""",

    "j4_priority_fallback" ->
      """WITH dim AS (SELECT source, lang, COUNT(*) AS n FROM documents GROUP BY source, lang),
            en AS (SELECT source, n AS n_en FROM dim WHERE lang = 'en'),
            fr AS (SELECT source, n AS n_fr FROM dim WHERE lang = 'fr'),
            src AS (SELECT DISTINCT source FROM documents)
         SELECT src.source, COALESCE(n_en, n_fr) AS picked
         FROM src LEFT JOIN en ON src.source = en.source
                  LEFT JOIN fr ON src.source = fr.source
         ORDER BY src.source""",

    "j5_scored_disambiguation" ->
      """SELECT c_custkey, s_suppkey FROM (
           SELECT c_custkey, s_suppkey,
                  ROW_NUMBER() OVER (PARTITION BY c_custkey
                    ORDER BY ABS(c_acctbal - s_acctbal) ASC, s_suppkey ASC) AS rn
           FROM customer JOIN supplier ON c_nationkey = s_nationkey)
         WHERE rn = 1 ORDER BY c_custkey""",

    "j6_two_tier_fallback" ->
      """WITH p AS (SELECT p_partkey, p_name FROM part WHERE p_size >= 40),
            s AS (SELECT s_suppkey, s_name FROM supplier WHERE s_acctbal > 5000)
         SELECT l_orderkey, l_linenumber, COALESCE(p_name, s_name) AS resolved
         FROM lineitem LEFT JOIN p ON l_partkey = p_partkey
                       LEFT JOIN s ON l_suppkey = s_suppkey
         WHERE COALESCE(p_name, s_name) IS NOT NULL
         ORDER BY l_orderkey, l_linenumber""",

    // the PLAIN join — the engine side must reproduce it exactly through
    // the salt-explode/replicate machinery
    "j10_salted_skew" ->
      """WITH dim AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS lang_total
                      FROM documents GROUP BY lang)
         SELECT doc_id, lang, lang_total
         FROM documents JOIN dim USING (lang)
         ORDER BY doc_id""",

    "q1_agg" ->
      """SELECT l_returnflag, l_linestatus,
                SUM(l_quantity) AS sum_qty,
                CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base,
                CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
                     (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc,
                COUNT(*) AS cnt
         FROM lineitem GROUP BY l_returnflag, l_linestatus
         ORDER BY l_returnflag, l_linestatus""",

    "a11_rollup" ->
      """SELECT COALESCE(l_returnflag, 'ALL') AS rf,
                COALESCE(l_linestatus, 'ALL') AS ls,
                SUM(l_quantity) AS sum_qty,
                CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base,
                COUNT(*) AS cnt
         FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
         ORDER BY rf, ls""",

    "a12_cube" ->
      """SELECT COALESCE(l_returnflag, 'ALL') AS rf,
                COALESCE(l_linestatus, 'ALL') AS ls,
                COUNT(*) AS cnt,
                SUM(l_quantity) AS sum_qty
         FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)
         ORDER BY rf, ls""",

    "j11_full_outer" ->
      """WITH c AS (SELECT c_custkey FROM customer WHERE c_acctbal > 5000),
         o AS (SELECT o_custkey, COUNT(*) AS n_orders FROM orders
               WHERE o_orderstatus = 'F' GROUP BY o_custkey)
         SELECT COALESCE(c.c_custkey, o.o_custkey) AS custkey,
                CAST(CASE WHEN c.c_custkey IS NULL THEN 0 ELSE 1 END AS BIGINT)
                  AS has_cust,
                CAST(COALESCE(o.n_orders, 0) AS BIGINT) AS n_orders
         FROM c FULL OUTER JOIN o ON o.o_custkey = c.c_custkey
         ORDER BY custkey""",

    "a1_distinct" ->
      """SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem
         ORDER BY l_returnflag, l_linestatus""",

    "a2_dup_detect" ->
      """SELECT DISTINCT user_id, event_type, cnt FROM (
           SELECT user_id, event_type,
                  COUNT(*) OVER (PARTITION BY user_id, event_type) AS cnt
           FROM events)
         WHERE cnt > 1 ORDER BY user_id, event_type""",

    "a3_pivot" ->
      """SELECT o_orderstatus,
                COUNT(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 END) AS p1,
                COUNT(CASE WHEN o_orderpriority = '2-HIGH' THEN 1 END) AS p2,
                COUNT(CASE WHEN o_orderpriority = '3-MEDIUM' THEN 1 END) AS p3,
                COUNT(CASE WHEN o_orderpriority = '4-NOT SPECIFIED' THEN 1 END) AS p4,
                COUNT(CASE WHEN o_orderpriority = '5-LOW' THEN 1 END) AS p5
         FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""",

    "a4_term_count" ->
      """SELECT token, COUNT(*) AS n FROM (
           SELECT UNNEST(regexp_split_to_array(text, '\s+')) AS token FROM documents)
         WHERE token IN ('key','value','table','row','scan')
         GROUP BY token ORDER BY token""",

    "a7_union_countdistinct" ->
      """SELECT COUNT(DISTINCT user_id) AS n_users FROM (
           SELECT user_id FROM events WHERE event_type = 'click'
           UNION ALL
           SELECT user_id FROM events WHERE event_type = 'view')""",

    "a8_crosstab" ->
      """SELECT lang,
                COUNT(CASE WHEN source = 'src0' THEN 1 END) AS src0,
                COUNT(CASE WHEN source = 'src1' THEN 1 END) AS src1,
                COUNT(CASE WHEN source = 'src2' THEN 1 END) AS src2,
                COUNT(CASE WHEN source = 'src3' THEN 1 END) AS src3
         FROM documents GROUP BY lang ORDER BY lang""",

    "w1_argmax" ->
      """SELECT c_nationkey, c_custkey, c_acctbal FROM (
           SELECT c_nationkey, c_custkey, c_acctbal,
                  ROW_NUMBER() OVER (PARTITION BY c_nationkey
                    ORDER BY c_acctbal DESC, c_custkey ASC) AS rn
           FROM customer)
         WHERE rn = 1 ORDER BY c_nationkey""",

    // positional lower median via the same histogram + cumulative-count
    // formulation as the engine: the value whose cumulative count first
    // reaches rank (n+1)//2 — no interpolation rule to drift
    "w5_median" ->
      """SELECT l_returnflag, q AS median_qty FROM (
           SELECT l_returnflag, q, c,
                  SUM(c) OVER (PARTITION BY l_returnflag ORDER BY q) AS cum,
                  SUM(c) OVER (PARTITION BY l_returnflag) AS n
           FROM (
             SELECT l_returnflag, CAST(l_quantity AS DOUBLE) AS q, COUNT(*) AS c
             FROM lineitem GROUP BY 1, 2))
         WHERE cum >= (n + 1) // 2 AND cum - c < (n + 1) // 2
         ORDER BY l_returnflag""",

    // same histogram + integer-rank formulation: rank for percentile p
    // is (n*p + 99) // 100 (the ceiling of n*p/100) — pure integer
    // arithmetic, no float rank to drift between engines
    "w6_quantiles" ->
      """SELECT l_returnflag, CAST(pct AS BIGINT) AS pct, q AS value FROM (
           SELECT l_returnflag, q, c, cum, n, pct,
                  (n * pct + 99) // 100 AS r
           FROM (
             SELECT l_returnflag, q, c,
                    SUM(c) OVER (PARTITION BY l_returnflag ORDER BY q) AS cum,
                    SUM(c) OVER (PARTITION BY l_returnflag) AS n
             FROM (
               SELECT l_returnflag, CAST(l_quantity AS DOUBLE) AS q, COUNT(*) AS c
               FROM lineitem GROUP BY 1, 2)),
           UNNEST([25, 50, 75, 90]) t(pct))
         WHERE cum >= r AND cum - c < r
         ORDER BY l_returnflag, pct""",

    // identical integer bucketing (length(bin(v)) + shifts) and integer
    // rank rule; CAST(decimal*100 AS BIGINT) is exact — the product is
    // integral, so DuckDB's rounding cast == Spark's truncating cast
    "w7_quantile_sketch" ->
      """WITH v AS (SELECT CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100
                           AS BIGINT) AS v FROM lineitem),
         cells AS (SELECT CASE WHEN v < 32 THEN v
                               ELSE 32 + (length(bin(v)) - 6) * 16
                                    + ((v >> (length(bin(v)) - 5)) - 16)
                          END AS qb, COUNT(*) AS cnt
                   FROM v GROUP BY 1),
         tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS n FROM cells),
         cum AS (SELECT qb, SUM(cnt) OVER (ORDER BY qb) AS cum FROM cells),
         ranks AS (SELECT CAST(pct AS BIGINT) AS pct, (n * pct + 99) // 100 AS r
                   FROM tot, UNNEST([25, 50, 75, 90, 99]) t(pct)),
         est AS (SELECT pct, MIN(qb) AS qb
                 FROM ranks JOIN cum ON cum >= r GROUP BY pct),
         hist AS (SELECT v, COUNT(*) AS cnt FROM v GROUP BY v),
         hcum AS (SELECT v, SUM(cnt) OVER (ORDER BY v) AS cum FROM hist),
         ex AS (SELECT pct, MIN(v) AS exact_cents
                FROM ranks JOIN hcum ON cum >= r GROUP BY pct)
         SELECT est.pct,
                CAST(CASE WHEN qb < 32 THEN qb
                          ELSE (16 + (qb - 32) % 16) << ((qb - 32) // 16 + 1)
                     END AS BIGINT) AS est_cents,
                CAST(exact_cents AS BIGINT) AS exact_cents
         FROM est JOIN ex USING (pct) ORDER BY pct""",

    "w2_sort" ->
      """SELECT o_orderkey, o_orderdate FROM orders
         ORDER BY o_orderdate, o_orderkey""",

    "w3_topk" ->
      """SELECT o_orderkey, o_totalprice FROM orders
         ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 15""",

    "w4_det_record_id" ->
      """SELECT doc_id, md5(CAST(doc_id AS VARCHAR)) AS rec_id FROM documents
         ORDER BY doc_id""",

    "u1_union_distinct" ->
      """SELECT DISTINCT k FROM (
           SELECT c_custkey AS k FROM customer
           UNION ALL SELECT o_custkey AS k FROM orders)
         ORDER BY k""",

    "u3a_intersect" ->
      """SELECT c_nationkey AS nk FROM customer
         INTERSECT SELECT s_nationkey FROM supplier ORDER BY nk""",

    "u3b_except" ->
      """SELECT c_nationkey AS nk FROM customer
         EXCEPT SELECT s_nationkey FROM supplier ORDER BY nk""",

    "f2_uri_normalize" -> {
      // mirror Norm.uriRules as a chained regexp_replace(..., 'g') pipeline
      val raw =
        """CASE CAST(p_partkey % 4 AS INT)
             WHEN 0 THEN 'https://www.gbif.org/species/' || p_partkey
             WHEN 1 THEN 'https://www.wikidata.org/entity/Q' || p_partkey
             WHEN 2 THEN 'tsn:' || p_partkey
             ELSE 'gbif:' || p_partkey END"""
      val chained = Norm.uriRules.foldLeft(raw) { case (acc, (pat, rep)) =>
        val p = pat.replace("'", "''")
        s"regexp_replace($acc, '$p', '$rep', 'g')"
      }
      s"SELECT p_partkey, $chained AS norm_id FROM part ORDER BY p_partkey"
    },

    "f3_rank_unpack" ->
      """WITH toks AS (
           SELECT doc_id, regexp_split_to_array(text, '\s+') AS tk FROM documents)
         SELECT doc_id,
                COALESCE(tk[1], '') AS kingdom,
                COALESCE(tk[2], '') AS phylum,
                COALESCE(tk[3], '') AS class,
                '' AS rank_order
         FROM toks ORDER BY doc_id""",

    "f4_preprocess_term" ->
      """WITH toks AS (
           SELECT DISTINCT UNNEST(regexp_split_to_array(text, '\s+')) AS token FROM documents),
            low AS (SELECT token, lower(trim(token)) AS t FROM toks)
         SELECT token,
                CASE WHEN t NOT LIKE '%mono%' AND t NOT LIKE '%auto%' AND t LIKE '%s'
                     THEN substr(t, 1, length(t) - 1) ELSE t END AS term
         FROM low ORDER BY token""",

    "f9_format_uri" ->
      """SELECT p_partkey,
                replace(p_name, ' ', '%20') || '%2Fx%3F%26%23%C4%9C%20%2B%2A~._-' AS encoded
         FROM part ORDER BY p_partkey""",

    "f10_numeric_literal" ->
      """WITH r AS (
           SELECT event_id,
                  CASE CAST(event_id % 3 AS INT)
                    WHEN 0 THEN CAST(value AS VARCHAR)
                    WHEN 1 THEN 'v' || CAST(value AS VARCHAR)
                    ELSE CAST(value AS VARCHAR) || 'E+2' END AS raw
           FROM events)
         SELECT event_id,
                CASE WHEN regexp_full_match(raw, '-?[0-9]+(\.[0-9]+)?(E[+-][0-9]+)?')
                     THEN 'xsd:double' ELSE 'xsd:string' END AS dtype
         FROM r ORDER BY event_id"""
  )
}
