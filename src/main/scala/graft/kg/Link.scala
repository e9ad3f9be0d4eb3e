package graft.kg

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.normalize.Norm
import Model._

/** Stage 2 — entity linking: the reference's taxonomy matcher
  * (src/taxonomy_matching/matcher.py) re-expressed as broadcast joins +
  * a scored disambiguation join.
  *
  * Dictionary semantics made relational:
  *  - pandas "dict build, later row wins" → groupBy(key).max_by(value, rowIdx)
  *  - "drop_duplicates keeps first" → groupBy(all cols).min(rowIdx)
  *  - scored argmax with first-insertion tiebreak → max_by over
  *    struct(score, -groupIdx)  (matcher.py:264-280)
  * Every dictionary is a small table ⇒ broadcast joins, no shuffle on
  * the big side except the final dedup.
  */
object Link {

  private def nonEmpty(c: Column): Column = c.isNotNull && c =!= ""

  /** Prefix external-id columns positionally, normalize Wikidata URIs and
    * strip quotes (matcher.py:108-114).
    */
  def prepWdSparql(wdSparql: DataFrame): DataFrame = {
    val cols = wdSparql.columns
    val prefixed = wdSparql.select(cols.zipWithIndex.map { case (c, idx) =>
      val base =
        if (idx >= 1 && idx <= 15)
          when(col(c).isNotNull, concat(lit(externalPrefixes(idx - 1)), col(c)))
            .otherwise(col(c))
        else col(c)
      regexp_replace(
        regexp_replace(base, "http://www\\.wikidata\\.org/entity/", "Wikidata:"),
        "\"", "").as(c)
    }: _*)
    prefixed
  }

  /** globi_id_map: any id column (WdID + 15 externals) → WdName;
    * globi_id_map_wd: external id → WdID (matcher.py:117-130).
    */
  def idMaps(prepped: DataFrame): (DataFrame, DataFrame) = {
    // pandas melt→to_dict is LAST-occurrence-wins in COLUMN-MAJOR order
    // (matcher.py:117-130: the melt stacks column by column, dict build
    // keeps the later entry). Reproduce it with an explicit ordinal
    // (colIdx, rowIdx) STRUCT and max_by over its lexicographic order —
    // a packed `colIdx·2^40 + rowIdx` long would silently corrupt the
    // column-major order once the input has ≥128 partitions, because
    // monotonically_increasing_id puts the partition id in bits ≥33 and
    // partition 128 of column 0 would outrank column 1.
    // rowIdx comes from monotonically_increasing_id() over the input —
    // order-faithful for the single-file dimension reads this table
    // comes from (partition id occupies the high bits, so multi-split
    // reads stay ordered file-major, matching the reference's
    // concatenated read).
    val withIdx = prepped.withColumn("_rowIdx", monotonically_increasing_id())
    val cols = prepped.columns
    val wdIdCol = cols.head; val wdNameCol = cols.last
    val keyCols = cols.dropRight(1) // includes WdID (matcher.py:116)
    val extCols = cols.drop(1).dropRight(1)
    // single-pass melt: one explode over the key columns (no 16-way
    // union → one job instead of sixteen)
    def melt(keys: Seq[String], valueCol: String): DataFrame =
      withIdx
        .select(explode(array(keys.zipWithIndex.map { case (k, ci) =>
          struct(col(k).as("key"),
            struct(lit(ci).as("ci"), col("_rowIdx").as("ri")).as("ord"))
        }: _*)).as("kv"), col(valueCol).as("value"))
        .select(col("kv.key").as("key"), col("kv.ord").as("ord"), col("value"))
        .filter(col("key").isNotNull)
        .groupBy(col("key"))
        .agg(max_by(col("value"), col("ord")).as("value"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    (melt(keyCols, wdNameCol), melt(extCols, wdIdCol))
  }

  /** Ordinal base of target mentions: source rows get recNum, target
    * rows get TargetBase + recNum — pandas' sources-then-targets concat
    * order for any set of record numbers below 2^40, gapped or not, and
    * stable under appends (the incremental state keeps these ordinals).
    */
  private val TargetBase: Long = 1L << 40

  /** Stack source/target taxon mentions, normalize ids/urls and dedup
    * keeping the first occurrence (matcher.py:133-180). Returns the
    * distinct-taxa table (TaxonId, TaxonName, TaxonPathName,
    * TaxonRankName, rowIdx); [[unpackRanks]] adds the rank columns.
    */
  def stackTaxa(records: DataFrame): DataFrame = {
    // one scan: both sides as a 2-element struct array, exploded —
    // reading the corpus twice (union of two projections) costs two scans
    def side(p: String, base: Long): Column = struct(
      col(s"${p}TaxonId").as("TaxonId"),
      col(s"${p}TaxonName").as("TaxonName"),
      col(s"${p}TaxonPathNames").as("TaxonPathName"),
      col(s"${p}TaxonPathRankNames").as("TaxonRankName"),
      (col("recNum") + base).as("rowIdx"))
    val stacked = records
      .select(explode(array(side("source", 0L), side("target", TargetBase)))
        .as("t"))
      .select(col("t.*"))
    val norm = stacked.select(
      Seq("TaxonId", "TaxonName", "TaxonPathName", "TaxonRankName")
        .map(c => Norm.normalizeUri(col(c)).as(c)) :+ col("rowIdx"): _*)
    norm
      .groupBy(col("TaxonId"), col("TaxonName"), col("TaxonPathName"), col("TaxonRankName"))
      .agg(min(col("rowIdx")).as("rowIdx"))
  }

  /** Rank-path unpack (matcher.py:416-427) over a distinct-taxa table:
    * zip ranks with names positionally, zip_longest-style "" fill when
    * names run short. Duplicate rank names are LAST-WINS
    * (dict(zip_longest) semantics, matcher.py:419,
    * = LocalMatcher.extractRanks .toMap) — a plain map_from_arrays
    * would throw under mapKeyDedupPolicy=EXCEPTION on noisy paths like
    * "kingdom|kingdom|family".
    */
  def unpackRanks(dedup: DataFrame): DataFrame = {
    val ranksArr = transform(split(col("TaxonRankName"), "\\|"), r => trim(r))
    val namesArr = transform(split(col("TaxonPathName"), "\\|"), n => trim(n))
    val entries = transform(sequence(lit(1), size(ranksArr)), i =>
      struct(element_at(ranksArr, i).as("k"),
        coalesce(element_at(namesArr, i), lit("")).as("v"), i.as("i")))
    val lastWins = filter(entries, e =>
      !exists(entries, e2 =>
        e2.getField("k") === e.getField("k") && e2.getField("i") > e.getField("i")))
    val m = map_from_entries(transform(lastWins, e =>
      struct(e.getField("k"), e.getField("v"))))
    val withRanks = predefinedRanks.foldLeft(dedup.withColumn("_rankmap", m)) {
      case (df, rank) =>
        df.withColumn(rank, coalesce(element_at(col("_rankmap"), rank), lit("")))
    }
    withRanks.drop("_rankmap")
  }

  /** Initial ID-based match + status lattice (matcher.py:184-205). */
  def initialMatch(taxa: DataFrame, idMap: DataFrame, idMapWd: DataFrame): DataFrame = {
    val tid = trim(col("TaxonId"))
    val tname = trim(col("TaxonName"))
    val im = idMap.select(col("key").as("_k1"), col("value").as("Mapped_Value"))
    val imWd = idMapWd.select(col("key").as("_k2"), col("value").as("Mapped_ID_WD"))
    taxa
      .join(broadcast(im), tid === col("_k1"), "left").drop("_k1")
      .join(broadcast(imWd), tid === col("_k2"), "left").drop("_k2")
      .withColumn("Mapped_ID", when(col("Mapped_Value").isNotNull, tid))
      .withColumn("Match_Status",
        when(!nonEmpty(tid), "ID-NOT-PRESENT")
          .when(col("Mapped_Value").isNull, "ID-NOT-FOUND")
          .when(lower(col("Mapped_Value")) === lower(tname), "NAME-MATCH-YES")
          .otherwise("NAME-MATCH-NO"))
  }

  /** Lineage tables: normalized WdID; repeats = duplicate WdNames sorted
    * by (WdName, WdID) with a group index; uniques = the rest
    * (matcher.py:208-244, wikidata_fetcher.py:268-297).
    */
  case class LineageTables(repeats: DataFrame, uniques: DataFrame)

  def lineagePrep(lineage: DataFrame): LineageTables = {
    import org.apache.spark.sql.expressions.Window
    val l = lineage.withColumn("WdID",
      regexp_replace(col("WdID"), "http://www\\.wikidata\\.org/entity/", "Wikidata:"))
    val withCnt = l.withColumn("_cnt",
      count(lit(1)).over(Window.partitionBy(col("WdName"))))
    // per-name index, NOT a global row_number: every downstream
    // comparison of rowIdx/grpIdx happens within one WdName (the
    // candidate join key is the name, so min_by/max_by tie-breaks never
    // cross names — same invariant in LocalMatcher, whose index groups
    // the candidates by name in their insertion order). A
    // global orderBy window would funnel the whole lineage table through
    // one partition (WindowExec warns exactly that); partitioning by
    // WdName keeps the index distributed and semantics-identical.
    val repeats = withCnt.filter(col("_cnt") > 1).drop("_cnt")
      .withColumn("rowIdx",
        row_number().over(
          Window.partitionBy(col("WdName")).orderBy(col("WdID"))))
    val uniques = withCnt.filter(col("_cnt") === 1).drop("_cnt")
    LineageTables(repeats, uniques)
  }

  /** Secondary name-based matching for ID-NOT-FOUND / ID-NOT-PRESENT
    * rows (matcher.py:284-334): exact 6-tuple short-circuit, else the
    * scored disambiguation join (J5), else direct unique-name lookup.
    */
  def secondaryMatch(matched: DataFrame, lt: LineageTables): DataFrame = {
    val needsFix = col("Match_Status").isin("ID-NOT-FOUND", "ID-NOT-PRESENT") &&
      nonEmpty(trim(col("TaxonName")))

    val fix = matched.filter(needsFix)
      .withColumn("_name", trim(col("TaxonName")))
    val keep = matched.filter(!needsFix)

    // distinct candidate keys among duplicates, first-occurrence ordered
    val candKeys = lt.repeats
      .select(Seq(col("WdName"), col("WdID"), col("rowIdx")) ++
        Seq("family", "class", "order", "phylum", "kingdom")
          .map(c => coalesce(col(c), lit("")).as(s"c_$c")): _*)
      .groupBy(col("WdName"), col("c_family"), col("c_class"), col("c_order"),
        col("c_phylum"), col("c_kingdom"))
      .agg(min_by(col("WdID"), col("rowIdx")).as("c_wdid"),
        min(col("rowIdx")).as("grpIdx"))

    // one candidate join on name covers both the exact 6-tuple
    // short-circuit (case-sensitive, matcher.py:260-261) and the scored
    // argmax (+1 per case-insensitive match on non-empty candidate rank,
    // matcher.py:264-280) — single broadcast join + single partial-agg
    // shuffle instead of two of each
    def sc(rowCol: String, candCol: String): Column =
      when(nonEmpty(col(candCol)) &&
        lower(col(candCol)) === lower(col(rowCol)), 1).otherwise(0)
    val candStruct = struct(col("c_wdid"), col("c_family"), col("c_class"),
      col("c_order"), col("c_phylum"), col("c_kingdom"))
    val exactFlag =
      col("family") === col("c_family") && col("class") === col("c_class") &&
        col("order") === col("c_order") && col("phylum") === col("c_phylum") &&
        col("kingdom") === col("c_kingdom")
    val duplJoined = fix.join(broadcast(candKeys), col("_name") === candKeys("WdName"))
      .withColumn("_score",
        sc("family", "c_family") + sc("class", "c_class") + sc("order", "c_order") +
          sc("phylum", "c_phylum") + sc("kingdom", "c_kingdom"))
      .groupBy(col("rowIdx"))
      .agg(
        min_by(when(exactFlag, candStruct), when(exactFlag, col("grpIdx"))).as("ex"),
        max_by(candStruct,
          struct(col("_score"), (lit(0L) - col("grpIdx")).as("nIdx"))).as("scr"))

    // (c) unique-name direct lookup (matcher.py:318-326)
    val uniq = lt.uniques.select(col("WdName").as("u_name"),
      struct(col("WdID").as("c_wdid"),
        coalesce(col("family"), lit("")).as("c_family"),
        coalesce(col("class"), lit("")).as("c_class"),
        coalesce(col("order"), lit("")).as("c_order"),
        coalesce(col("phylum"), lit("")).as("c_phylum"),
        coalesce(col("kingdom"), lit("")).as("c_kingdom")).as("un"))

    val fixed = fix
      .join(duplJoined, Seq("rowIdx"), "left")
      .join(broadcast(uniq), col("_name") === col("u_name"), "left")
      .withColumn("_win", coalesce(col("ex"), col("scr"), col("un")))
      .withColumn("_isDupl", col("scr").isNotNull || col("ex").isNotNull)
      .withColumn("Mapped_ID_WD",
        when(col("_win").isNotNull, col("_win.c_wdid")).otherwise(lit(null)))
      .withColumn("Match_Status",
        when(col("_isDupl"), "ID-MATCHED-BY-NAME-DUPL-duplicate")
          .when(col("un").isNotNull, "ID-MATCHED-BY-NAME-direct")
          .otherwise(col("Match_Status")))
    val rankUpdated = Seq(
      ("family", "c_family"), ("class", "c_class"), ("order", "c_order"),
      ("phylum", "c_phylum"), ("kingdom", "c_kingdom"))
      .foldLeft(fixed) { case (df, (r, c)) =>
        df.withColumn(r,
          when(col("_win").isNotNull, col(s"_win.$c")).otherwise(col(r)))
      }
    val outCols = matched.columns.map(col)
    rankUpdated.select(outCols: _*).unionByName(keep.select(outCols: _*))
  }

  /** The shipped matcher: [[stackTaxa]], then [[matchStacked]]'s
    * row-count guard. `nDocs` is unused — the target ordinal base is
    * the fixed [[TargetBase]] — and stays in the signature only because
    * the benchmark harness calls this positionally.
    */
  def matchTaxaAdaptive(records: DataFrame, wdSparqlRows: Seq[Seq[String]],
      lineageRows: Seq[Seq[String]], nDocs: Long = 0L,
      maxDriverRows: Long = MaxDriverRows): DataFrame =
    matchStacked(stackTaxa(records), wdSparqlRows, lineageRows, maxDriverRows)

  /** Matcher over a stacked distinct-taxa table (the [[stackTaxa]] shape;
    * the incremental path's accumulated taxa state is one). The ROW-COUNT
    * GUARD is on the vocabulary, which is bounded, never on the taxa,
    * which grow with the corpus: while the wd mapping and lineage rows
    * number at most `maxDriverRows`, their [[LocalMatcher.Index]] is
    * broadcast and every taxon is matched in its own partition
    * ([[LocalMatcher.Index.matchOne]]), a narrow map that schedules no
    * job of its own; beyond it the distributed formulation runs over the
    * same table (the corpus is never re-scanned). A non-positive guard
    * forces the distributed arm. Both arms are asserted equal in
    * KgPipelineSpec and LinkSpec. The broadcast arm comes back lazy: a
    * caller that reads it more than once persists it (under AQE a
    * persisted table costs its first reader one more job). The
    * distributed arm comes back persisted, so a caller loop unpersists
    * the result.
    */
  def matchStacked(taxa: DataFrame, wdSparqlRows: Seq[Seq[String]],
      lineageRows: Seq[Seq[String]], maxDriverRows: Long): DataFrame = {
    val spark = taxa.sparkSession
    import spark.implicits._
    if (maxDriverRows > 0 && wdSparqlRows.size + lineageRows.size <= maxDriverRows) {
      val index = spark.sparkContext.broadcast(
        LocalMatcher.index(wdSparqlRows, lineageRows))
      taxa.select(col("TaxonId").as("taxonId"), col("TaxonName").as("taxonName"),
          col("TaxonPathName").as("path"), col("TaxonRankName").as("ranks"),
          col("rowIdx"))
        .as[LocalMatcher.TaxaRow]
        .map(t => index.value.matchOne(t))
        .toDF("TaxonId", "TaxonName", "Mapped_Value", "Mapped_ID_WD",
          "Match_Status", "rowIdx")
    } else {
      import org.apache.spark.sql.types.{StructField, StructType, StringType}
      def rowsDf(rows: Seq[Seq[String]], cols: Seq[String]): DataFrame =
        spark.createDataFrame(
          java.util.Arrays.asList(rows.map(org.apache.spark.sql.Row.fromSeq): _*),
          StructType(cols.map(StructField(_, StringType, true))))
      // the distributed passes read the taxa once, through unpackRanks'
      // persisted table, so they are not persisted here
      matchDistributed(taxa.select(col("TaxonId"), col("TaxonName"),
          col("TaxonPathName"), col("TaxonRankName"), col("rowIdx")),
        rowsDf(wdSparqlRows, Seq("WdID", "eol", "gbif", "ncbi", "ott", "itis",
          "irmng", "col", "nbn", "worms", "bold", "plazi", "apni", "msw3",
          "iNat", "eppo", "WdName")),
        rowsDf(lineageRows, Seq("WdID", "WdName", "kingdom", "phylum", "class",
          "order", "family", "genus", "species")))
    }
  }

  /** Fully distributed matcher: records → matched-taxa table
    * (matcher.py:432-478). The independently implemented reference the
    * specs hold the broadcast arm of [[matchStacked]] against.
    */
  def matchTaxa(records: DataFrame, wdSparql: DataFrame,
      lineage: DataFrame): DataFrame =
    matchDistributed(stackTaxa(records), wdSparql, lineage)

  /** The distributed passes over a distinct-taxa table. The
    * rank-unpacked table and the matcher output are dimension-sized and
    * persisted: the branch joins (initialMatch, secondaryMatch's fix/keep
    * split) reference the taxa several times, and the O(k²) exists-filter
    * of the rank unpack must run once. The output is materialized here,
    * so every intermediate is released before returning.
    */
  private def matchDistributed(stacked: DataFrame, wdSparql: DataFrame,
      lineage: DataFrame): DataFrame = {
    val taxa = unpackRanks(stacked)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val (idMap, idMapWd) = idMaps(prepWdSparql(wdSparql))
    val out = secondaryMatch(initialMatch(taxa, idMap, idMapWd), lineagePrep(lineage))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    out.count() // materialize once
    // folded into `out` now — release them so a caller loop (incremental
    // maintenance runs the matcher per micro-batch) does not accumulate
    // storage blocks. A cache-evicted recompute of `out` rebuilds them.
    taxa.unpersist(); idMap.unpersist(); idMapWd.unpersist()
    out
  }
}
