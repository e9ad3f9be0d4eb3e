package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines, Spark-first:
  *
  *  - exact: hash-groupBy on an md5 fingerprint (one shuffle, map-side
  *    partial agg).
  *  - MinHash + LSH: token shingles → k md5-min signatures → banded
  *    bucket join → candidate pairs → exact Jaccard verify. The banding
  *    turns the O(n²) pair space into per-bucket joins; at 100 TB the
  *    bucket join shuffles only (band_key, doc_id) pairs, never text.
  *  - SimHash: 60-bit sign-aggregated md5 token hash, computed with a
  *    single higher-order `aggregate` over the token array (no
  *    explode/shuffle).
  *  - n-gram Jaccard: token-set overlap via a relational
  *    explode/join/count plan — fully expressible in ANSI SQL so an
  *    external oracle can verify it.
  *
  * All hash choices are engine-portable (md5 hex).
  */
object Dedup {

  /** The engine-portable 60-bit hash: first 15 hex chars of md5 as a
    * signed long. DuckDB reproduces it exactly as
    * `('0x' || substr(md5(x), 1, 15))::BIGINT` — every use (token
    * hashing, shingle hashing, SimHash bits) MUST go through this one
    * definition so Spark/oracle parity cannot drift per call site.
    */
  def hash60(c: Column): Column =
    conv(substring(md5(c), 1, 15), 16, 10).cast("long")

  /** Exact dedup: keep the lowest doc id per normalized-text fingerprint. */
  def exact(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs
      .withColumn("fp", TextOps.fingerprint(col(textCol)))
      .groupBy(col("fp"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_dups"))

  /** Word n-gram shingles from a MATERIALIZED token-array column (the
    * classic MinHash unit: shingles capture local word order, so
    * reordered boilerplate stops colliding). Empty array when the doc
    * has fewer than n tokens.
    *
    * Takes the token ARRAY, not the raw text: referencing a tokenizer
    * expression inside the transform lambda would make Catalyst
    * re-evaluate the regex tokenization per element (quadratic in doc
    * length) — project the tokens to a named column first so codegen
    * computes them once per row.
    */
  def shinglesOf(toks: Column, n: Int): Column =
    when(size(toks) >= n,
      transform(sequence(lit(1), size(toks) - (n - 1)),
        i => concat_ws(" ", (0 until n).map(k => element_at(toks, i + k)): _*)))
      .otherwise(array())

  /** Distinct tokens per doc, hashed to 60-bit md5-prefix longs IN THE
    * SCAN STAGE (same construction as the shingle path and
    * simhashPortable): every downstream shuffle — the distinct, the
    * signature groupBy, the verify arrays — carries 8-byte longs
    * instead of raw token strings. Engine-portable, so the DuckDB
    * oracle reproduces the exact hashes.
    */
  def docTokensHashed(docs: DataFrame, idCol: String, textCol: String,
                      minTokenLen: Int = 1): DataFrame =
    docs
      .select(col(idCol).as("id"),
        explode(TextOps.tokens(TextOps.normalizeText(col(textCol)))).as("tok"))
      .filter(length(col("tok")) >= minTokenLen)
      .select(col("id"), hash60(col("tok")).as("token"))
      .distinct()

  /** MinHash signature columns: sig_i = min over tokens of
    * md5(i || ":" || token). Lexicographic min over hex strings is a
    * uniform min-hash and is bit-identical across engines.
    */
  def minhashSignatures(tokens: DataFrame, k: Int): DataFrame = {
    val aggs = (0 until k).map(i =>
      min(md5(concat(lit(s"$i:"), col("token")))).as(s"sig_$i"))
    tokens.groupBy(col("id")).agg(aggs.head, aggs.tail: _*)
  }

  /** Per-doc sorted distinct-token ARRAYS computed entirely in the scan
    * stage — the zero-shuffle twin of docTokensHashed→tokenArrays: the
    * explode → distinct → groupBy(id) chain shuffled the corpus token
    * fan-out twice to reach this same (id, toks, n_tok) shape;
    * array_distinct + sort_array inside the row projection reach it with
    * zero exchanges (set-of-hashes == hashes-of-token-set, so the arrays
    * are value-identical). Docs with no qualifying tokens produce no row,
    * matching the exploded form. `hashed=false` keeps raw token strings
    * (the string-token form, for the string-Jaccard oracles).
    */
  def docTokenArraysHashed(docs: DataFrame, idCol: String, textCol: String,
      minTokenLen: Int = 1, hashed: Boolean = true): DataFrame = {
    val toks = TextOps.tokens(TextOps.normalizeText(col(textCol)))
    val kept =
      if (minTokenLen <= 1) toks
      else filter(toks, t => length(t) >= minTokenLen)
    // native array hash, NOT transform(kept, t => hash60(t)): the
    // higher-order function is CodegenFallback, so the md5+conv lambda
    // would run interpreted per element — 10× the codegen cost
    val arr =
      if (hashed) graft.functions.Hash60Array(docs.sparkSession, kept)
      else kept
    // the row-drop predicate is spelled over the RAW token array, not
    // the hashed/sorted result (same emptiness: hashing and dedup
    // preserve non-emptiness): a filter over the derived column would
    // be pushed below the projection and re-evaluate the whole
    // hash+distinct+sort chain once in the filter and again in the
    // project — the guide-§4.4 duplicated-expensive-expression trap,
    // measured at 3× the stage cost on the shingle variant
    docs
      .filter(size(kept) > 0)
      .select(col(idCol).as("id"),
        sort_array(array_distinct(arr)).as("toks"))
      .withColumn("n_tok", size(col("toks")).cast("long"))
  }

  /** MinHash signatures from a per-doc token ARRAY column — the
    * shuffle-free twin of [[minhashSignatures]] (array_min over md5
    * strings == the min() aggregate over the exploded rows, same binary
    * string ordering, so signature values are bit-identical). Runs in
    * the same codegen stage as the array construction: corpus → banded
    * postings without a single exchange.
    */
  def minhashSignaturesFromArrays(arrays: DataFrame, k: Int): DataFrame =
    arrays.select(col("id") +: (0 until k).map(i =>
      array_min(transform(col("toks"),
        t => md5(concat(lit(s"$i:"), t)))).as(s"sig_$i")): _*)

  /** LSH band keys: split k signatures into bands of `rowsPerBand`,
    * hash each band; docs sharing any band key become candidates.
    */
  def lshBands(sigs: DataFrame, k: Int, rowsPerBand: Int): DataFrame = {
    val bands = (0 until k / rowsPerBand).map { b =>
      val cols = (b * rowsPerBand until (b + 1) * rowsPerBand)
        .map(i => col(s"sig_$i"))
      struct(lit(b).as("band"), md5(concat(cols: _*)).as("bkey"))
    }
    sigs
      .select(col("id"), explode(array(bands: _*)).as("bb"))
      .select(col("id"), col("bb.band").as("band"), col("bb.bkey").as("bkey"))
  }

  /** Candidate near-dup pairs from LSH buckets (a < b, distinct).
    *
    * maxBucket > 0 caps the per-bucket membership BEFORE the self-join:
    * a hot band key (boilerplate text, near-empty docs) would otherwise
    * go quadratic — one 10^5-member bucket is 10^10 pairs. Buckets over
    * the cap are dropped whole and accounted for in `lshDroppedBuckets`;
    * a doc dropped from one band can still pair through its other
    * bands, and genuinely-boilerplate clusters are better handled by
    * exact dedup upstream. maxBucket <= 0 = uncapped.
    */
  def lshCandidates(bands: DataFrame, maxBucket: Int = 0): DataFrame = {
    val kept =
      if (maxBucket <= 0) bands
      else {
        val sizes = bands.groupBy(col("band"), col("bkey"))
          .agg(count(lit(1)).as("_bsz"))
          .filter(col("_bsz") <= maxBucket)
        bands.join(sizes, Seq("band", "bkey")).drop("_bsz")
      }
    val l = kept.as("l"); val r = kept.as("r")
    l.join(r, col("l.band") === col("r.band") && col("l.bkey") === col("r.bkey") &&
        col("l.id") < col("r.id"))
      .select(col("l.id").as("id_a"), col("r.id").as("id_b"))
      .distinct()
  }

  /** Buckets exceeding maxBucket (the ones lshCandidates drops), with
    * sizes — the drop-accounting side output.
    */
  def lshDroppedBuckets(bands: DataFrame, maxBucket: Int): DataFrame =
    bands.groupBy(col("band"), col("bkey"))
      .agg(count(lit(1)).as("bucket_size"))
      .filter(col("bucket_size") > maxBucket)

  /** Per-doc sorted distinct-token arrays + counts: the compact verify-
    * side representation (one row per doc, not one per token).
    */
  def tokenArrays(tokens: DataFrame): DataFrame =
    tokens.groupBy(col("id"))
      .agg(sort_array(collect_list(col("token"))).as("toks"),
        count(lit(1)).as("n_tok"))

  /** Exact token-set Jaccard for a pair table: |A∩B| / |A∪B|.
    *
    * Pair×array formulation: two hash joins bring each doc's sorted
    * token array to the pair row, `array_intersect` computes |A∩B| in
    * the projection — the shuffle carries one row per PAIR, not one per
    * (pair, token): at 100 TB that is the difference between shuffling
    * candidate pairs and shuffling the corpus token fan-out.
    */
  def jaccardVerify(pairs: DataFrame, tokens: DataFrame): DataFrame =
    jaccardVerifyArrays(pairs, tokenArrays(tokens))

  /** The verify arm against a PRECOMPUTED (id, toks, n_tok) array table
    * — the single implementation of the exactness-critical Jaccard
    * formula (jaccardVerify derives its arrays; the incremental path
    * persists them as state and must not rescan the corpus).
    */
  def jaccardVerifyArrays(pairs: DataFrame, arrs: DataFrame): DataFrame =
    pairs
      .join(arrs.select(col("id").as("id_a"), col("toks").as("_ta"),
        col("n_tok").as("n_a")), Seq("id_a"))
      .join(arrs.select(col("id").as("id_b"), col("toks").as("_tb"),
        col("n_tok").as("n_b")), Seq("id_b"))
      .withColumn("n_common", size(array_intersect(col("_ta"), col("_tb"))).cast("long"))
      .withColumn("jaccard",
        col("n_common").cast("double") /
          (col("n_a") + col("n_b") - col("n_common")).cast("double"))
      .drop("_ta", "_tb")

  /** Full MinHash-LSH near-dup pipeline: docs → near-dup pairs with
    * verified Jaccard ≥ threshold. maxBucket caps LSH bucket size (see
    * lshCandidates); dropped buckets are logged. Tokens are hashed to
    * longs at the scan (docTokensHashed) — set-Jaccard over hashed
    * tokens equals set-Jaccard over tokens up to 60-bit md5 collisions,
    * and no shuffle carries strings.
    */
  def minhashLsh(docs: DataFrame, idCol: String, textCol: String,
                 k: Int = 8, rowsPerBand: Int = 2,
                 threshold: Double = 0.5, minTokenLen: Int = 1,
                 maxBucket: Int = 1000): DataFrame = {
    // arrays + signatures + banding all live in the scan stage
    // (docTokenArraysHashed / minhashSignaturesFromArrays): the only
    // corpus-scale exchanges left are the fundamental ones — the bucket
    // self-join and the verify joins on the pair ids
    val arrays = docTokenArraysHashed(docs, idCol, textCol, minTokenLen)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val sigs = minhashSignaturesFromArrays(arrays, k)
    // eager checkpoint (the IncrementalDedup newPostings convention):
    // bucket sizing + both sides of the bucket self-join reference the
    // banded postings — un-materialized, the interpreted array_min(md5)
    // signature chain would re-evaluate once per branch
    val bands = lshBands(sigs, k, rowsPerBand).localCheckpoint(true)
    val cands = lshCandidates(bands, maxBucket)
    jaccardVerifyArrays(cands, arrays)
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** Engine-portable SimHash: 60-bit signature from the token multiset,
    * token hash = first 15 hex chars of md5 (fits a signed long, and any
    * SQL engine can reproduce it — the DuckDB oracle hash-verifies
    * it). One md5 per token: the hash array is materialized FIRST
    * (transform), then the bit-count aggregate runs over longs — no
    * per-bit hash recomputation.
    */
  def simhashPortable(text: Column): Column = {
    val toks = TextOps.tokens(TextOps.normalizeText(text))
    val hs = transform(toks, tok => hash60(tok))
    val counts = aggregate(
      hs,
      array_repeat(lit(0), 60),
      (acc, h) =>
        transform(acc, (c, i) =>
          c + when(call_function("shiftright", h, i).bitwiseAND(1) === 1, 1)
            .otherwise(0)))
    val nTok = size(toks)
    aggregate(
      sequence(lit(0), lit(59)),
      lit(0L),
      (acc, i) =>
        acc.bitwiseOR(
          when(element_at(counts, i + 1) * 2 > nTok,
            call_function("shiftleft", lit(1L), i)).otherwise(lit(0L))))
  }
}
