package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for large-scale training-data pipelines:
  * language ID (marker-word heuristic), quality scoring, token counting,
  * and document fingerprinting.
  *
  * Everything is pure Catalyst (codegen'd, no UDFs) so filters/projections
  * push down to the parquet scan and the whole stage fuses into one
  * WholeStageCodegen span. Fingerprints use md5 (bit-identical across
  * engines) so they double as exact-dedup keys verifiable by any SQL
  * oracle.
  */
object TextOps {

  /** Whitespace-robust token count: number of \S+ runs. */
  def tokenCount(text: Column): Column =
    size(regexp_extract_all(text, lit("\\S+"), lit(0)))

  /** Tokens as an array (whitespace split, empties dropped). */
  def tokens(text: Column): Column =
    regexp_extract_all(text, lit("\\S+"), lit(0))

  /** Canonical text normalization: lowercase, trim, collapse whitespace. */
  def normalizeText(text: Column): Column =
    regexp_replace(lower(trim(text)), "\\s+", " ")

  /** Deterministic document fingerprint: md5 of the normalized text.
    * Stable across engines and partitionings — usable as the exact-dedup
    * key and as the partition-independent record id the KG layer needs
    * (replaces the reference's order-dependent inRec{n} ids,
    * globi_kg_generator.py:213-217).
    */
  def fingerprint(text: Column): Column = md5(normalizeText(text))

  /** A BPE-ish subword count: alphanumeric runs plus digit runs plus
    * punctuation, approximating tokenizer token counts without a model.
    */
  def subwordCount(text: Column): Column =
    size(regexp_extract_all(text, lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"), lit(0)))

  /** Overlapping token-window CHUNKING — the RAG/embedding-pipeline
    * splitter: each document explodes into windows of `size` tokens
    * starting every `stride` tokens (stride < size ⇒ overlap), the
    * tail window shorter. Pure scan-stage work (tokenize + sequence +
    * explode + slice; the only cost is the bounded ≤ size/stride-factor
    * fan-out), no shuffle: at 10^12 docs chunking is embarrassingly
    * parallel and this keeps it that way. Chunks are identified by
    * `(id, start_tok)` and carry an engine-portable 60-bit content
    * fingerprint, so chunk-level dedup/decontamination plug into the
    * same machinery as documents. Empty documents produce no chunks.
    */
  def chunkTokens(df: DataFrame, idCol: String, textCol: String,
      chunkSize: Int = 64, stride: Int = 48): DataFrame = {
    require(chunkSize > 0 && stride > 0, "chunkSize and stride must be positive")
    df.select(col(idCol), tokens(normalizeText(col(textCol))).as("ts"))
      .withColumn("n", size(col("ts")))
      .filter(col("n") > 0)
      .withColumn("start_tok",
        explode(sequence(lit(1), col("n"), lit(stride))))
      .withColumn("chunk", slice(col("ts"), col("start_tok"), lit(chunkSize)))
      .select(col(idCol), col("start_tok").cast("long").as("start_tok"),
        size(col("chunk")).cast("long").as("n_tokens"),
        Dedup.hash60(array_join(col("chunk"), " ")).as("chunk_fp"))
  }

  /** Quality features, all integer-exact (safe to compare across engines):
    * n_chars, n_tokens, n_punct, n_stopwords, plus boolean quality gate.
    */
  def qualityFeatures(df: DataFrame, text: Column): DataFrame = {
    val stop = "(?i)\\b(the|a|an|and|or|of|to|in|is|it)\\b"
    df.withColumn("n_chars", length(text))
      .withColumn("n_tokens", tokenCount(text))
      .withColumn("n_punct", size(regexp_extract_all(text, lit("[\\p{Punct}]"), lit(0))))
      .withColumn("n_stop", size(regexp_extract_all(text, lit(stop), lit(0))))
      .withColumn(
        "quality_ok",
        col("n_tokens") >= 5 && col("n_chars") >= 20 &&
          col("n_punct") * 5 <= col("n_tokens") * 2 + 10
      )
  }

  /** Language-ID marker words. Scores are plain occurrence counts of
    * language-specific stopwords; the argmax (ties → priority order
    * en > es > fr > de > zh) is the predicted language. A deterministic
    * n-gram-free heuristic: cheap, shuffle-free, exactly reproducible.
    */
  val langMarkers: Seq[(String, String)] = Seq(
    "en" -> "(?i)\\b(the|and|of|is|was|with)\\b",
    "es" -> "(?i)\\b(el|la|los|las|es|y)\\b",
    "fr" -> "(?i)\\b(le|la|les|est|et|une)\\b",
    "de" -> "(?i)\\b(der|die|das|und|ist|ein)\\b",
    "zh" -> "[\\u4e00-\\u9fff]"
  )

  def langScores(text: Column): Seq[(String, Column)] =
    langMarkers.map { case (lang, pat) =>
      lang -> size(regexp_extract_all(text, lit(pat), lit(0)))
    }

  /** Predicted language: argmax of marker scores with fixed priority on
    * ties; "und" when every score is zero.
    */
  def langId(text: Column): Column = {
    val scores = langScores(text)
    val best = scores.tail.foldLeft((scores.head._2, lit(scores.head._1))) {
      case ((bestScore, bestLang), (lang, score)) =>
        (when(score > bestScore, score).otherwise(bestScore),
         when(score > bestScore, lit(lang)).otherwise(bestLang))
    }
    when(best._1 > 0, best._2).otherwise(lit("und"))
  }

  /** Repetition-quality features (the Gopher-style filter family):
    * per doc, total / distinct token counts, the count of the most
    * frequent token, and the count of the most frequent word bigram —
    * all integer-exact, so the quality gate compares identically in
    * any engine. High `m_uni`/`n_uni` or `m_bi`/`n_bi` marks
    * boilerplate and degenerate repetition. Two doc-keyed aggregations
    * left-joined back onto the doc base (so zero-token docs still get
    * a row — vacuously rep_ok): everything shuffles on doc_id only,
    * token strings never leave their aggregation's map side beyond the
    * (doc, gram) combine.
    */
  def repetitionFeatures(docs: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    val toks = docs.select(col(idCol).as("doc_id"),
      tokens(normalizeText(col(textCol))).as("_ts"))
    def gramStats(grams: DataFrame, tag: String): DataFrame =
      grams
        .groupBy(col("doc_id"), col("g")).agg(count(lit(1)).as("c"))
        .groupBy(col("doc_id"))
        .agg(sum(col("c")).as(s"n_$tag"), count(lit(1)).as(s"d_$tag"),
          max(col("c")).as(s"m_$tag"))
    val uni = gramStats(toks.select(col("doc_id"), explode(col("_ts")).as("g")), "uni")
    val bi = gramStats(
      toks.select(col("doc_id"), explode(Dedup.shinglesOf(col("_ts"), 2)).as("g")),
      "bi")
    toks.select(col("doc_id"))
      .join(uni, Seq("doc_id"), "left")
      .join(bi, Seq("doc_id"), "left")
      .na.fill(0L, Seq("n_uni", "d_uni", "m_uni", "n_bi", "d_bi", "m_bi"))
      .withColumn("rep_ok",
        col("m_uni") * 5 <= col("n_uni") + 5 &&
          col("m_bi") * 8 <= col("n_bi") + 8)
  }

  /** PII redaction patterns — deliberately written without `\d`/`\b`
    * (class shorthands and word-boundary semantics are where Java
    * regex and RE2 drift); `[.]` instead of an escaped dot keeps the
    * pattern string byte-identical in Scala and SQL. A production
    * deployment extends the list (SSNs, IBANs, addresses) through the
    * same replace chain.
    */
  val EmailPattern = "[a-z0-9]+@[a-z0-9]+[.][a-z]+"
  val PhonePattern = "[0-9]{3}-[0-9]{3}-[0-9]{4}"

  /** Count PII occurrences (codegen'd regexp_count — the audit side). */
  def piiCounts(text: Column): Seq[(String, Column)] = Seq(
    "n_emails" -> regexp_count(text, lit(EmailPattern)).cast("long"),
    "n_phones" -> regexp_count(text, lit(PhonePattern)).cast("long"))

  /** Redact PII in place: replace-all per pattern, order fixed (emails
    * before phones) so the output bytes are deterministic.
    */
  def scrubPii(text: Column): Column =
    regexp_replace(
      regexp_replace(text, EmailPattern, "<EMAIL>"),
      PhonePattern, "<PHONE>")
}
