package graft.kg

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import Model._

/** Stage 1 — triple-extraction front end: walk each document's ordered
  * span sequence and reassemble the verbatim record it encodes.
  *
  * Pure Catalyst: text spans ("field: value") become a map via
  * higher-order array functions (no explode → no shuffle, whole-stage
  * codegen keeps the walk inside the scan stage); media spans surface as
  * an ordered media_ref array resolved later against the media metadata
  * table. The record number is parsed from doc_id — a deterministic,
  * partition-order-independent record key (replaces the reference's
  * positional inRec{n}, globi_kg_generator.py:213-217; SURVEY §2.5 W4).
  */
object Extract {

  /** docs(doc_id, spans) → one row per document with all record fields.
    *
    * The span walk runs through the native [[graft.functions.SpanRecord]]
    * kernel: ONE compiled pass per document instead of per-element
    * interpreted higher-order lambdas plus a linear map scan per field
    * (`filter`/`transform`/`map_from_entries` are CodegenFallback).
    * `CollapseProject` keeps the struct build and its field expansion in
    * separate projections (the kernel is non-cheap and referenced 24×),
    * so the walk executes once per row. SpanRecordSpec pins the kernel
    * against the higher-order-function walk it replaced.
    */
  def records(docs: DataFrame): DataFrame = {
    val base = docs.select(
      col("doc_id"),
      regexp_extract(col("doc_id"), "DOC-(\\d+)", 1).cast("long").as("recNum"),
      graft.functions.SpanRecord(col("spans"), DataGen.fieldOrder).as("_r"))
    val fields = DataGen.fieldOrder.map(f => col(s"_r.$f").as(f))
    base.select((col("doc_id") +: col("recNum") +: fields)
      :+ col("_r.mediaRefs").as("mediaRefs"): _*)
  }

  /** Typed view of the span walk. */
  def recordsDs(docs: Dataset[Document]): Dataset[VerbatimRecord] = {
    import docs.sparkSession.implicits._
    records(docs.toDF()).as[VerbatimRecord]
  }

  /** Per-row span invariant (BASELINE input_hint): re-render the
    * extracted record and compare (kind, text, media_ref, order) against
    * the original spans. Returns rows that VIOLATE the invariant (empty
    * ⇒ pass). Offsets are recomputed by the renderer, so this checks the
    * full sequence equality the north rule asks for.
    */
  def spanInvariantViolations(docs: Dataset[Document]): DataFrame = {
    import docs.sparkSession.implicits._
    val re = recordsDs(docs).map(r => (r.doc_id,
      DataGen.renderSpans(r).map(s => (s.kind, s.text, s.media_ref))))
      .toDF("doc_id", "re_spans")
    val orig = docs.map(d => (d.doc_id,
      d.spans.map(s => (s.kind, s.text, s.media_ref))))
      .toDF("doc_id", "orig_spans")
    orig.join(re, Seq("doc_id"), "full")
      .filter(not(col("re_spans") <=> col("orig_spans")))
  }

  /** Media-span resolution: ordered media mentions joined against the
    * media metadata table (broadcast — it is a small dimension).
    */
  def mediaMentions(records: DataFrame, mediaMeta: DataFrame): DataFrame =
    records
      .select(col("doc_id"), col("recNum"), explode(col("mediaRefs")).as("media_ref"))
      .join(broadcast(mediaMeta), Seq("media_ref"), "left")
}
