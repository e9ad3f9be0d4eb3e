package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.kg.{DataGen, Extract, Model}

/** The native SpanRecord span-walk kernel must reproduce the legacy
  * higher-order formulation (the executable specification) row by row —
  * on the real datagen corpus AND on hand-built edge-case spans.
  */
class SpanRecordSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def sortedRows(df: org.apache.spark.sql.DataFrame) =
    df.orderBy(col("doc_id")).collect().toSeq

  /** The original higher-order-function span walk: the executable
    * specification of Extract.records' semantics.
    */
  private def recordsLegacy(docs: org.apache.spark.sql.DataFrame) = {
    val textSpans = filter(col("spans"), s => s.getField("kind") === "text")
    val kv = map_from_entries(transform(textSpans, s => {
      val t = s.getField("text")
      val key = substring_index(t, ": ", 1)
      struct(key.as("key"), t.substr(length(key) + lit(3), length(t)).as("value"))
    }))
    val media = transform(
      filter(col("spans"), s => s.getField("kind") === "media"),
      s => s.getField("media_ref"))
    val base = docs.select(
      col("doc_id"),
      regexp_extract(col("doc_id"), "DOC-(\\d+)", 1).cast("long").as("recNum"),
      kv.as("kv"), media.as("mediaRefs"))
    val fields = DataGen.fieldOrder.map(f =>
      coalesce(element_at(col("kv"), f), lit("")).as(f))
    base.select((col("doc_id") +: col("recNum") +: fields) :+ col("mediaRefs"): _*)
  }

  test("kernel equals the legacy formulation on the datagen corpus") {
    val docs = DataGen.corpus(spark, 300, 4).toDF()
    val got = sortedRows(Extract.records(docs))
    val want = sortedRows(recordsLegacy(docs))
    assert(Extract.records(docs).schema == recordsLegacy(docs).schema)
    assert(got === want)
  }

  test("kernel equals legacy on edge-case spans") {
    // no ': ' separator; ': ' inside the value; unknown key; empty
    // value; media interleaved; text after media
    val f0 = DataGen.fieldOrder.head
    val f1 = DataGen.fieldOrder(1)
    val docs = Seq(
      Model.Document("DOC-000000001", Seq(
        Model.Span("text", s"$f0: has: colon value", null, 0),
        Model.Span("media", null, "MED-1", 1),
        Model.Span("text", "nosepahere", null, 2),
        Model.Span("text", s"$f1: ", null, 3),
        Model.Span("text", "unknownkey: dropped", null, 4),
        Model.Span("media", null, "MED-2", 5))),
      Model.Document("DOC-000000002", Seq.empty[Model.Span])
    ).toDS().toDF()
    val got = sortedRows(Extract.records(docs))
    val want = sortedRows(recordsLegacy(docs))
    assert(got === want)
    // spot-check the intent, not just self-consistency
    val r1 = got.head
    assert(r1.getAs[String](f0) == "has: colon value")
    assert(r1.getAs[String](f1) == "")
    assert(r1.getAs[scala.collection.Seq[String]]("mediaRefs").toSeq ==
      Seq("MED-1", "MED-2"))
  }
}
