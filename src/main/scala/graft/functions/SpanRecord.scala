package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native span-walk for [[graft.kg.Extract.records]]: one pass over a
  * document's span array producing the full record struct (every field
  * value + the ordered media_ref array). It is NOT compiled: the
  * expression is `CodegenFallback`, so each row runs the interpreted
  * `eval` below, which whole-stage codegen calls as a black box.
  *
  * Why: the higher-order formulation
  * (`filter` → `transform` → `map_from_entries` → 23 × `element_at`)
  * is CodegenFallback per ELEMENT — every span runs interpreted
  * lambdas and every field lookup linearly scans the map. This kernel
  * reproduces those semantics exactly in one `eval` per row:
  *  - key = text before the FIRST ": " (whole text when absent —
  *    `substring_index(t, ": ", 1)`), value = text from char
  *    len(key)+3 on (1-based `substr`, "" when the text has no ": ");
  *  - unknown keys are dropped, missing fields are "" (the
  *    `coalesce(element_at(kv, f), "")` rule);
  *  - media spans surface as the ordered media_ref array (null spans
  *    array ⇒ null mediaRefs, the `transform(filter(...))` null rule);
  *  - null span entries / null kinds / null texts are skipped (the
  *    filter-lambda null rule).
  * The legacy formulation stays in ExtractSpec as the executable
  * specification (SpanRecordSpec pins kernel == legacy row-by-row).
  *
  * Within-document duplicate field keys follow last-wins map-insert
  * order; the datagen corpus contract guarantees unique keys per doc
  * (the legacy `map_from_entries` THROWS on duplicates, so no gated
  * input can distinguish the two).
  */
case class SpanRecord(child: Expression, fields: Seq[String])
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = StructType(
    fields.map(f => StructField(f, StringType, nullable = false)) :+
      StructField("mediaRefs", ArrayType(StringType, containsNull = true),
        nullable = true))

  // the struct itself is always produced — a null spans array yields
  // all-"" fields and a null mediaRefs, exactly like the legacy chain
  override def nullable: Boolean = false

  @transient private lazy val fieldIdx: Map[String, Int] =
    fields.zipWithIndex.toMap
  @transient private lazy val kindText = UTF8String.fromString("text")
  @transient private lazy val kindMedia = UTF8String.fromString("media")

  override def eval(input: InternalRow): Any = {
    val vals = new Array[Any](fields.length + 1)
    var i = 0
    while (i < fields.length) { vals(i) = UTF8String.EMPTY_UTF8; i += 1 }
    val spansAny = child.eval(input)
    if (spansAny == null) {
      vals(fields.length) = null
      return new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(vals)
    }
    val arr = spansAny.asInstanceOf[ArrayData]
    val media = scala.collection.mutable.ArrayBuffer.empty[Any]
    val n = arr.numElements()
    var j = 0
    while (j < n) {
      if (!arr.isNullAt(j)) {
        val span = arr.getStruct(j, 4)
        val kind = if (span.isNullAt(0)) null else span.getUTF8String(0)
        if (kind != null) {
          if (kind.equals(kindText)) {
            if (!span.isNullAt(1)) {
              val s = span.getUTF8String(1).toString
              val cut = s.indexOf(": ")
              val key = if (cut >= 0) s.substring(0, cut) else s
              fieldIdx.get(key) match {
                case Some(fi) =>
                  vals(fi) = UTF8String.fromString(
                    if (cut >= 0) s.substring(cut + 2) else "")
                case None => ()
              }
            }
          } else if (kind.equals(kindMedia)) {
            media += (if (span.isNullAt(2)) null else span.getUTF8String(2))
          }
        }
      }
      j += 1
    }
    vals(fields.length) = new GenericArrayData(media.toArray)
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(vals)
  }

  override protected def withNewChildInternal(c: Expression): SpanRecord =
    copy(child = c)
  override def prettyName: String = "span_record"
}

object SpanRecord {
  import org.apache.spark.sql.GraftColumnBridge.{column, expression}
  def apply(spans: Column, fields: Seq[String]): Column =
    column(SpanRecord(expression(spans), fields))
}
