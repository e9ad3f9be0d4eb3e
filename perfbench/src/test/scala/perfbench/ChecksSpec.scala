package perfbench

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** The output checks' hashes must not depend on row order or
  * partitioning, and must see a changed, missing or duplicated row.
  */
class ChecksSpec extends AnyFunSuite {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder().master("local[2]").appName("ChecksSpec")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", "3").getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private def triples(rows: Seq[(String, String, String, Boolean, String)]) = {
    import spark.implicits._
    rows.toDF(Checks.TripleCols: _*)
  }

  private val rows = (0 until 50).map(i =>
    (s"s$i", s"p${i % 4}", s"o$i", i % 3 == 0, if (i % 3 == 0) "xsd:string" else ""))

  test("tableHash ignores row order and partitioning") {
    val a = Checks.tableHash(triples(rows).coalesce(1))
    val b = Checks.tableHash(triples(scala.util.Random.shuffle(rows)).repartition(7))
    assert(a == b)
  }

  test("tableHash sees a changed, missing or duplicated row") {
    val base = Checks.tableHash(triples(rows))
    val changed = rows.updated(10, rows(10).copy(_3 = "other"))
    assert(Checks.tableHash(triples(changed)) != base)
    assert(Checks.tableHash(triples(rows.tail)) != base)
    assert(Checks.tableHash(triples(rows :+ rows.head)) != base)
  }

  test("tableHash of an empty table") {
    assert(Checks.tableHash(triples(Nil)) == "0:0")
  }

  test("rowsHash ignores row order") {
    val df = triples(rows)
    val collected = df.collect()
    assert(Checks.rowsHash(collected) == Checks.rowsHash(collected.reverse))
    assert(Checks.rowsHash(collected) != Checks.rowsHash(collected.tail))
  }

  test("job groups map back to span ids") {
    assert(Trace.spanOfGroup(Trace.groupOf(42)) == 42)
    assert(Trace.spanOfGroup(null) == 0)
    assert(Trace.spanOfGroup("someone-else") == 0)
  }
}
