package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{AnalysisException, Row}
import org.apache.spark.sql.types._
import graft.queries.{KgQueries, RelationalQueries}
import graft.sources.Inputs
import graft.tools.Profile

/** The query-input reader: Spark's inferred schema from the driver
  * footer, with no planning job.
  */
class InputsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  // the sf0.001 fixture the plan specs read
  private val sf = new PlanSpec().dir

  private def tables: Seq[String] =
    new java.io.File(sf).list().toSeq.filter(_.endsWith(".parquet")).sorted

  /** Writes a part-file directory with NOT NULL, timestamp and nested
    * columns (three part files) under `root` with Spark.
    */
  private def sparkWrittenDir(root: String): String = {
    val schema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("ts", TimestampType),
      StructField("ntz", TimestampNTZType, nullable = false),
      StructField("day", DateType),
      StructField("amount", DecimalType(18, 2), nullable = false),
      StructField("blob", BinaryType),
      StructField("nested", StructType(Seq(
        StructField("a", IntegerType, nullable = false),
        StructField("tags", ArrayType(StringType, containsNull = false), nullable = false))),
        nullable = false),
      StructField("props", MapType(StringType,
        StructType(Seq(StructField("v", DoubleType, nullable = false))),
        valueContainsNull = false))))
    val rows = (0 until 9).map { i =>
      Row(i.toLong, new java.sql.Timestamp(1600000000000L + i * 1000L),
        java.time.LocalDateTime.of(2024, 1, 1 + i, 12, 0),
        java.sql.Date.valueOf(s"2024-02-0${1 + i}"), new java.math.BigDecimal(s"$i.25"),
        Array[Byte](i.toByte), Row(i, Seq(s"t$i", "x")), Map(s"k$i" -> Row(i * 0.5)))
    }
    val dir = s"$root/table.parquet"
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema).repartition(3)
      .write.parquet(dir)
    dir
  }

  test("the footer schema is Spark's inferred schema for every fixture table and a Spark-written dir") {
    assert(tables.size >= 10, tables)
    tables.foreach { t =>
      assert(Inputs.parquet(spark, sf, t.stripSuffix(".parquet")).schema ==
        spark.read.parquet(s"$sf/$t").schema, t)
    }
    TestSpark.withTempDir("graft-inputs") { root =>
      val dir = sparkWrittenDir(root)
      val inferred = spark.read.parquet(dir)
      val read = Inputs.parquet(spark, root, "table")
      assert(read.schema == inferred.schema)
      // NOT NULL columns come back nullable, as inference returns them
      assert(read.schema("id").nullable && read.schema("nested").nullable)
      assert(read.orderBy("id").collect().toSeq == inferred.orderBy("id").collect().toSeq)
    }
  }

  test("a read through the reader schedules no job before its action") {
    val (_, reads) = Profile.recordJobs(spark)(tables.foreach { t =>
      Inputs.parquet(spark, sf, t.stripSuffix(".parquet"))
    })
    assert(reads.isEmpty, reads.mkString("\n"))
    // building the plans of the mention queries takes no job, and no
    // relational query's plan runs a schema-inference job (named by the
    // `parquet at` of the read) any more
    val (_, plans) = Profile.recordJobs(spark) {
      Seq("kg_mentions", "kg_triples", "kg_metrics_counts")
        .foreach(q => KgQueries.queries(q)(spark, sf))
    }
    assert(plans.isEmpty, plans.mkString("\n"))
    val (_, relational) = Profile.recordJobs(spark) {
      RelationalQueries.queries.values.foreach(_(spark, sf))
    }
    assert(!relational.exists(_.site.startsWith("parquet at")), relational.mkString("\n"))
  }

  test("a missing path fails as spark.read.parquet does, naming the path") {
    TestSpark.withTempDir("graft-inputs") { dir =>
      val missing = s"$dir/absent.parquet"
      val ours = intercept[AnalysisException](Inputs.parquet(spark, dir, "absent"))
      val theirs = intercept[AnalysisException](spark.read.parquet(missing))
      assert(ours.getMessage.contains(missing), ours.getMessage)
      assert(ours.getCondition == theirs.getCondition && ours.getMessage == theirs.getMessage)
      // an empty directory too: there is no footer to read
      val empty = s"$dir/empty.parquet"
      new java.io.File(empty).mkdir()
      val e1 = intercept[AnalysisException](Inputs.parquet(spark, dir, "empty"))
      val e2 = intercept[AnalysisException](spark.read.parquet(empty))
      assert(e1.getCondition == e2.getCondition && e1.getMessage == e2.getMessage)
    }
  }
}
