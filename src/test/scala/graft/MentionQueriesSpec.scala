package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.queries.KgQueries
import graft.tools.Profile

/** The mention queries' earlier formulations — the vocabulary as a
  * broadcast join, the distinct behind `repartition(1)`, the input read
  * with schema inference — kept as the oracle of the one-job forms.
  */
object MentionQueriesOracle {
  private def mentions(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val d = s.read.parquet(s"$dir/documents.parquet")
    val v = KgQueries.vocab.toDF("term", "qid")
    d.select(col("doc_id"),
        explode(array_distinct(split(col("text"), "\\s+"))).as("term"))
      .join(broadcast(v), Seq("term"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "kg_mentions" -> ((s: SparkSession, dir: String) =>
      mentions(s, dir).select(col("doc_id"), col("term"), col("qid"))
        .orderBy(col("doc_id"), col("term"))),
    "kg_triples" -> ((s: SparkSession, dir: String) => {
      val docUri = concat(lit("doc:"), col("doc_id"))
      val entUri = concat(lit("wd:"), col("qid"))
      def triple(subj: Column, pred: String, obj: Column) =
        struct(subj.as("subj"), lit(pred).as("pred"), obj.as("obj"))
      mentions(s, dir).select(explode(array(
          triple(docUri, "emi:mentions", entUri),
          triple(entUri, "rdf:type", lit("emi:Entity")),
          triple(entUri, "emi:mentionedIn", docUri))).as("t"))
        .select(col("t.subj"), col("t.pred"), col("t.obj"))
        .repartition(1)
        .distinct()
        .orderBy(col("subj"), col("pred"), col("obj"))
    }),
    "kg_metrics_counts" -> ((s: SparkSession, dir: String) =>
      mentions(s, dir).agg(
        count(lit(1)).as("n_mentions"),
        countDistinct(col("doc_id")).as("n_docs"),
        countDistinct(col("qid")).as("n_entities"))))
}

class MentionQueriesSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  // the sf0.001 fixture the plan specs read
  private val sf = new PlanSpec().dir
  private val names = Seq("kg_mentions", "kg_triples", "kg_metrics_counts")

  private def assertOracle(dir: String): Unit = names.foreach { q =>
    val got = KgQueries.queries(q)(spark, dir)
    val want = MentionQueriesOracle.queries(q)(spark, dir)
    assert(got.schema.map(f => (f.name, f.dataType)) == want.schema.map(f => (f.name, f.dataType)), q)
    val (g, w) = (got.collect().toSeq, want.collect().toSeq)
    assert(g.nonEmpty, q)
    assert(g == w, q)
  }

  test("each mention query schedules exactly one Spark job") {
    names.foreach { q =>
      val (_, jobs) = Profile.recordJobs(spark)(KgQueries.queries(q)(spark, sf).collect())
      assert(jobs.size == 1, s"$q:\n${jobs.mkString("\n")}")
    }
  }

  test("the mention queries equal their earlier formulations row for row at sf0.001") {
    assertOracle(sf)
  }

  test("the mention queries equal their earlier formulations on duplicate ids, repeated terms, empty and null text") {
    import spark.implicits._
    TestSpark.withTempDir("graft-mentions") { dir =>
      Seq[(Long, String)](
        (1L, "spark table spark"), (1L, "spark query table"), (2L, ""), (3L, null),
        (4L, "window  merge\tstream window"), (2L, "table"), (5L, "sparks spark. TABLE table"),
        (6L, " spark"), (7L, "merge merge merge"), (3L, "stream"))
        .toDF("doc_id", "text").repartition(3)
        .write.parquet(s"$dir/documents.parquet")
      assertOracle(dir)
    }
  }
}
