package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.tools.Profile

/** The job accounting the job-count specs and `Profile` print. */
class ProfileSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("recordJobs names every job of a broadcast-join collect by the collect's call site") {
    import spark.implicits._
    val facts = spark.range(0, 20000, 1, 4).select((col("id") % 100).as("k"), col("id"))
    val dim = (0 until 100).map(i => (i.toLong, s"v${i % 7}")).toDF("k", "v")
    val joined = facts.join(broadcast(dim), "k").groupBy("v").count()
    // the collect and the line number on one line: the site names this line
    val ((rows, line), jobs) = Profile.recordJobs(spark)((joined.collect(), new Exception().getStackTrace.head.getLineNumber))
    assert(rows.length == 7)
    // the broadcast's job and the query's own (AQE submits stages as jobs)
    assert(jobs.size >= 2, jobs)
    assert(jobs.forall(_.site == s"collect at ProfileSpec.scala:$line"), jobs.mkString("\n"))
  }

  test("a guarded fetch's jobs take its label as their call site") {
    val df = spark.range(0, 1000, 1, 4).select((col("id") % 10).as("k")).distinct()
    val (rows, jobs) = Profile.recordJobs(spark)(graft.kg.Model.driverRows(df, 100, "memo x"))
    assert(rows.map(_.length).contains(10))
    assert(jobs.nonEmpty && jobs.forall(_.site == "guarded fetch memo x"), jobs.mkString("\n"))
    // the label is restored afterwards: a later action names its own line
    val (_, after) = Profile.recordJobs(spark)(df.collect())
    assert(after.forall(_.site.startsWith("collect at ProfileSpec.scala:")), after.mkString("\n"))
  }
}
