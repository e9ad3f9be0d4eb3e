package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.ops.Bucketing

class BucketingSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("bucketed self-join on the bucket key plans no Exchange") {
    // merge hints pin SortMergeJoin without touching the shared
    // session's broadcast threshold (suites run in parallel)
    try {
      val triples = (0 until 5000)
        .map(i => (s"s${i % 500}", s"p${i % 7}", s"o$i"))
        .toDF("subj", "pred", "obj")
      Bucketing.writeBucketed(triples, "t_bucketed", "subj", 8)
      val bt = spark.table("t_bucketed").hint("merge")
      val joined = bt.as("a").join(bt.as("b"), "subj")
      joined.collect()
      val plan = joined.queryExecution.executedPlan.toString
        .split("== Initial Plan ==").head
      assert(!plan.contains("Exchange"), plan)
      // and the same join unbucketed DOES exchange
      val plain = triples.hint("merge").as("a")
        .join(triples.hint("merge").as("b"), "subj")
      plain.collect()
      assert(plain.queryExecution.executedPlan.toString.contains("Exchange"))
    } finally {
      spark.sql("DROP TABLE IF EXISTS t_bucketed")
    }
  }

  test("bucketCount follows Spark's file split rule") {
    val (maxSplit, openCost) = (128L << 20, 4L << 20)
    assert(Bucketing.bucketCount(0L, maxSplit, openCost, 4) == 1)
    assert(Bucketing.bucketCount(40L << 20, maxSplit, openCost, 4) == 4)
    assert(Bucketing.bucketCount(1L << 40, maxSplit, openCost, 4) == 8192)
    // the session's own split settings are Spark's defaults
    assert(Bucketing.bucketCount(spark, 0L) == 1)
    assert(Bucketing.bucketCount(spark, 1L << 40) == 8192)
    // the sf0.001 GloBI dump is one bucket's worth, and its table has one
    val dir = "/root/testdata/sf0.001"
    val tbl = graft.queries.Materialized.globiTable(spark, dir)
    val n = graft.queries.KgQueries.nDocsFor(dir)
    val bytes = Bucketing.inputBytes(
      spark.read.parquet(s"${graft.queries.Materialized.SideDir}/globi_triples_n$n"))
    assert(bytes > 0)
    assert(Bucketing.bucketCount(spark, bytes) == 1, bytes)
    val meta = spark.sessionState.catalog.getTableMetadata(
      org.apache.spark.sql.catalyst.TableIdentifier(tbl))
    assert(meta.bucketSpec.map(_.numBuckets).contains(1), meta.bucketSpec)
  }

  test("SPARQL star-pattern joins over the materialized triple table are exchange-free") {
    // the serving-workload plan gate: the ?intxn subject star from
    // metrics/query_globi_records.txt (3 pred-filtered self-joins on
    // subj) must reuse the write-time bucketing — no Exchange anywhere
    // in the star
    // the merge hint pins SortMergeJoin regardless of the session's
    // autoBroadcastJoinThreshold (suites run in parallel and share the
    // session, so a conf set/unset here races with other tests)
    try {
      val tbl = graft.queries.Materialized.globiTable(spark, "/root/testdata/sf0.001")
      val t = spark.table(tbl)
      def pat(pred: String, s: String, o: String) =
        t.filter(col("pred") === pred).select(col("subj").as(s), col("obj").as(o))
          .hint("merge")
      val EMI = graft.kg.Model.EMI
      val star = pat(EMI + "hasSource", "intxn", "source")
        .join(pat(EMI + "hasTarget", "intxn", "target"), Seq("intxn"))
        .join(pat(EMI + "isClassifiedWith", "intxn", "itype"), Seq("intxn"))
      assert(star.count() > 0)
      val plan = star.queryExecution.executedPlan.toString
        .split("== Initial Plan ==").head
      assert(!plan.contains("Exchange"), plan)
      // each pattern scan prunes to its predicate's directory and reads
      // the subj buckets
      val scans = star.queryExecution.sparkPlan.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec => f
      }
      assert(scans.size == 3, star.queryExecution.sparkPlan)
      scans.foreach { f =>
        assert(f.partitionFilters.exists(_.references.exists(_.name == "pred")), f)
        assert(f.bucketedScan, f)
      }
    } finally ()
  }
}
