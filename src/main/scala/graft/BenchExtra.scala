package graft
import org.apache.spark.sql.SparkSession

/** Phase-level attribution for the two aggregate bench lines
  * (materialize_tables, incremental_state_build) — guide §1: measure
  * first, at sub-phase granularity, so optimization effort lands where
  * the seconds are. Same session configuration as [[Bench]]; each phase
  * is labeled via setJobDescription so a UI/event-log inspection can map
  * jobs back to phases. Bench itself is frozen; this main exists so the
  * per-phase numbers cited in OPTIMIZATION_r06.md are reproducible.
  */
object BenchExtra {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val shm = new java.io.File("/dev/shm")
    val localDir = if (shm.isDirectory && shm.canWrite)
      "/dev/shm/graft-spark" else System.getProperty("java.io.tmpdir")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.local.dir", localDir)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // per-phase job accounting: jobs and summed job wall-time per
    // setJobDescription label, so a slow phase is attributable to "many
    // tiny jobs" (scheduling overhead) vs "one big job" (real compute)
    val jobCount = new java.util.concurrent.ConcurrentHashMap[String, Long]()
    val jobTime = new java.util.concurrent.ConcurrentHashMap[String, Long]()
    val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, (String, Long)]()
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
          val d = Option(js.properties)
            .flatMap(p => Option(p.getProperty("spark.job.description")))
            .getOrElse("?")
          jobStart.put(js.jobId, (d, js.time))
        }
        override def onJobEnd(
            je: org.apache.spark.scheduler.SparkListenerJobEnd): Unit = {
          Option(jobStart.remove(je.jobId)).foreach { case (d, t0) =>
            jobCount.merge(d, 1L, _ + _)
            jobTime.merge(d, je.time - t0, _ + _)
          }
        }
      })
    def phase(name: String)(f: => Any): Unit = {
      spark.sparkContext.setJobDescription(name)
      val t0 = System.nanoTime()
      try { f; () } catch {
        case e: Throwable =>
          println(f"[extra] $name FAILED: ${e.getMessage}")
      }
      println(f"[extra] $name: ${(System.nanoTime() - t0) / 1e9}%.2f s")
      spark.sparkContext.setJobDescription(null)
    }
    phase("warmup_q1")(SparkEntry.queries("q1_agg")(spark, sfDir).count())
    // --- materialize_tables, in Bench order, memo-incremental ---
    phase("recordsAndMatched")(queries.Materialized.recordsAndMatched(spark, sfDir))
    phase("globiTable")(queries.Materialized.globiTable(spark, sfDir))
    phase("trydbTable")(queries.Materialized.trydbTable(spark, sfDir))
    phase("verifiedLshPairs")(queries.PipelineQueries.verifiedLshPairs(spark, sfDir))
    phase("lshComponents")(queries.PipelineQueries.lshComponents(spark, sfDir))
    phase("mergedDocsTable")(queries.PipelineQueries.mergedDocsTable(spark, sfDir))
    phase("statsDocsTable")(queries.PipelineQueries.statsDocsTable(spark, sfDir))
    phase("zorderOrdersTable")(queries.PipelineQueries.zorderOrdersTable(spark, sfDir))
    phase("deletedDocsTable")(queries.PipelineQueries.deletedDocsTable(spark, sfDir))
    phase("partitionedDocsTable")(queries.PipelineQueries.partitionedDocsTable(spark, sfDir))
    phase("bloomDocsTable")(queries.PipelineQueries.bloomDocsTable(spark, sfDir))
    phase("scd2DimTable")(queries.PipelineQueries.scd2DimTable(spark, sfDir))
    phase("wapDocsTable")(queries.PipelineQueries.wapDocsTable(spark, sfDir))
    phase("organismEdges")(queries.CaseStudyQueries.organismEdges(spark, sfDir))
    phase("organismTriangles")(queries.CaseStudyQueries.organismTriangles(spark, sfDir))
    phase("taxonomyEdges")(queries.CaseStudyQueries.taxonomyEdges(spark, sfDir))
    // --- incremental_state_build ---
    phase("incLshState")(queries.PipelineQueries.incLshState(spark, sfDir))
    phase("incCosState")(queries.PipelineQueries.incCosState(spark, sfDir))
    // --- kg_pipeline_triples_dist breakdown (per-query cost, unmemoized) ---
    locally {
      import org.apache.spark.sql.functions.col
      val (records, _) = queries.Materialized.recordsAndMatched(spark, sfDir)
      var matched: org.apache.spark.sql.DataFrame = null
      phase("dist_match") {
        matched = kg.Link.matchTaxaAdaptive(records, kg.DataGen.wdSparqlRows,
          kg.DataGen.lineageRows, maxDriverRows = 0L)
      }
      var dicts: (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) = null
      phase("dist_dicts") {
        dicts = kg.Materialize.wdMapDicts(matched)
        dicts._1.count(); dicts._2.count()
      }
      phase("dist_resolve_emit") {
        val mm = kg.Extract.mediaMentions(records, kg.DataGen.mediaMeta(spark))
        kg.Materialize.globiTriplesFused(records, dicts._1, dicts._2, Some(mm),
          maxDriverRows = 0L).count()
      }
    }
    println("[extra] per-phase job stats (n_jobs, job_secs):")
    import scala.jdk.CollectionConverters._
    jobCount.asScala.toSeq.sortBy(-_._2).foreach { case (d, c) =>
      println(f"[extra-jobs] $c%4d jobs ${jobTime.getOrDefault(d, 0L) / 1e3}%8.2f s  $d")
    }
    spark.stop()
  }
}
