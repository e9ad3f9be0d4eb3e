package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ExplainMode
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart,
  SparkListenerStageSubmitted}
import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentHashMap
import scala.jdk.CollectionConverters._
import graft.{Session, SparkEntry, Verify}
import graft.kg.{DataGen, Extract, Materialize}
import graft.queries.{CaseStudyQueries, Materialized, PipelineQueries}

/** Development profiler: one main for the plan audits and attribution
  * runs that do not belong on the shipped path.
  *
  *   plan <sfDir> <q1,q2,...>
  *       the EXECUTED (post-AQE) plan of each query, with its shuffle,
  *       broadcast and join counts
  *   plan <sfDir> <outDir> <suffix> <q1,q2,...>
  *       `explain("formatted")` of each query to <outDir>/<q>_<suffix>.txt
  *       (the plans/ before/after evidence)
  *   sample <sfDir>
  *       a sampling profile of the fused GloBI emission: every RUNNABLE
  *       executor task thread's stack every 10 ms over three runs,
  *       tallied by the first graft/catalyst/regex/String frame; the
  *       share of task-thread samples that were parked or waiting is
  *       reported on its own line
  *   phases <sfDir>
  *       wall time, job count, task count and summed job time of each
  *       shared-table build (in Bench order, memo-incremental) and of the
  *       incremental state builds, labelled through the job description;
  *       tasks far above jobs × cores read as over-partitioning
  *
  * Usage: runMain graft.tools.Profile <mode> <args...>
  */
object Profile {

  def main(args: Array[String]): Unit = {
    val mode: SparkSession => Unit = args.toList match {
      case "plan" :: sfDir :: names :: Nil =>
        planSummary(_, sfDir, Verify.queryNames(names))
      case "plan" :: sfDir :: outDir :: suffix :: names :: Nil =>
        planDump(_, sfDir, outDir, suffix, Verify.queryNames(names))
      case "sample" :: sfDir :: Nil => sample(_, sfDir)
      case "phases" :: sfDir :: Nil => phases(_, sfDir)
      case _ =>
        System.err.println("usage: Profile plan <sfDir> [<outDir> <suffix>] <q1,q2,...>" +
          " | sample <sfDir> | phases <sfDir>")
        sys.exit(2)
    }
    val spark = Session("graft-profile")
    try mode(spark) finally spark.stop()
  }

  private def planSummary(spark: SparkSession, sfDir: String, names: Seq[String]): Unit =
    names.foreach { q =>
      val df = SparkEntry.queries(q)(spark, sfDir)
      // finalize AQE so the printed plan is the real one: execute THIS
      // DataFrame's own QueryExecution (a noop write would run a
      // separate QueryExecution, leaving df's executedPlan pre-AQE —
      // AdaptiveSparkPlan isFinalPlan=false — and the exchange/join
      // counts would lie). toRdd.foreach discards rows executor-side,
      // so a row-per-event query never materializes on the driver.
      df.queryExecution.toRdd.foreach(_ => ())
      val lines = df.queryExecution.executedPlan.toString.linesIterator.toSeq
      println(s"==== $q ====")
      println(s"  shuffle exchanges: " +
        lines.count(l => l.contains("Exchange hashpartitioning") ||
          l.contains("Exchange rangepartitioning")))
      println(s"  broadcast exchanges: " + lines.count(_.contains("BroadcastExchange")))
      println(s"  joins: " + lines.count(_.contains("Join")))
      lines.filter(l => l.contains("Exchange") || l.contains("Join"))
        .foreach(l => println("  | " + l.trim.take(120)))
    }

  private def planDump(spark: SparkSession, sfDir: String, outDir: String, suffix: String,
      names: Seq[String]): Unit = {
    Files.createDirectories(Paths.get(outDir))
    names.foreach { q =>
      val txt = SparkEntry.queries(q)(spark, sfDir).queryExecution
        .explainString(ExplainMode.fromString("formatted"))
      Files.writeString(Paths.get(outDir, s"${q}_$suffix.txt"), txt)
      println(s"[profile] wrote $outDir/${q}_$suffix.txt")
    }
  }

  private def sample(spark: SparkSession, sfDir: String): Unit = {
    val (records, matched) = Materialized.recordsAndMatched(spark, sfDir)
    val (dictId, dictName) = Materialize.wdMapDicts(matched)
    val mm = Extract.mediaMentions(records, DataGen.mediaMeta(spark))
    // local mode: executor tasks are threads of this JVM
    val tally = new ConcurrentHashMap[String, Long]()
    val idle = new java.util.concurrent.atomic.AtomicLong()
    @volatile var sampling = true
    // one ThreadInfo holds a thread's state and stack from the same
    // safepoint; Thread.getState read beside getAllStackTraces can pair
    // a parked stack with RUNNABLE
    val threads = java.lang.management.ManagementFactory.getThreadMXBean
    val sampler = new Thread(() => {
      while (sampling) {
        threads.dumpAllThreads(false, false).foreach { ti =>
          val st = ti.getStackTrace
          if (ti.getThreadName.startsWith("Executor task launch") && st.nonEmpty) {
            // a parked or waiting task thread is not computing
            if (ti.getThreadState != Thread.State.RUNNABLE) idle.incrementAndGet()
            else {
              val f = st.find { f =>
                val c = f.getClassName
                c.startsWith("graft.") || c.contains("catalyst") ||
                  c.startsWith("java.util.regex") || c.startsWith("java.lang.String")
              }.getOrElse(st.head)
              tally.merge(f.getClassName + "." + f.getMethodName, 1L, _ + _)
            }
          }
        }
        Thread.sleep(10)
      }
    }, "profile-sampler")
    val t0 = System.nanoTime()
    sampler.start()
    try (1 to 3).foreach { _ =>
      Materialize.globiTriplesFused(records, dictId, dictName, Some(mm))
        .write.format("noop").mode("overwrite").save()
    } finally { sampling = false; sampler.join() }
    println(f"[profile] 3x fused emission: ${(System.nanoTime() - t0) / 1e9}%.2f s")
    val total = tally.values().asScala.map(_.toLong).sum.toDouble
    val waiting = idle.get()
    println(f"[profile] parked or waiting: ${waiting * 100.0 / (waiting + total)}%.1f%% " +
      f"of ${waiting + total.toLong} task-thread samples; RUNNABLE ones below")
    tally.asScala.toSeq.sortBy(-_._2).take(25).foreach { case (k, v) =>
      println(f"[profile] ${v / total * 100}%5.1f%% $v%6d  $k")
    }
  }

  private def phases(spark: SparkSession, sfDir: String): Unit = {
    // jobs, tasks and summed job wall time per job description, so a slow
    // phase reads as "many tiny jobs" or "many tiny tasks" (scheduling)
    // or "one big job" (compute)
    val jobCount = new ConcurrentHashMap[String, Long]()
    val taskCount = new ConcurrentHashMap[String, Long]()
    val jobTime = new ConcurrentHashMap[String, Long]()
    val jobStart = new ConcurrentHashMap[Int, (String, Long)]()
    def description(p: java.util.Properties): String =
      Option(p).flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse("?")
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        jobStart.put(js.jobId, (description(js.properties), js.time))
      // a submitted stage runs all its tasks; a skipped one is never
      // submitted, so it adds none
      override def onStageSubmitted(ss: SparkListenerStageSubmitted): Unit =
        taskCount.merge(description(ss.properties), ss.stageInfo.numTasks.toLong, _ + _)
      override def onJobEnd(je: SparkListenerJobEnd): Unit =
        Option(jobStart.remove(je.jobId)).foreach { case (d, t0) =>
          jobCount.merge(d, 1L, _ + _)
          jobTime.merge(d, je.time - t0, _ + _)
        }
    })
    def q(name: String): () => Any = () => SparkEntry.queries(name)(spark, sfDir).count()
    def p(f: (SparkSession, String) => Any): () => Any = () => f(spark, sfDir)
    Seq[(String, () => Any)](
      "warmup_q1" -> q("q1_agg"),
      // materialize_tables
      "recordsAndMatched" -> p(Materialized.recordsAndMatched),
      "globiTable" -> p(Materialized.globiTable),
      "trydbTable" -> p(Materialized.trydbTable),
      "verifiedLshPairs" -> p(PipelineQueries.verifiedLshPairs),
      "lshComponents" -> p(PipelineQueries.lshComponents),
      "mergedDocsTable" -> p(PipelineQueries.mergedDocsTable),
      "statsDocsTable" -> p(PipelineQueries.statsDocsTable),
      "zorderOrdersTable" -> p(PipelineQueries.zorderOrdersTable),
      "deletedDocsTable" -> p(PipelineQueries.deletedDocsTable),
      "partitionedDocsTable" -> p(PipelineQueries.partitionedDocsTable),
      "bloomDocsTable" -> p(PipelineQueries.bloomDocsTable),
      "scd2DimTable" -> p(PipelineQueries.scd2DimTable),
      "wapDocsTable" -> p(PipelineQueries.wapDocsTable),
      "organismEdges" -> p(CaseStudyQueries.organismEdges),
      "organismGraph" -> p(CaseStudyQueries.organismGraph(_, _)),
      "taxonomyEdges" -> p(CaseStudyQueries.taxonomyEdges),
      "taxonomyGraph" -> p(CaseStudyQueries.taxonomyGraph(_, _)),
      // incremental_state_build
      "incLshState" -> p(PipelineQueries.incLshState),
      "incCosState" -> p(PipelineQueries.incCosState),
      // the forced-distributed construction chain, unmemoized
      "kg_pipeline_triples_dist" -> q("kg_pipeline_triples_dist")
    ).foreach { case (name, f) =>
      spark.sparkContext.setJobDescription(name)
      val t0 = System.nanoTime()
      try f() catch {
        case e: Throwable => println(s"[profile] $name FAILED: ${e.getMessage}")
      }
      println(f"[profile] $name: ${(System.nanoTime() - t0) / 1e9}%.2f s")
      spark.sparkContext.setJobDescription(null)
    }
    println("[profile] per-phase job stats (n_jobs, n_tasks, job_secs):")
    jobCount.asScala.toSeq.sortBy(-_._2).foreach { case (d, c) =>
      println(f"[profile] $c%4d jobs ${taskCount.getOrDefault(d, 0L)}%6d tasks " +
        f"${jobTime.getOrDefault(d, 0L) / 1e3}%8.2f s  $d")
    }
  }
}
