package graft

/** spark-submit entrypoint for the full KG construction pipeline
  * (north rule: "runs via spark-submit at N and 4N executors").
  *
  *   spark-submit --class graft.Main <jar> <nDocs> <outDir>
  *
  * On a cluster the session comes from spark-submit's config (master,
  * executors, memory); locally [[Session]] falls back to `MASTER` or
  * one worker thread per core. The generated corpus lands in the
  * snapshot table `<outDir>/docs` at the session's parallelism, and
  * [[kg.Pipeline.runFromTable]] builds it into the snapshot table
  * `<outDir>/50_graph`. The build is checkpoint-resumable: re-running
  * with the same outDir writes no new corpus snapshot and skips
  * completed stages (manifest fingerprint match) — kill it anywhere and
  * re-submit.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val nDocs = args.headOption.map(_.toLong).getOrElse(10000L)
    val outDir = args.drop(1).headOption.getOrElse("/tmp/graft-kg-out")
    val spark = Session("metrinkgspark")
    val report = kg.Pipeline.run(spark, nDocs, outDir)
    report.stages.foreach { s =>
      println(f"stage=${s.name}%-14s rows=${s.rows}%10d parts=${s.partitions}%4d " +
        f"sec=${s.seconds}%8.2f skipped=${s.skipped}")
    }
    println(s"triples=${report.triples} canonical=${report.canonicalTriples}")
    spark.stop()
  }
}
