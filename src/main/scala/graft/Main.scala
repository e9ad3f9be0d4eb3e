package graft

/** spark-submit entrypoint for the full KG construction pipeline
  * (north rule: "runs via spark-submit at N and 4N executors").
  *
  *   spark-submit --class graft.Main <jar> <nDocs> <outDir> [partitions]
  *
  * On a cluster the session comes from spark-submit's config (master,
  * executors, memory); locally [[Session]] falls back to `MASTER` or
  * one worker thread per core. The pipeline is checkpoint-resumable:
  * re-running with the same outDir skips completed stages (manifest
  * fingerprint match) — kill it anywhere and re-submit.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val nDocs = args.headOption.map(_.toLong).getOrElse(10000L)
    val outDir = args.drop(1).headOption.getOrElse("/tmp/graft-kg-out")
    val partitions = args.drop(2).headOption.map(_.toInt).getOrElse(32)
    val spark = Session("metrinkgspark")
    val report = kg.Pipeline.run(spark, nDocs, outDir, partitions)
    report.stages.foreach { s =>
      println(f"stage=${s.name}%-14s rows=${s.rows}%10d parts=${s.partitions}%4d " +
        f"sec=${s.seconds}%8.2f skipped=${s.skipped}")
    }
    println(s"triples=${report.triples} canonical=${report.canonicalTriples}")
    spark.stop()
  }
}
