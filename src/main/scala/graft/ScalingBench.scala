package graft

import java.nio.file.Files

/** Two-parallelism-level scaling benchmark (BASELINE.md protocol —
  * sandbox substitute for N vs 4N executors; tools/scaling.sh runs each
  * level in its own JVM and writes BENCH.md):
  *
  * 1. `prep` writes the deterministic corpus once, as a docs snapshot
  *    table at the session's parallelism;
  * 2. `level` runs the shipped full build, [[kg.Pipeline.runFromTable]],
  *    over that table at one core count: a warm-up build of a small
  *    corpus, then two timed builds, each into a fresh output root in a
  *    temp dir that is deleted afterwards;
  * 3. the level prints one JSON line with the faster build's end-to-end
  *    docs/sec and triples/sec, its graph table write seconds
  *    (`graph_s`) and its per-stage seconds.
  *
  * Usage: runMain graft.ScalingBench prep <nDocs> <dir>
  *        runMain graft.ScalingBench level <cores> <nDocs> <dir>
  */
object ScalingBench {

  case class Level(cores: Int, wallSec: Double, triples: Long,
      docsPerSec: Double, triplesPerSec: Double, graphSec: Double,
      stageSec: Seq[(String, Double)])

  def runLevel(cores: Int, nDocs: Long, docsDir: String): Level = {
    val spark = Session(s"graft-scaling-$cores", Some(cores))
    val tmp = Files.createTempDirectory("graft-scaling").toString
    def build(docs: String, root: String): (Double, kg.Pipeline.RunReport) = {
      val t0 = System.nanoTime()
      val report = kg.Pipeline.runFromTable(spark, docs, s"$tmp/$root",
        s"$tmp/$root/50_graph")._1
      ((System.nanoTime() - t0) / 1e9, report)
    }
    try {
      // JIT/codegen warmup outside the timed window (same code path,
      // tiny input) — measures steady-state throughput, not JVM warmup
      sources.SnapshotTable.write(kg.DataGen.corpus(spark, 2000).toDF(), s"$tmp/warmup-docs")
      build(s"$tmp/warmup-docs", "warmup")
      // best of two trials: the sandbox host is noisy; min is the least
      // contended estimate of the job's true cost
      val (wall, report) = Seq("trial1", "trial2").map(build(docsDir, _)).minBy(_._1)
      // the cores the session got: spark-submit's or MASTER's master
      // wins over the requested level
      Level(spark.sparkContext.defaultParallelism, wall, report.triples,
        nDocs / wall, report.triples / wall, report.graphSeconds,
        report.stages.map(s => s.name -> s.seconds))
    } finally {
      val p = new org.apache.hadoop.fs.Path(tmp)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
      spark.stop()
    }
  }

  def line(l: Level): String =
    s"""{"cores":${l.cores},"wall_sec":${f"${l.wallSec}%.2f"},"triples":${l.triples},""" +
      s""""docs_per_sec":${f"${l.docsPerSec}%.0f"},"triples_per_sec":${f"${l.triplesPerSec}%.0f"},""" +
      f""""graph_s":${l.graphSec}%.2f,""" +
      l.stageSec.map { case (n, s) => f""""$n":$s%.2f""" }
        .mkString(""""stage_sec":{""", ",", "}}")

  def main(args: Array[String]): Unit = args.toSeq match {
    case Seq("prep", nDocs, dir) =>
      val spark = Session("graft-scaling-prep")
      try sources.SnapshotTable.write(kg.DataGen.corpus(spark, nDocs.toLong).toDF(), dir): Unit
      finally spark.stop()
    case Seq("level", cores, nDocs, dir) =>
      println(line(runLevel(cores.toInt, nDocs.toLong, dir)))
    case _ =>
      System.err.println(
        "usage: ScalingBench prep <nDocs> <dir> | level <cores> <nDocs> <dir>")
      sys.exit(2)
  }
}
