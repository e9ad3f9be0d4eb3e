package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Poor-man's sampling profiler for the fused GloBI emission: runs the
  * emission with a driver thread sampling ALL JVM stacks every 10 ms
  * (local mode — executor tasks are in-process) and tallies the top
  * frames seen in Executor task threads. Round-6 attribution only.
  */
object ProbeEmit {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val n = graft.queries.KgQueries.nDocsFor(sfDir)
    val docs = graft.kg.DataGen.corpus(spark, n, 32).toDF()
    val records = graft.kg.Extract.records(docs)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    records.count()
    val matched = graft.kg.Link.matchTaxaAdaptive(records,
      graft.kg.DataGen.wdSparqlRows, graft.kg.DataGen.lineageRows)
    val dicts = graft.kg.Materialize.wdMapDicts(matched)
    val mm = graft.kg.Extract.mediaMentions(records, graft.kg.DataGen.mediaMeta(spark))

    val tally = new java.util.concurrent.ConcurrentHashMap[String, Long]()
    @volatile var sampling = true
    val sampler = new Thread(() => {
      while (sampling) {
        val stacks = Thread.getAllStackTraces()
        stacks.forEach { (t, st) =>
          if (t.getName.startsWith("Executor task launch") && st.nonEmpty) {
            // topmost frame in graft/ or the first interesting frame
            val interesting = st.find { f =>
              val c = f.getClassName
              c.startsWith("graft.") || c.contains("catalyst") ||
                c.startsWith("java.util.regex") || c.startsWith("java.lang.String")
            }.getOrElse(st.head)
            val key = interesting.getClassName + "." + interesting.getMethodName
            tally.merge(key, 1L, _ + _)
          }
        }
        Thread.sleep(10)
      }
    })
    sampler.setDaemon(true)
    // time the emission 3x for a stable number, sampling throughout
    val t0 = System.nanoTime()
    sampler.start()
    (1 to 3).foreach { _ =>
      graft.kg.Materialize
        .globiTriplesFused(records, dicts._1, dicts._2, Some(mm))
        .write.format("noop").mode("overwrite").save()
    }
    sampling = false
    println(f"[emit] 3x fused emission: ${(System.nanoTime() - t0) / 1e9}%.2f s")
    import scala.jdk.CollectionConverters._
    val total = tally.values().asScala.map(_.toLong).sum.toDouble
    tally.asScala.toSeq.sortBy(-_._2).take(25).foreach { case (k, v) =>
      println(f"[emit] ${v / total * 100}%5.1f%% $v%6d  $k")
    }
    spark.stop()
  }
}
