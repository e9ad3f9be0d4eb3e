package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Scratch sub-phase probe for round-6 attribution (guide §1): splits
  * the globiTable / trydbTable / verifiedLshPairs builds into their
  * component jobs so optimization effort lands where the seconds are.
  * Not part of the bench contract — numbers are cited in
  * OPTIMIZATION_r06.md only.
  */
object Probe6 {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val shm = new java.io.File("/dev/shm")
    val localDir = if (shm.isDirectory && shm.canWrite)
      "/dev/shm/graft-spark" else System.getProperty("java.io.tmpdir")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.local.dir", localDir)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    def phase(name: String)(f: => Any): Unit = {
      spark.sparkContext.setJobDescription(name)
      val t0 = System.nanoTime()
      try { f; () } catch {
        case e: Throwable => println(s"[p6] $name FAILED: ${e.getMessage}")
      }
      println(f"[p6] $name: ${(System.nanoTime() - t0) / 1e9}%.2f s")
      spark.sparkContext.setJobDescription(null)
    }
    phase("warmup")(graft.SparkEntry.queries("q1_agg")(spark, sfDir).count())

    val n = graft.queries.KgQueries.nDocsFor(sfDir)
    // --- recordsAndMatched sub-phases ---
    var docs: org.apache.spark.sql.DataFrame = null
    phase("datagen_count") {
      docs = graft.kg.DataGen.corpus(spark, n, 32).toDF()
      docs.write.format("noop").mode("overwrite").save()
    }
    var records: org.apache.spark.sql.DataFrame = null
    phase("extract_records_persist") {
      records = graft.kg.Extract.records(docs)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      records.count()
    }
    var matched: org.apache.spark.sql.DataFrame = null
    phase("match_compact") {
      matched = graft.kg.Link.matchTaxaAdaptive(records,
        graft.kg.DataGen.wdSparqlRows, graft.kg.DataGen.lineageRows)
    }
    phase("matched_side_write") {
      matched.select(col("TaxonId"), col("TaxonName"), col("Mapped_Value"),
          col("Mapped_ID_WD"), col("Match_Status"), col("rowIdx"))
        .withColumn("n_docs", lit(n))
        .coalesce(1)
        .write.mode("overwrite").parquet("/tmp/p6/matched")
    }
    // --- globiTable sub-phases ---
    var dicts: (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) = null
    phase("wdMapDicts") {
      dicts = graft.kg.Materialize.wdMapDicts(matched)
      dicts._1.count(); dicts._2.count()
    }
    var mm: org.apache.spark.sql.DataFrame = null
    phase("mediaMentions_noop") {
      mm = graft.kg.Extract.mediaMentions(records, graft.kg.DataGen.mediaMeta(spark))
      mm.write.format("noop").mode("overwrite").save()
    }
    var triples: org.apache.spark.sql.DataFrame = null
    phase("fused_emit_noop") {
      triples = graft.kg.Materialize
        .globiTriplesFused(records, dicts._1, dicts._2, Some(mm))
        .withColumn("n_docs", lit(n))
      triples.write.format("noop").mode("overwrite").save()
    }
    phase("fused_emit_write") {
      triples.write.mode("overwrite").parquet("/tmp/p6/globi_triples")
    }
    phase("bucketed_write") {
      spark.sql("DROP TABLE IF EXISTS p6_globi")
      graft.ops.Bucketing.writeBucketed(
        spark.read.parquet("/tmp/p6/globi_triples"), "p6_globi", "subj", 16)
    }
    // --- trydbTable sub-phases ---
    var tdData: org.apache.spark.sql.DataFrame = null
    phase("trydb_datagen_noop") {
      tdData = graft.kg.Trydb.trydbData(spark, n, 32)
      tdData.write.format("noop").mode("overwrite").save()
    }
    phase("trydb_run_noop") {
      graft.kg.Trydb.run(spark, tdData, graft.kg.Trydb.trydbLineage(spark), None)
        .write.format("noop").mode("overwrite").save()
    }
    // --- verifiedLshPairs sub-phases ---
    var arrays: org.apache.spark.sql.DataFrame = null
    phase("lsh_arrays_noop") {
      arrays = graft.ops.Dedup.docTokenArraysHashed(
        spark.read.parquet(s"$sfDir/documents.parquet"), "doc_id", "text", 1)
      arrays.write.format("noop").mode("overwrite").save()
    }
    phase("lsh_full_chain") {
      graft.ops.Dedup.minhashLsh(
          spark.read.parquet(s"$sfDir/documents.parquet"), "doc_id",
          "text", k = 4, rowsPerBand = 2, threshold = 0.8)
        .select(col("id_a"), col("id_b"))
        .write.format("noop").mode("overwrite").save()
    }
    spark.stop()
  }
}
