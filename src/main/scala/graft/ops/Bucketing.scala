package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}

/** Bucketed co-located joins: pre-shuffle both sides once at write time
  * so every subsequent equi-join on the bucket key is exchange-free.
  *
  * The 100 TB use: the triple table bucketed by subj makes repeated
  * self-joins (the SPARQL-metrics workload — multiway subject joins)
  * shuffle-free, and the mention table bucketed by the link key joins
  * the dictionary partitions without moving the corpus. The bucket
  * count follows the data ([[bucketCount]]): a bucket is one scan task,
  * so a fixed count over-splits a small table and under-splits a
  * large one.
  */
object Bucketing {

  /** Buckets for `bytes` of input: one per split of Spark's own file
    * split size (`FilePartition.maxSplitBytes`'s rule), so a bucketed
    * scan plans as many tasks as an unbucketed scan of the same bytes;
    * capped at `spark.sql.sources.bucketing.maxBuckets`, the most a
    * bucketed write accepts.
    */
  def bucketCount(spark: SparkSession, bytes: Long): Int = {
    val conf = spark.sessionState.conf
    math.min(conf.bucketingMaxBuckets,
      bucketCount(bytes, conf.filesMaxPartitionBytes, conf.filesOpenCostInBytes,
        spark.sparkContext.defaultParallelism))
  }

  /** `max(1, ceil(bytes / per))` with
    * `per = min(maxPartitionBytes, max(openCostInBytes, bytes / parallelism))`.
    */
  def bucketCount(bytes: Long, maxPartitionBytes: Long, openCostInBytes: Long,
      parallelism: Int): Int = {
    val per = math.max(1L,
      math.min(maxPartitionBytes, math.max(openCostInBytes, bytes / parallelism)))
    math.max(1L, (bytes + per - 1) / per).toInt
  }

  /** The bytes of the files `df` reads, from its plan's file indexes
    * (no file-system call of its own, so any Hadoop scheme works).
    */
  def inputBytes(df: DataFrame): Long = df.queryExecution.analyzed.collect {
    case l: LogicalRelation => l.relation match {
      case h: HadoopFsRelation => h.location.sizeInBytes
      case _ => 0L
    }
  }.sum

  /** Write df as a bucketed (and sorted) managed table, optionally
    * hive-partitioned by `partitionCols` first (the triple-store
    * vertical-partitioning layout: partition by pred, bucket by subj —
    * a pred-filtered pattern scan then reads ONLY its predicate's
    * files via partition pruning while subj joins stay exchange-free
    * on the bucketing; BucketingSpec pins both on the GloBI table:
    * each scan of a star pattern is bucketed and carries a `pred`
    * partition filter, and the star plans no Exchange). The input
    * is re-clustered by (partitionCols, bucket-id) so each task holds
    * whole (partition, bucket) groups — without it every write task
    * would emit a file per partition×bucket it touches and the file
    * count would multiply by the task count.
    */
  def writeBucketed(df: DataFrame, table: String, key: String,
      buckets: Int, partitionCols: Seq[String] = Nil): Unit = {
    import org.apache.spark.sql.functions.{col, pmod, hash, lit}
    val clustered =
      if (partitionCols.isEmpty) df
      else df.repartition(
        (partitionCols.map(col) :+ pmod(hash(col(key)), lit(buckets))): _*)
    val w = clustered.write
    (if (partitionCols.isEmpty) w else w.partitionBy(partitionCols: _*))
      .bucketBy(buckets, key)
      .sortBy(key)
      .mode("overwrite")
      .format("parquet")
      .saveAsTable(table)
  }
}
