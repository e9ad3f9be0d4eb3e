package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.kg._
import graft.ops.Bucketing

/** Once-per-(session, scale) materialization of the pipeline's big
  * intermediates, shared by every kg_* driver query:
  *
  *  - records + distributed-matcher output (persisted) — so the
  *    triple/canonical/SPARQL queries stop re-running datagen+extract+
  *    link each (the round-1 bench spent ~34 s re-deriving them inside
  *    kg_pipeline_canonical alone);
  *  - the GloBI and TRY-db triple tables written BUCKETED BY subj
  *    (sorted, 16 buckets) so the SPARQL self-join workload is
  *    exchange-free on every same-subject pattern join;
  *  - side-channel parquet dumps under [[SideDir]] (n_docs-stamped) that
  *    the DuckDB oracles read, which is what lets the driver
  *    hash-verify the flagship outputs instead of taking rows-only.
  *
  * The side-channel contract: every dump carries an n_docs column equal
  * to this run's corpus size, and the oracle SQL selects the dump whose
  * n_docs matches the scale it is being evaluated at
  * (COUNT(orders)/3 — the datagen sizing contract), so stale dumps from
  * other scale factors can coexist in the directory.
  */
object Materialized {

  val SideDir = "/root/repo/target/verify_side"

  val EMI = Model.EMI
  val SOSA = Model.SOSA
  val RDF = Model.RDF
  val RDFS_LABEL = Model.RDFS_LABEL
  val RDF_TYPE = Model.RDF_TYPE

  private val memo = new java.util.concurrent.ConcurrentHashMap[String, AnyRef]()
  private val locks = new java.util.concurrent.ConcurrentHashMap[String, Object]()

  /** Memoize per (session, what, dir) WITHOUT computing inside a
    * ConcurrentHashMap mapping function: the builds nest (globiTable's
    * build calls recordsAndMatched's), and CHM.computeIfAbsent forbids
    * map mutation from inside the mapping lambda — when the two keys
    * hash to the same bin it throws "Recursive update". A per-key lock
    * object serializes duplicate builders (parallel test suites share
    * the session) while nested once() calls take DIFFERENT locks, so
    * there is no recursion into a locked map and no deadlock (the
    * nesting is acyclic: globiTable → recordsAndMatched only).
    */
  private[queries] def once[T <: AnyRef](spark: SparkSession, what: String, dir: String)(
      f: => T): T = {
    // applicationId, not identityHashCode: hash reuse after GC could
    // resurface a dead context's cached tables/DataFrames
    val key = s"${spark.sparkContext.applicationId}:$what:$dir"
    val cached = memo.get(key)
    if (cached != null) return cached.asInstanceOf[T]
    val lock = locks.computeIfAbsent(key, _ => new Object)
    lock.synchronized {
      val again = memo.get(key)
      if (again != null) again.asInstanceOf[T]
      else {
        val v = f
        memo.put(key, v)
        v
      }
    }
  }

  /** Launch the rest of the shared-build DAG in the background the
    * first time a harness-context build starts (guide §2.6): Bench and
    * Verify materialize the shared tables through four sequential
    * top-level calls, so the only way the TRY-db build or the fixture
    * pack can overlap the records→globi critical path is for the FIRST
    * build to start them. Gated on SPARK_GRAFT_SF_DIR == dir (the
    * external-harness data-directory contract) so unit tests building
    * one shared table do not drag the whole fixture set in. The
    * incremental-dedup STATE BUILDS are deliberately NOT prefetched:
    * Bench times them as their own line, and building them here would
    * smear that line's cost into materialize_tables. Failures are
    * swallowed — the memo stays empty and the harness's own sequential
    * call re-runs the build and reports the real error.
    */
  private val prefetched =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Boolean]()
  private[queries] def prefetchShared(spark: SparkSession, dir: String): Unit = {
    if (!sys.env.get("SPARK_GRAFT_SF_DIR").contains(dir)) return
    val key = s"${spark.sparkContext.applicationId}:$dir"
    if (prefetched.putIfAbsent(key, java.lang.Boolean.TRUE) != null) return
    Seq[(String, () => Unit)](
      "trydb" -> (() => { trydbTable(spark, dir); () }),
      "pipeline" -> (() => PipelineQueries.materializeShared(spark, dir)),
      "casestudy" -> (() => CaseStudyQueries.materializeShared(spark, dir))
    ).foreach { case (n, t) =>
      val th = new Thread(() => { try t() catch { case _: Throwable => () } },
        s"prefetch-$n")
      th.setDaemon(true)
      th.start()
    }
  }

  /** Physically clear a managed table's leftover warehouse directory
    * from a previous JVM (the in-memory catalog forgets the table, and
    * CTAS into a non-empty location throws).
    */
  private def dropTable(spark: SparkSession, table: String): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS $table")
    val wh = new java.net.URI(spark.conf.get("spark.sql.warehouse.dir"))
    val dir = new java.io.File(
      if (wh.getScheme == null) wh.toString else new java.io.File(wh).toString,
      table.toLowerCase)
    if (dir.exists()) {
      import java.nio.file.{Files, Paths}
      import scala.jdk.CollectionConverters._
      Files.walk(Paths.get(dir.toString)).iterator().asScala.toSeq.reverse
        .foreach(Files.deleteIfExists(_))
    }
  }

  /** Extracted records (persisted) + distributed matcher output for the
    * datagen corpus at this scale; the matched rows are dumped to the
    * side-channel for the kg_pipeline_triples / kg_pipeline_canonical
    * oracles.
    */
  def recordsAndMatched(spark: SparkSession, dir: String): (DataFrame, DataFrame) =
    once(spark, "recordsAndMatched", dir) {
      val n = KgQueries.nDocsFor(dir)
      val docs = DataGen.corpus(spark, n, 32).toDF()
      val records = Extract.records(docs).persist(StorageLevel.MEMORY_AND_DISK)
      // the guarded production path: driver-local dictionary refinement
      // while the distinct-taxa table is dimension-sized, distributed
      // matcher beyond (compact == distributed is pinned in
      // KgPipelineSpec)
      val matched = Link.matchTaxaAdaptive(records, DataGen.wdSparqlRows,
        DataGen.lineageRows)
      matched
        .select(col("TaxonId"), col("TaxonName"), col("Mapped_Value"),
          col("Mapped_ID_WD"), col("Match_Status"), col("rowIdx"))
        .withColumn("n_docs", lit(n))
        .coalesce(1)
        .write.mode("overwrite").parquet(s"$SideDir/matched_n$n")
      (records, matched)
    }

  /** GloBI triple table: fused emission over the memoized records +
    * matcher, dumped to the side-channel and saved as a subj-bucketed
    * sorted table. Returns the table name.
    */
  def globiTable(spark: SparkSession, dir: String): String =
    once(spark, "globiTable", dir) {
      prefetchShared(spark, dir)
      val n = KgQueries.nDocsFor(dir)
      val (records, matched) = recordsAndMatched(spark, dir)
      val (dictId, dictName) = Materialize.wdMapDicts(matched)
      val mm = Extract.mediaMentions(records, DataGen.mediaMeta(spark))
      val triples = Materialize
        .globiTriplesFused(records, dictId, dictName, Some(mm))
        .withColumn("n_docs", lit(n))
      triples.write.mode("overwrite").parquet(s"$SideDir/globi_triples_n$n")
      // Build the engine-side bucketed table FROM the re-read dump, not
      // from the shared persisted DF: if cached partitions were evicted
      // between the two writes, the second would silently recompute the
      // emission lineage — any future nondeterminism there would diverge
      // the engine table from the oracle's side-channel. Reading the
      // dump back makes the two sides bit-identical by construction.
      val tbl = s"graft_globi_triples_n$n"
      dropTable(spark, tbl)
      // partitioned by pred + bucketed by subj: every pred-filtered
      // pattern scan (the SPARQL/BGP/case-study workload) prunes to its
      // predicate's files, subject joins stay exchange-free
      Bucketing.writeBucketed(
        spark.read.parquet(s"$SideDir/globi_triples_n$n"), tbl, "subj", 16,
        partitionCols = Seq("pred"))
      tbl
    }

  /** TRY-db triple table, same treatment. */
  def trydbTable(spark: SparkSession, dir: String): String =
    once(spark, "trydbTable", dir) {
      val n = KgQueries.nDocsFor(dir)
      val triples = Trydb
        .run(spark, Trydb.trydbData(spark, n, 32), Trydb.trydbLineage(spark), None)
        .withColumn("n_docs", lit(n))
      triples.write.mode("overwrite").parquet(s"$SideDir/trydb_triples_n$n")
      // same dump-identity guarantee as globiTable: bucketed table is
      // built from the re-read side-channel parquet
      val tbl = s"graft_trydb_triples_n$n"
      dropTable(spark, tbl)
      // same pred-partitioned + subj-bucketed layout as globiTable
      Bucketing.writeBucketed(
        spark.read.parquet(s"$SideDir/trydb_triples_n$n"), tbl, "subj", 16,
        partitionCols = Seq("pred"))
      tbl
    }

  /** Distinct raw taxon rank-path strings ("Kingdom0|Phylum3|...") from
    * the memoized extracted records — the taxonomy dimension the
    * RDFS-style closure queries reason over (reference:
    * matcher.py:133-180 consumes these same pipe-joined lineage paths).
    * Dumped to the side channel (n_docs contract) so the DuckDB oracle
    * re-derives parent edges AND the recursive closure independently.
    * Dimension-sized at any corpus scale (distinct lineages, not
    * records), so the checkpoint + coalesce(1) dump are trivial.
    */
  def taxonPaths(spark: SparkSession, dir: String): DataFrame =
    once(spark, "taxonPaths", dir) {
      val n = KgQueries.nDocsFor(dir)
      val (records, _) = recordsAndMatched(spark, dir)
      val paths = records
        .select(explode(array(col("sourceTaxonPathNames"),
          col("targetTaxonPathNames"))).as("path"))
        .filter(col("path").isNotNull && col("path") =!= "")
        .distinct()
        .localCheckpoint(true)
      paths.withColumn("n_docs", lit(n)).coalesce(1)
        .write.mode("overwrite").parquet(s"$SideDir/taxon_paths_n$n")
      paths
    }
}
