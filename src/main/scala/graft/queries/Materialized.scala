package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.kg._
import graft.ops.{Bucketing, Par}

/** Once-per-(session, scale) materialization of the pipeline's big
  * intermediates, shared by every kg_* driver query:
  *
  *  - records + matcher output (persisted; the broadcast vocabulary
  *    index while the vocabulary fits the row guard, the distributed
  *    matcher beyond) — so the triple/canonical/SPARQL queries stop
  *    re-running datagen+extract+link each (the round-1 bench spent ~34 s
  *    re-deriving them inside kg_pipeline_canonical alone);
  *  - the GloBI and TRY-db triple tables written BUCKETED BY subj
  *    (sorted; as many buckets as Spark's file split rule cuts the
  *    dump into, [[Bucketing.bucketCount]]) so the SPARQL self-join
  *    workload is exchange-free on every same-subject pattern join;
  *  - side-channel parquet dumps under [[SideDir]] (n_docs-stamped) that
  *    the DuckDB oracles read, which is what lets the driver
  *    hash-verify the flagship outputs instead of taking rows-only;
  *  - through [[once]], the memos [[CaseStudyQueries.materializeShared]]
  *    forces: the organism and taxonomy edge sets and, below the row
  *    guard, their driver graphs (`ops/LocalGraph`) and the GloBI
  *    table's driver triple index (`ops/LocalTriples`,
  *    [[CaseStudyQueries.globiTriples]]), which the graph, BGP and
  *    SPARQL queries read without a Spark job.
  *
  * The side-channel contract: every dump carries an n_docs column equal
  * to this run's corpus size, and the oracle SQL selects the dump whose
  * n_docs matches the scale it is being evaluated at
  * (COUNT(orders)/3 — the datagen sizing contract), so stale dumps from
  * other scale factors can coexist in the directory.
  */
object Materialized {

  /** Under the working directory, so each checkout writes its own dumps. */
  val SideDir: String = s"${sys.props("user.dir")}/target/verify_side"

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
    * nesting is acyclic: a build only calls the builds of its upstream
    * tables, e.g. globiTable → recordsAndMatched).
    */
  private[graft] def once[T <: AnyRef](spark: SparkSession, what: String, dir: String)(
      f: => T): T = {
    val key = memoKey(spark, what, dir)
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

  // applicationId, not identityHashCode: hash reuse after GC could
  // resurface a dead context's cached tables/DataFrames
  private def memoKey(spark: SparkSession, what: String, dir: String): String =
    s"${spark.sparkContext.applicationId}:$what:$dir"

  /** Whether [[once]] holds a built `what` for this session and dir. */
  private[graft] def isBuilt(spark: SparkSession, what: String, dir: String): Boolean =
    memo.containsKey(memoKey(spark, what, dir))

  /** Build every once-per-scale shared table: the GloBI and TRY-db
    * triple tables and both fixture packs, concurrently through
    * [[Par.run]], which joins every build and rethrows the first
    * failure. The builds that share an upstream (globi, the taxonomy
    * paths and the organism graph all need [[recordsAndMatched]]; the
    * organism graph and the driver triple index need [[globiTable]])
    * meet on [[once]]'s per-key
    * locks, so each upstream is built once and its dependants wait for
    * it. The incremental-dedup state builds are not part of this set:
    * Bench times them as their own line.
    */
  def buildShared(spark: SparkSession, dir: String): Unit =
    Par.run(
      "globi" -> (() => { globiTable(spark, dir); () }),
      "trydb" -> (() => { trydbTable(spark, dir); () }),
      "pipeline" -> (() => PipelineQueries.materializeShared(spark, dir)),
      "casestudy" -> (() => CaseStudyQueries.materializeShared(spark, dir)))

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

  /** Extracted records (persisted) + matcher output (persisted) for the
    * datagen corpus at this scale; the matched rows are dumped to the
    * side-channel for the kg_pipeline_triples / kg_pipeline_canonical
    * oracles.
    */
  def recordsAndMatched(spark: SparkSession, dir: String): (DataFrame, DataFrame) =
    once(spark, "recordsAndMatched", dir) {
      val n = KgQueries.nDocsFor(dir)
      val docs = DataGen.corpus(spark, n).toDF()
      val records = Extract.records(docs).persist(StorageLevel.MEMORY_AND_DISK)
      // the guarded production path: the broadcast vocabulary index while
      // the vocabulary is within the row guard, distributed matcher
      // beyond (broadcast == distributed is pinned in KgPipelineSpec and
      // LinkSpec). Persisted, so this dump, the dictionaries and the
      // equivalence edges run the match once.
      val matched = Link.matchTaxaAdaptive(records, DataGen.wdSparqlRows,
        DataGen.lineageRows).persist(StorageLevel.MEMORY_AND_DISK)
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
      val n = KgQueries.nDocsFor(dir)
      val (records, matched) = recordsAndMatched(spark, dir)
      val (dictId, dictName) = Materialize.wdMapDicts(matched)
      val mm = Extract.mediaMentions(records, DataGen.mediaMeta(spark))
      val triples = Materialize
        .globiTriplesFused(records, dictId, dictName, Some(mm))
        .withColumn("n_docs", lit(n))
      val tbl = s"graft_globi_triples_n$n"
      writeTripleTable(spark, triples, s"$SideDir/globi_triples_n$n", tbl)
      tbl
    }

  /** Write `triples` to the side-channel `dump`, then the engine-side
    * triple table over the re-read dump, partitioned by pred + bucketed
    * and sorted by subj: every pred-filtered pattern scan (the
    * SPARQL/BGP/case-study workload) prunes to its predicate's files,
    * subject joins stay exchange-free. The bucket count is sized from
    * the dump's bytes.
    *
    * The table is built FROM the re-read dump, not from `triples`: a
    * second evaluation of the emission lineage (evicted cache
    * partitions) could diverge from the oracle's side-channel under any
    * future nondeterminism there; reading the dump back makes the two
    * sides bit-identical by construction. The re-read takes the schema
    * just written, which spares it a schema-inference job.
    */
  private def writeTripleTable(spark: SparkSession, triples: DataFrame, dump: String,
      tbl: String): Unit = {
    triples.write.mode("overwrite").parquet(dump)
    dropTable(spark, tbl)
    val written = spark.read.schema(triples.schema).parquet(dump)
    Bucketing.writeBucketed(written, tbl, "subj",
      Bucketing.bucketCount(spark, Bucketing.inputBytes(written)),
      partitionCols = Seq("pred"))
  }

  /** TRY-db triple table, same treatment. */
  def trydbTable(spark: SparkSession, dir: String): String =
    once(spark, "trydbTable", dir) {
      val n = KgQueries.nDocsFor(dir)
      val triples = Trydb
        .run(spark, Trydb.trydbData(spark, n), Trydb.trydbLineage(spark), None)
        .withColumn("n_docs", lit(n))
      val tbl = s"graft_trydb_triples_n$n"
      writeTripleTable(spark, triples, s"$SideDir/trydb_triples_n$n", tbl)
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
