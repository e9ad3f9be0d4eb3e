package graft.kg

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import java.nio.file.{Files, Paths, Path}
import Model._

/** Stage DAG driver: checkpointed, idempotently resumable KG
  * construction (north rule; reference counterpart: the row-offset
  * checkpoint file, globi_kg_generator.py:146-150,321-323).
  *
  * Each stage writes (a) its output as parquet, (b) a _MANIFEST.json
  * sidecar carrying the stage name, an input fingerprint, per-file row
  * counts taken at write time from the parquet footers (lineage
  * metrics: the write-side skew, no re-read of the data) and
  * wall-clock. The manifest lands by an atomic rename, and a stage is
  * skipped on resume iff its manifest parses whole and carries the
  * matching fingerprint — so a killed run re-executes only the
  * unfinished suffix of the DAG, and a finished run is a no-op. Stage
  * outputs are immutable; reruns write via overwrite to stay idempotent.
  */
object Pipeline {

  case class StageResult(name: String, rows: Long, partitions: Int,
      seconds: Double, skipped: Boolean)

  private def manifestPath(dir: String): Path = Paths.get(dir, "_MANIFEST.json")

  import graft.sources.SnapshotTable.{jsonEscape, jsonUnescape}

  /** Written to a temp file and renamed over the manifest, so a reader
    * sees the old manifest or the whole new one, never a torn write.
    * The output schema comes last, as DDL, so that a skipped stage
    * re-reads its data without a schema-inference job.
    */
  private def writeManifest(dir: String, stage: String, fingerprint: String,
      fileRows: Seq[Long], seconds: Double, schema: StructType): Unit = {
    val json =
      s"""{"stage":"${jsonEscape(stage)}","fingerprint":"${jsonEscape(fingerprint)}",
         |"rows":${fileRows.sum},"partitions":${fileRows.length},
         |"partition_rows":${fileRows.mkString("[", ",", "]")},
         |"seconds":$seconds,"schema":"${jsonEscape(schema.toDDL)}"}""".stripMargin.replace("\n", "")
    graft.sources.SnapshotTable.replaceAtomically(manifestPath(dir), json)
  }

  private def stringField(name: String) =
    ("\"" + name + "\":\"((?:[^\"\\\\]|\\\\.)*)\"").r
  private val FingerprintField = stringField("fingerprint")
  private val SchemaField = stringField("schema")
  private val RowsField = "\"rows\":(\\d+)".r

  /** Rows and output schema recorded by the stage manifest in `dir`
    * when it parses whole and carries `fingerprint`; None when it is
    * absent, torn or stale. The schema is None in a manifest written
    * before it was recorded.
    */
  private def manifestRows(dir: String,
      fingerprint: String): Option[(Long, Option[StructType])] = {
    val p = manifestPath(dir)
    val j = if (Files.exists(p))
      new String(Files.readAllBytes(p), java.nio.charset.StandardCharsets.UTF_8).trim
    else ""
    if (!j.endsWith("}")) None
    else for {
      fp <- FingerprintField.findFirstMatchIn(j)
      if fp.group(1) == jsonEscape(fingerprint)
      rows <- RowsField.findFirstMatchIn(j)
    } yield (rows.group(1).toLong, SchemaField.findFirstMatchIn(j)
      .map(m => StructType.fromDDL(jsonUnescape(m.group(1)))))
  }

  /** Local property that labels the Spark jobs of a build by stage (the
    * stage name, or [[GraphWrite]]); `Profile build` groups by it.
    */
  val StageLabel = "graft.stage"
  val GraphWrite = "graph_write"

  private def labelled[A](spark: SparkSession, label: String)(body: => A): A = {
    val sc = spark.sparkContext
    val outer = sc.getLocalProperty(StageLabel)
    sc.setLocalProperty(StageLabel, label)
    try body finally sc.setLocalProperty(StageLabel, outer)
  }

  /** Run one stage: skip when a valid manifest exists, else compute,
    * write parquet + manifest with per-file counts from the footers.
    */
  def stage(spark: SparkSession, outRoot: String, name: String,
      fingerprint: String)(compute: => DataFrame): (DataFrame, StageResult) =
    labelled(spark, name) {
      val dir = s"$outRoot/$name"
      // a known schema spares the read its schema-inference job
      def reread(schema: Option[StructType]) =
        schema.fold(spark.read)(spark.read.schema(_)).parquet(s"$dir/data")
      manifestRows(dir, fingerprint) match {
        case Some((rows, schema)) =>
          (reread(schema), StageResult(name, rows, -1, 0.0, skipped = true))
        case None =>
          val t0 = System.nanoTime()
          val df = compute
          df.write.mode("overwrite").parquet(s"$dir/data")
          // footers without stats columns are always usable
          val fileRows = graft.sources.SnapshotTable
            .footerStatEntries(spark, s"$dir/data", Nil).get.map(_._2)
          val secs = (System.nanoTime() - t0) / 1e9
          writeManifest(dir, name, fingerprint, fileRows, secs, df.schema)
          (reread(Some(df.schema)),
            StageResult(name, fileRows.sum, fileRows.length, secs, skipped = false))
      }
    }

  /** A build's stages, its raw (30) and canonical (40) triple counts, and
    * the seconds of its graph table write.
    */
  case class RunReport(stages: Seq[StageResult], triples: Long,
      canonicalTriples: Long, graphSeconds: Double = 0.0)

  /** Version suffix of the stage fingerprints; bumped whenever a stage's
    * output changes for the same input, so a resume recomputes
    * checkpoints written by older code. v2: target mentions carry the
    * fixed 2^40 ordinal base in 20_link (it was the document count).
    */
  private val StageVersion = "v2"

  /** Tag of the graph table's layout ([[Materialize.predicateLayout]])
    * in the graph write's idempotency key.
    */
  private val GraphLayout = "predicate-layout:v1"

  /** Table-native entry point (north rule: the pipeline runs OVER
    * Iceberg tables) and the one full build: read the interleaved
    * document corpus from a snapshot table (optionally at a pinned
    * snapshot — a re-run against the same snapshot is reproducible
    * regardless of later appends), run extract → link → triples →
    * canonical, each a checkpointed [[stage]] under outRoot, and publish
    * the canonical graph as a new snapshot of an output table,
    * predicate-partitioned in [[Materialize.predicateLayout]], whose
    * partition count AQE sizes from the data. Every later stage reads
    * the re-read parquet of the ones before it, so what a stage
    * persisted is released once it is written, and a build leaves no
    * table persisted.
    *
    * The 20_link output's dictionary columns and raw names and ids come
    * to the driver in one collect while its manifest's row count is
    * within [[Model.MaxDriverRows]]; both resolution dictionaries and
    * the equivalence mapping are built from those rows as local
    * relations.
    * Above the guard each takes its own guarded arm. A stage that is
    * skipped fetches nothing.
    *
    * The graph write is keyed by the canonical stage's fingerprint, the
    * layout tag and the graph head it replaces: when the head already
    * carries this build's fingerprint and layout, a finished build
    * writes nothing, and a build of another input still publishes over
    * it. Returns (run report, graph snapshot id); the report's triple
    * counts are the 30/40 stage rows.
    */
  def runFromTable(spark: SparkSession, docsTableDir: String,
      outRoot: String, graphTableDir: String,
      snapshot: Option[Long] = None): (RunReport, Long) = {
    import graft.sources.SnapshotTable
    val snap = snapshot.getOrElse(SnapshotTable.currentSnapshot(docsTableDir))
    val docs = SnapshotTable.read(spark, docsTableDir, Some(snap))
    // a table snapshot is immutable: its id identifies the input
    val fp = s"table:$docsTableDir@$snap:$StageVersion"
    val persisted = scala.collection.mutable.ArrayBuffer[DataFrame]()
    def held(df: DataFrame): DataFrame = { persisted += df; df }
    val (records, s1) = stage(spark, outRoot, "10_extract", fp) {
      Extract.records(docs)
    }
    val (matched, s2) = stage(spark, outRoot, "20_link", fp) {
      // the matcher output is persisted on its distributed arm only
      held(Link.matchTaxaAdaptive(records, DataGen.wdSparqlRows, DataGen.lineageRows))
    }
    // the dictionaries' cleaned columns, then the raw name and id the
    // equivalence edges read
    lazy val matchedRows = Option.when(s2.rows <= MaxDriverRows)(matched.select(
      Materialize.dictColumns :+ col("TaxonName") :+ col("Mapped_ID_WD"): _*).collect())
    val (triples, s3) = stage(spark, outRoot, "30_triples", fp) {
      val (dictId, dictName) = matchedRows
        .fold(Materialize.wdMapDicts(matched))(Materialize.driverDicts(spark, _))
      val mm = Extract.mediaMentions(records, DataGen.mediaMeta(spark))
      // globiTriplesFused's two parts, so the tagged table is released
      val tagged = Materialize.taggedTriples(records, held(dictId), held(dictName),
        Some(mm), MaxDriverRows)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      Materialize.splitDedup(held(tagged))
    }
    // the stages after read the written parquet, never these
    persisted.foreach(_.unpersist())
    val (canonical, s4) = stage(spark, outRoot, "40_canonical", fp) {
      val mapping = matchedRows.fold(
        Canonical.connectedComponents(Canonical.equivalenceEdges(matched)))(
        rows => Canonical.equivalenceMapping(spark,
          rows.toSeq.map(r => (r.getString(5), r.getString(6)))))
      Canonical.canonicalizeTriples(triples, mapping)
    }
    val t0 = System.nanoTime()
    val graphSnap = labelled(spark, GraphWrite) {
      val head = SnapshotTable.currentSnapshot(graphTableDir)
      val built = s"$fp|$GraphLayout|"
      if (head > 0 && SnapshotTable.committedKey(graphTableDir, head)
          .exists(_.startsWith(built))) head
      else SnapshotTable.write(
        Materialize.predicateLayout(canonical),
        graphTableDir, mode = "overwrite", partitionBy = Seq("predicate"),
        idempotencyKey = s"${built}after-$head")
    }
    (RunReport(Seq(s1, s2, s3, s4), s3.rows, s4.rows, (System.nanoTime() - t0) / 1e9),
      graphSnap)
  }

  case class IncrementalResult(processedDocsSnapshot: Long,
      graphSnapshot: Long, rowsWritten: Long, mode: String)

  /** Incremental maintenance of the CANONICAL triple table, layered on
    * incrementalFromTable (which keeps the raw table + dictionary
    * states exact):
    *
    *  - the equivalence mapping is recomputed per increment from the
    *    accumulated matched state (it is dimension-sized — CC runs over
    *    distinct-name equivalence edges, never the corpus);
    *  - a MAPPING state detects whether any previously-relevant node's
    *    effective component changed (including a node that used to be
    *    identity-mapped and just joined a component): published
    *    canonical IRIs would be stale → re-canonicalize the full raw
    *    table (overwrite snapshot);
    *  - otherwise only the raw rows this increment appended are
    *    canonicalized and appended (anti-joined for set semantics).
    *
    * Exactness (incremental canonical == full runFromTable canonical)
    * is test-pinned in SnapshotTableSpec.
    *
    * `failpoint` is a crash-injection hook invoked right AFTER each
    * named commit ("taxa-state", "probes-state", "raw-graph",
    * "mapping-state") — production passes the no-op default; the test
    * suite throws from it to prove every crash window repairs exactly.
    */
  def incrementalCanonicalFromTable(spark: SparkSession, docsTableDir: String,
      rawGraphTableDir: String, canonicalTableDir: String,
      maxDriverRows: Long = MaxDriverRows,
      failpoint: String => Unit = _ => ()): IncrementalResult = {
    import graft.sources.SnapshotTable
    import spark.implicits._
    val mappingStateDir = s"$canonicalTableDir-state/mapping"
    val (raw, rawMatched) = incrementalFromTableImpl(spark, docsTableDir,
      rawGraphTableDir, maxDriverRows, failpoint, keepMatched = true)
    val rawSnapNow = SnapshotTable.currentSnapshot(rawGraphTableDir)
    val canonSnap = SnapshotTable.currentSnapshot(canonicalTableDir)
    // the raw snapshot the canonical table last processed — derived from
    // the canonical table's OWN commit key, so a crash between the raw
    // and canonical commits is repaired on the next call (a bare
    // raw.mode == "noop" check would wrongly noop while the canonical
    // table is still behind the raw one)
    val lastRawProcessed =
      if (canonSnap == 0) 0L
      else SnapshotTable.committedKey(canonicalTableDir, canonSnap)
        .filter(_.startsWith("raw-snap-"))
        .map(_.stripPrefix("raw-snap-").toLong).getOrElse(0L)
    if (canonSnap > 0 && lastRawProcessed >= rawSnapNow) {
      rawMatched.foreach(_.unpersist())
      return IncrementalResult(0L, canonSnap, 0L, "noop")
    }

    // full mapping from the matcher output over the FINAL taxa state —
    // reused from the raw increment when it just computed it (the
    // common path: one matcher run per micro-batch, not two); derived
    // from the persisted state only on the repair path where the raw
    // layer noop'd but the canonical table is behind
    val matchedDf = rawMatched.getOrElse(
      Link.matchStacked(SnapshotTable.read(spark, s"$rawGraphTableDir-state/taxa"),
        DataGen.wdSparqlRows, DataGen.lineageRows, maxDriverRows))
    val mappingDf = Canonical.connectedComponents(
      Canonical.equivalenceEdges(matchedDf), maxDriverRows = maxDriverRows)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    // previous mapping ANCHORED to the canonical table's committed key
    // (the state is committed before the canonical snapshot, so a crash
    // leaves it ahead — never behind — and the anchored read recovers
    // the exact view the published canonical rows were built with).
    // Missing anchor with a non-empty canonical table ⇒ provenance lost
    // ⇒ correctness-first re-canonicalization.
    val prevMappingSnap =
      if (lastRawProcessed == 0) None
      else SnapshotTable.snapshotWithKey(mappingStateDir,
        s"raw-snap-$lastRawProcessed")
    val anchorLost = canonSnap > 0 && prevMappingSnap.isEmpty
    // effective-mapping change detection as a DISTRIBUTED full-outer
    // join — a node absent from a mapping is identity-mapped, so the
    // comparison is coalesce(component, node) on both sides. No
    // driver-side Set: the mapping is dimension-sized today, but the
    // check must survive an entity space that scales with the corpus.
    // Evaluated LAZILY: when another disjunct already forces a rebuild
    // (first build, raw rebuild), the comparison job never runs.
    def mappingChanged: Boolean = anchorLost || {
      val prev = prevMappingSnap
        .map(s => SnapshotTable.read(spark, mappingStateDir, Some(s)))
        .getOrElse(Seq.empty[(String, String)].toDF("node", "component"))
        .select(col("node"), col("component").as("_pc"))
      mappingDf.select(col("node"), col("component").as("_nc"))
        .join(prev, Seq("node"), "full_outer")
        .filter(!(coalesce(col("_pc"), col("node")) <=>
          coalesce(col("_nc"), col("node"))))
        .limit(1).count() > 0
    }
    // a raw REBUILD that committed but whose canonical update crashed
    // before publishing: raw.mode reads "noop" on the retry, yet the
    // raw table was REWRITTEN after the snapshot this canonical table
    // last processed — append-only repair could never remove canonical
    // rows derived from raw rows the rewrite deleted or replaced. The
    // check is DEFAULT-DENY over operation names: only "append" (pure
    // addition) and "replace" (compact — content-identical by
    // construction) are delta-safe; "overwrite", "merge" (copy-on-write
    // upsert can REPLACE rows), any future op, and any snapshot whose
    // metadata has been EXPIRED (operation unknowable) all force
    // re-canonicalization — correctness beats a spurious rebuild.
    val rawOps = SnapshotTable.history(rawGraphTableDir)
      .map(s => s.id -> s.operation).toMap
    val rawRebuiltSince = (lastRawProcessed + 1 to rawSnapNow)
      .exists(id => rawOps.get(id).forall(op => op != "append" && op != "replace"))

    val tripleCols = Seq("subj", "pred", "obj", "objIsLiteral", "objDatatype")
    val (outDf, mode) =
      if (raw.mode == "rebuild" || canonSnap == 0 || rawRebuiltSince ||
          mappingChanged)
        (Canonical.canonicalizeTriples(
          SnapshotTable.read(spark, rawGraphTableDir).select(tripleCols.map(col): _*),
          mappingDf), "rebuild")
      else {
        // an increment that added no raw rows reads as an empty delta —
        // still committed, to advance the canonical table's key chain
        val deltaRaw = SnapshotTable.readDelta(spark, rawGraphTableDir,
          lastRawProcessed).select(tripleCols.map(col): _*)
        val canonDelta = Canonical.canonicalizeTriples(deltaRaw, mappingDf)
        (canonDelta.join(SnapshotTable.read(spark, canonicalTableDir)
          .select(tripleCols.map(col): _*), tripleCols, "left_anti"), "append")
      }
    val persisted = outDf
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val written = persisted.count()
    // state first, publish last (see incrementalFromTable)
    SnapshotTable.write(mappingDf, mappingStateDir, mode = "overwrite",
      idempotencyKey = s"raw-snap-$rawSnapNow")
    failpoint("mapping-state")
    val newSnap = SnapshotTable.write(persisted, canonicalTableDir,
      mode = if (mode == "rebuild") "overwrite" else "append",
      idempotencyKey = s"raw-snap-$rawSnapNow")
    persisted.unpersist(); mappingDf.unpersist()
    matchedDf.unpersist() // persisted by the raw layer or the distributed arm, if at all
    IncrementalResult(raw.processedDocsSnapshot, newSnap, written,
      if (raw.mode == "rebuild") "rebuild" else mode)
  }

  /** All distinct (taxonId, taxonName) resolution probes in a record
    * set — one row per probe, never collected: on real-world corpora
    * verbatim ids approach per-record cardinality, so the probe state
    * is CORPUS-scale and must stay a table.
    */
  private def probesOf(records: DataFrame): DataFrame =
    records.select(
      array(
        struct(col("sourceTaxonId").as("id"), col("sourceTaxonName").as("name")),
        struct(col("targetTaxonId").as("id"), col("targetTaxonName").as("name")))
        .as("ps"))
      .select(explode(col("ps")).as("p")).select(col("p.id"), col("p.name"))
      .distinct()

  /** Incremental maintenance of the RAW triple table, EXACT by
    * construction (incremental output == full rebuild, asserted in
    * SnapshotTableSpec):
    *
    * The dictionaries are order-sensitive (pandas last-wins over the
    * global sources-then-targets mention order), so naive
    * delta-with-delta-dicts processing silently diverges from a full
    * rebuild on duplicate-name keys — this implementation instead
    * mirrors the reference's actual incremental unit (dictionaries
    * global, EMISSION batched, globi_kg_generator.py:88-110 vs 146-171):
    *
    *  1. an accumulated DISTINCT-TAXA state (dimension-sized) keeps
    *     every mention 4-tuple with its global first-occurrence ordinal
    *     (isTarget·2^40 + recNum — exactly the full rebuild's
    *     sources-then-targets order, stable under appends);
    *  2. each increment merges the delta's taxa (min-ordinal) and
    *     re-runs the matcher on the state (in its own partitions, under
    *     the broadcast vocabulary index) → the FINAL dictionaries,
    *     identical to a full rebuild's;
    *  3. a PROBE state keeps every distinct (taxonId, taxonName)
    *     resolution probe ever seen; if no old probe resolves
    *     DIFFERENTLY under the final dictionaries than under the
    *     previous ones (covers changed winners, new ids shadowing old
    *     name matches, and new entries matching previously dropped
    *     records), previously emitted triples are still exactly what
    *     the final dictionaries would emit → FAST PATH: emit only the
    *     delta records, anti-join the shared subset, append;
    *  4. otherwise old emissions are stale → detected, and the run
    *     REBUILDS from the full docs table (overwrite snapshot) — the
    *     correctness-first fallback.
    *
    * Scope: maintains the PRE-canonicalization table. CC
    * canonicalization is a global fixpoint (new equivalence edges merge
    * previously distinct components retroactively) and stays a periodic
    * global job (runFromTable) — the standard incremental/batch split.
    */
  def incrementalFromTable(spark: SparkSession, docsTableDir: String,
      rawGraphTableDir: String,
      maxDriverRows: Long = MaxDriverRows,
      failpoint: String => Unit = _ => ()): IncrementalResult =
    incrementalFromTableImpl(spark, docsTableDir, rawGraphTableDir,
      maxDriverRows, failpoint, keepMatched = false)._1

  /** Implementation that can also hand back the FINAL matcher output
    * over the merged taxa state (persisted; the caller unpersists) —
    * the canonical maintenance layer reuses it for the equivalence
    * mapping instead of re-running the matcher on identical input.
    */
  private[kg] def incrementalFromTableImpl(spark: SparkSession,
      docsTableDir: String, rawGraphTableDir: String,
      maxDriverRows: Long, failpoint: String => Unit,
      keepMatched: Boolean): (IncrementalResult, Option[DataFrame]) = {
    import graft.sources.SnapshotTable
    val keyPrefix = "docs-snap-"
    val taxaStateDir = s"$rawGraphTableDir-state/taxa"
    val probesStateDir = s"$rawGraphTableDir-state/probes"
    val docsSnap = SnapshotTable.currentSnapshot(docsTableDir)
    val graphSnap = SnapshotTable.currentSnapshot(rawGraphTableDir)
    val lastProcessed =
      if (graphSnap == 0) 0L
      else SnapshotTable.committedKey(rawGraphTableDir, graphSnap)
        .filter(_.startsWith(keyPrefix))
        .map(_.stripPrefix(keyPrefix).toLong).getOrElse(0L)
    if (docsSnap <= lastProcessed)
      return (IncrementalResult(0L, graphSnap, 0L, "noop"), None)

    // ---- crash-consistent state anchoring ------------------------------
    // States are committed BEFORE the graph snapshot (below), so a crash
    // between the commits leaves them AHEAD of the graph, never behind.
    // The graph's committed key is the authoritative progress marker:
    // the "old" view of each state table is the snapshot carrying that
    // key, found by history search — NOT the latest snapshot, which may
    // belong to a crashed run. A missing anchor (expired state, foreign
    // graph) means the old view is unrecoverable ⇒ correctness-first
    // full rebuild from the docs table.
    def anchored(stateDir: String): Option[Long] =
      if (lastProcessed == 0) None
      else SnapshotTable.snapshotWithKey(stateDir, s"$keyPrefix$lastProcessed")
    val oldTaxaSnap = anchored(taxaStateDir)
    val oldProbesSnap = anchored(probesStateDir)
    val stateLost = lastProcessed > 0 &&
      (oldTaxaSnap.isEmpty || oldProbesSnap.isEmpty)

    // 1-2: merge delta taxa into the accumulated state, derive dicts.
    val delta = SnapshotTable.readDelta(spark, docsTableDir, lastProcessed,
      Some(docsSnap))
    val deltaRecords = Extract.records(delta)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // stackTaxa's ordinals are the global sources-then-targets order,
    // append-stable
    val deltaTaxa = Link.stackTaxa(deltaRecords)
    val oldTaxaDf = oldTaxaSnap.map(s =>
      SnapshotTable.read(spark, taxaStateDir, Some(s)))
    // full-corpus records, materialized at most once, only when needed
    // (state lost, or the stale-probe check demands a rebuild)
    var fullRecordsCache: Option[DataFrame] = None
    def fullRecords: DataFrame = fullRecordsCache.getOrElse {
      val fr = Extract.records(
        SnapshotTable.read(spark, docsTableDir, Some(docsSnap)))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      fullRecordsCache = Some(fr)
      fr
    }
    val mergedTaxaDf = (if (stateLost)
      Link.stackTaxa(fullRecords)
    else
      oldTaxaDf.map(_.unionByName(deltaTaxa)).getOrElse(deltaTaxa))
      .groupBy(col("TaxonId"), col("TaxonName"), col("TaxonPathName"),
        col("TaxonRankName"))
      .agg(min(col("rowIdx")).as("rowIdx"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    // dictionary derivation through the matcher (Link.matchStacked,
    // whose row guard is on the vocabulary: the taxa state, DISTINCT
    // mention 4-tuples, never leaves the cluster) and the shared dict
    // build. The dicts and the matcher outputs, persisted, are
    // released after the final commit — a streaming micro-batch loop
    // must not accumulate storage blocks per call. The FINAL matcher
    // output is handed to the caller when keepMatched (the canonical
    // layer derives its equivalence mapping from it after the taxa
    // state is released, instead of re-running the matcher on
    // identical input).
    val toRelease = scala.collection.mutable.ArrayBuffer[DataFrame]()
    def deriveDicts(taxaDf: DataFrame): (DataFrame, DataFrame, DataFrame) = {
      val matched = Link.matchStacked(taxaDf, DataGen.wdSparqlRows,
        DataGen.lineageRows, maxDriverRows)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val (di, dn) = Materialize.wdMapDicts(matched, maxDriverRows)
      toRelease ++= Seq(di, dn)
      (matched, di, dn)
    }
    val (newMatched, newIdDf, newNameDf) = deriveDicts(mergedTaxaDf)
    if (!keepMatched) toRelease += newMatched

    // 3-4: stale-emission detection, fully DISTRIBUTED: resolve every
    // previously-seen probe under the previous and the final
    // dictionaries (the probes are corpus-scale and never leave the
    // cluster; driver-built dicts broadcast by hint, aggregate ones via
    // AQE while dimension-sized) and look for any difference. Resolution
    // semantics mirror Materialize's: id-dict hit wins, else name-dict,
    // else none.
    val needRebuild = stateLost || (graphSnap > 0 && lastProcessed > 0 && {
      val (oldMatched, oldIdDf, oldNameDf) = deriveDicts(oldTaxaDf.get)
      toRelease += oldMatched
      // a dictionary built on the driver is a local relation: broadcast
      // it whatever its size, as a LocalTableScan under a shuffle exchange
      // embeds the whole relation in every task
      def d(df: DataFrame, key: String, p: String) = {
        val renamed = df.select(col("key").as(key), col("wd").as(s"${p}_wd"),
          col("mv").as(s"${p}_mv"))
        df.queryExecution.optimizedPlan match {
          case _: org.apache.spark.sql.catalyst.plans.logical.LocalRelation =>
            broadcast(renamed)
          case _ => renamed
        }
      }
      def resCol(p: String): org.apache.spark.sql.Column = coalesce(
        when(col(s"${p}i_wd").isNotNull,
          struct(col(s"${p}i_wd").as("w"), col(s"${p}i_mv").as("m"))),
        when(col(s"${p}n_wd").isNotNull,
          struct(col(s"${p}n_wd").as("w"), col(s"${p}n_mv").as("m"))))
      SnapshotTable.read(spark, probesStateDir, oldProbesSnap)
        .join(d(oldIdDf, "id", "oi"), Seq("id"), "left")
        .join(d(oldNameDf, "name", "on"), Seq("name"), "left")
        .join(d(newIdDf, "id", "ni"), Seq("id"), "left")
        .join(d(newNameDf, "name", "nn"), Seq("name"), "left")
        .filter(!(resCol("o") <=> resCol("n")))
        .limit(1).count() > 0
    })

    val emitRecords = if (needRebuild) fullRecords else deltaRecords
    val mm = Extract.mediaMentions(emitRecords, DataGen.mediaMeta(spark))
    val tagged = Materialize.taggedTriples(emitRecords, newIdDf, newNameDf,
      Some(mm), maxDriverRows)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val tripleCols = Seq("subj", "pred", "obj", "objIsLiteral", "objDatatype")
    val (outDf, mode) =
      if (needRebuild || graphSnap == 0)
        (Materialize.splitDedup(tagged), if (needRebuild) "rebuild" else "append")
      else
        (Materialize.splitDedup(tagged, _.join(
          SnapshotTable.read(spark, rawGraphTableDir)
            .select(tripleCols.map(col): _*), tripleCols, "left_anti")), "append")
    val persisted = outDf
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val written = persisted.count()

    // ---- commit protocol: states FIRST, graph LAST ----------------------
    // A crash after the state commits but before the graph commit leaves
    // the graph key at lastProcessed; the retry re-anchors the old state
    // views by that key (they are retained snapshots, not the latest)
    // and its state writes short-circuit via their idempotency keys —
    // the increment is repaired exactly. The reverse order would record
    // progress on the graph that the states never learned about, and
    // the NEXT increment would silently build dictionaries missing this
    // delta.
    SnapshotTable.write(mergedTaxaDf, taxaStateDir, mode = "overwrite",
      idempotencyKey = s"$keyPrefix$docsSnap")
    failpoint("taxa-state")
    // probe state: APPEND only the genuinely new probes — the state
    // update is O(delta), and the probe table itself is never collected
    // or rewritten
    // the anti-join runs against the HEAD probes state, not the
    // anchored old view: a crashed run may already have appended its
    // delta's probes (committed with its own key) before the graph
    // commit failed, and a retry after docs advanced FURTHER would
    // re-append that overlap if it only deduped against the anchor —
    // the head is a superset of the anchor, so deduping against it
    // keeps the state an exact distinct-probe set in every crash
    // interleaving
    val probesOut =
      if (stateLost) probesOf(fullRecords) // state rebuilt from scratch
      else {
        val deltaProbes = probesOf(deltaRecords)
        oldProbesSnap match {
          case Some(_) => deltaProbes.join(
            SnapshotTable.read(spark, probesStateDir),
            Seq("id", "name"), "left_anti")
          case None => deltaProbes
        }
      }
    SnapshotTable.write(probesOut, probesStateDir,
      mode = if (stateLost || oldProbesSnap.isEmpty) "overwrite" else "append",
      idempotencyKey = s"$keyPrefix$docsSnap")
    failpoint("probes-state")
    val newGraphSnap = SnapshotTable.write(persisted, rawGraphTableDir,
      mode = if (mode == "rebuild") "overwrite" else "append",
      idempotencyKey = s"$keyPrefix$docsSnap")
    failpoint("raw-graph")

    tagged.unpersist(); deltaRecords.unpersist(); persisted.unpersist()
    mergedTaxaDf.unpersist(); fullRecordsCache.foreach(_.unpersist())
    toRelease.foreach(_.unpersist())
    (IncrementalResult(docsSnap, newGraphSnap, written, mode),
      if (keepMatched) Some(newMatched) else None)
  }

  /** Full KG construction over the deterministic corpus: the generated
    * documents become the snapshot table `docs` under outRoot, and
    * [[runFromTable]] builds that snapshot into the graph table
    * `50_graph`. The corpus write is keyed by its size, so a resumed run
    * writes no new snapshot and every stage fingerprint matches; the
    * build is pinned to the keyed snapshot, so a root last run at
    * another size still builds this one.
    */
  def run(spark: SparkSession, nDocs: Long, outRoot: String): RunReport = {
    val docsDir = s"$outRoot/docs"
    val snap = graft.sources.SnapshotTable.write(DataGen.corpus(spark, nDocs).toDF(),
      docsDir, idempotencyKey = s"corpus:$nDocs")
    runFromTable(spark, docsDir, outRoot, s"$outRoot/50_graph", Some(snap))._1
  }
}
