package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops.{Dedup, Par, Sampling, Similarity, TextOps}
import graft.sources.Inputs

/** Training-data pipeline operators as verifiable queries: text analysis,
  * deduplication (exact / MinHash-LSH / token-Jaccard / SimHash /
  * embedding-cosine), and similarity search. Hash primitives are md5
  * (engine-portable), so a SQL oracle reproduces every hash.
  */
object PipelineQueries {

  /** Connected components over the verified LSH pair graph — memoized
    * like the pair memo itself, because TWO queries consume the same
    * mapping (dd_lsh_clusters and tx_leakage_split) and the iterative
    * CC is the expensive part on top of the pairs.
    */
  private[graft] def lshComponents(s: SparkSession, dir: String): DataFrame =
    Materialized.once(s, "lshComponents", dir) {
      graft.kg.Canonical.connectedComponents(
          verifiedLshPairs(s, dir)
            .select(col("id_a").as("src"), col("id_b").as("dst")))
        .localCheckpoint(true)
    }

  /** Force the once-per-scale shared intermediates of this module (the
    * verified LSH pair set, its components and the snapshot-table gate
    * fixtures) — called by Bench's up-front materialization phase so the
    * build cost lands on the explicit materialize line, not on whichever
    * query touches the memo first.
    */
  def materializeShared(s: SparkSession, dir: String): Unit = {
    // snapshot-table gate fixtures (base write + DML commits) build
    // here so their construction cost lands on the materialize_tables
    // bench line — the s8* per-query numbers then time only the READ
    // paths they gate (snapshot read, stats-pruned range read, z-order
    // box read, post-delete read, CDF diff). The ten builds are
    // mutually independent (separate temp table dirs; the LSH chain is
    // its own two-step dependency), so they run CONCURRENTLY (guide
    // §2.6): each build alternates executor jobs with driver-side
    // commit/manifest work, and overlapping them fills both gaps —
    // the sequential build paid every fixture's driver segment with
    // all executors idle.
    Par.run(
      "lsh" -> (() => { verifiedLshPairs(s, dir); lshComponents(s, dir); () }),
      "merged" -> (() => { mergedDocsTable(s, dir); () }),
      "stats" -> (() => { statsDocsTable(s, dir); () }),
      "zorder" -> (() => { zorderOrdersTable(s, dir); () }),
      "deleted" -> (() => { deletedDocsTable(s, dir); () }),
      "partitioned" -> (() => { partitionedDocsTable(s, dir); () }),
      "bloom" -> (() => { bloomDocsTable(s, dir); () }),
      "scd2" -> (() => { scd2DimTable(s, dir); () }),
      "wap" -> (() => { wapDocsTable(s, dir); () }))
  }

  /** Force the persisted incremental-dedup state builds (two
    * IncrementalDedup.update cycles each for the text-LSH and the
    * embedding-sign-LSH families) — called by Bench as its OWN timed
    * "incremental_state_build" line: the build is by-design state
    * reconstruction (a production ingest amortizes it across its
    * stream), so it must not smear into the dd_incremental_* per-query
    * numbers, which now time only the emission-log SERVE.
    */
  def materializeIncrementalState(s: SparkSession, dir: String): Unit = {
    // the two families keep disjoint state dirs and never read each
    // other's tables — increments are serial WITHIN a family (the
    // in-order ingest contract) but the families build concurrently
    // (guide §2.6), overlapping one family's driver-side commit
    // segments with the other's executor jobs
    Par.run(
      "incLsh" -> (() => { incLshState(s, dir); () }),
      "incCos" -> (() => { incCosState(s, dir); () }))
  }

  /** A new temp dir, reclaimed recursively when the JVM exits — the
    * memoized state dirs and fixture tables live for the whole session
    * (every query invocation serves from them), so per-query cleanup
    * does not apply, but a bench/verify run must still not leak a full
    * LSH-state copy of the corpus, or an empty fixture dir, under /tmp.
    */
  private def tempDir(prefix: String): String = {
    import java.nio.file.Files
    import scala.jdk.CollectionConverters._
    val dir = Files.createTempDirectory(prefix)
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      try Files.walk(dir).iterator().asScala.toSeq
        .sortBy(-_.getNameCount).foreach(Files.deleteIfExists(_))
      catch { case _: Throwable => () }
    }))
    dir.toString
  }

  /** Once-per-(session, scale) text-LSH incremental state: ingest the
    * corpus in two batches through the persisted-LSH-state machinery
    * (graft.ops.IncrementalDedup — postings / arrays / emission-log
    * snapshot tables, one idempotency key per batch). Runs the
    * PRODUCTION config (bucket cap 1000 — uncapped, this fixture's hot
    * boilerplate buckets blow up to 2.8M pairs / 43× the capped volume,
    * the exact pathology the cap exists for).
    */
  private[graft] def incLshState(s: SparkSession, dir: String): String =
    Materialized.once(s, "incLshState", dir) {
      val stateDir = tempDir("dd-inc-lsh")
      val d = Inputs.parquet(s, dir, "documents")
      val cfg = graft.ops.IncrementalDedup.LshConfig(
        k = 4, rowsPerBand = 2, threshold = 0.8, maxBucket = 1000)
      (0 until 2).foreach { i =>
        graft.ops.IncrementalDedup.update(s, stateDir,
          d.filter(col("doc_id") % 2 === i), "doc_id", "text", s"inc-$i", cfg)
        ()
      }
      stateDir
    }

  /** Once-per-(session, scale) merged snapshot table — the driver gate
    * for the copy-on-write MERGE (`sources/SnapshotTable.merge`): base
    * snapshot = the documents dimension (doc_id, source, version v1),
    * then ONE upsert that flips every doc_id % 97 == 0 row to v2 and
    * inserts 10 synthetic negative-id rows. The gate query reads the
    * merged table back; the oracle recomputes the expected post-merge
    * content in SQL — so newest-wins semantics, the file-level COW
    * rewrite, manifest carry, and the read path are all inside the
    * hash. The idempotency key makes rebuild-after-crash replays safe.
    */
  private[graft] def mergedDocsTable(s: SparkSession, dir: String): String =
    Materialized.once(s, "mergedDocsTable", dir) {
      import graft.sources.SnapshotTable
      val tableDir = tempDir("snap-merge-gate") + "/t"
      val base = Inputs.parquet(s, dir, "documents")
        .select(col("doc_id"), col("source"), lit("v1").as("version"))
      SnapshotTable.write(base.repartition(8), tableDir,
        idempotencyKey = "merge-gate-base")
      import s.implicits._
      val updates = base.filter(col("doc_id") % 97 === 0)
        .withColumn("version", lit("v2"))
        .unionByName((1 to 10).map(i => (-i.toLong, "synthetic", "ins"))
          .toDF("doc_id", "source", "version"))
      SnapshotTable.merge(s, tableDir, updates, Seq("doc_id"),
        idempotencyKey = "merge-gate-upsert")
      tableDir
    }

  /** Full-batch SCD2 SQL — the shared truth for BOTH the batch query
    * (ev_scd2) and the incremental snapshot-table build (s8l_scd2_merge).
    */
  private val scd2OracleSql: String =
    """WITH r AS (
         SELECT user_id, ts, event_id, event_type,
                LAG(event_type) OVER (
                  PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
         FROM events),
       rid AS (
         SELECT user_id, ts, event_type,
                SUM(CASE WHEN prev_type IS NULL
                          OR prev_type <> event_type THEN 1 ELSE 0 END)
                  OVER (PARTITION BY user_id ORDER BY ts, event_id
                        ROWS UNBOUNDED PRECEDING) AS version
         FROM r),
       runs AS (
         SELECT user_id, CAST(version AS BIGINT) AS version,
                event_type AS state, MIN(ts) AS valid_from,
                COUNT(*) AS n_events
         FROM rid GROUP BY 1, 2, 3),
       stitched AS (
         SELECT *, LEAD(valid_from) OVER (
                  PARTITION BY user_id ORDER BY version) AS valid_to
         FROM runs)
       SELECT user_id, version, state, valid_from, valid_to, n_events,
              valid_to IS NULL AS is_current
       FROM stitched ORDER BY user_id, version"""

  /** Once-per-(session, scale) WAP (write–audit–publish) fixture over
    * the snapshot-table refs API: base commit tagged `main`; a staged
    * append that deliberately carries NULL langs gets an `audit` ref,
    * FAILS the audit (null count > 0, require-checked), is abandoned
    * via rollback; the corrected batch is appended, re-audited clean,
    * and `main` is compare-and-set fast-forwarded onto it. The s8m
    * gate reads through the governed `main` ref — a reader of that ref
    * can never have observed the unaudited rows.
    */
  private[graft] def wapDocsTable(s: SparkSession, dir: String): String =
    Materialized.once(s, "wapDocsTable", dir) {
      import graft.sources.SnapshotTable
      val tableDir = tempDir("snap-wap-gate") + "/t"
      val d = Inputs.parquet(s, dir, "documents")
        .select(col("doc_id"), col("source"), col("lang"))
      val base = d.filter(col("doc_id") % 3 === 0)
      val snapBase = SnapshotTable.write(base.repartition(4), tableDir,
        idempotencyKey = "wap-base")
      SnapshotTable.createRef(tableDir, "main", snapBase)
      val bad = d.filter(col("doc_id") % 3 === 1)
        .withColumn("lang", when(col("doc_id") % 5 === 0,
          lit(null: String)).otherwise(col("lang")))
      val staged = SnapshotTable.write(bad, tableDir, mode = "append",
        idempotencyKey = "wap-stage-bad")
      SnapshotTable.createRef(tableDir, "audit", staged)
      require(SnapshotTable.readRef(s, tableDir, "audit")
        .filter(col("lang").isNull).count() > 0,
        "WAP fixture must stage a genuinely failing batch")
      SnapshotTable.rollback(s, tableDir, snapBase,
        idempotencyKey = "wap-rollback")
      val corrected = bad.withColumn("lang",
        coalesce(col("lang"), lit("und")))
      val fixedSnap = SnapshotTable.write(corrected, tableDir,
        mode = "append", idempotencyKey = "wap-stage-fixed")
      SnapshotTable.updateRef(tableDir, "audit", fixedSnap,
        expectedFrom = Some(staged))
      require(SnapshotTable.readRef(s, tableDir, "audit")
        .filter(col("lang").isNull).count() == 0,
        "corrected batch must pass the audit")
      SnapshotTable.updateRef(tableDir, "main", fixedSnap,
        expectedFrom = Some(snapBase))
      tableDir
    }

  /** Once-per-(session, scale) SCD2 dimension snapshot table: base =
    * batch runs over the first event-id half (global ts is monotone in
    * event_id, so the split is a time split and the increment contract
    * holds per user), then ONE [[graft.ops.Scd2.applyIncrement]] folds
    * the second half in. The s8l gate reads the result back against the
    * full-batch oracle.
    */
  private[graft] def scd2DimTable(s: SparkSession, dir: String): String =
    Materialized.once(s, "scd2DimTable", dir) {
      import graft.sources.SnapshotTable
      val tableDir = tempDir("snap-scd2-gate") + "/t"
      val e = Inputs.parquet(s, dir, "events")
        .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      val cut = e.agg(max(col("event_id"))).head().getLong(0) / 2
      val dim0 = graft.ops.Scd2.runs(e.filter(col("event_id") <= cut))
      SnapshotTable.write(dim0.repartition(4), tableDir,
        idempotencyKey = "scd2-base")
      graft.ops.Scd2.applyIncrement(s, tableDir,
        e.filter(col("event_id") > cut), idempotencyKey = "scd2-inc-1")
      tableDir
    }

  /** Once-per-(session, scale) snapshot table exercising the DML triad
    * tail — snapshot 1: a range-clustered base (8 contiguous doc_id
    * blocks with manifest min/max stats, so the stats-pruned
    * affected-file detection runs); snapshot 2: ONE row-level DELETE
    * (`sources/SnapshotTable.delete`) of every doc_id % 13 == 0 row
    * plus five never-present negative keys (absent keys must be
    * no-ops) — the takedown-request gate; snapshot 3: ONE MERGE that
    * updates `lang` to "xx" for the surviving doc_id % 17 == 0 rows
    * and inserts three brand-new negative-keyed rows — the fixture
    * the change-data-feed gate (`s8e_changes`) diffs 2 → 3. The
    * delete gate reads snapshot 2 back; its oracle is the plain
    * NOT-IN filter — file-level COW, verbatim carry of untouched
    * files, and the read path all sit inside the hash.
    */
  private[graft] def deletedDocsTable(s: SparkSession, dir: String): String =
    Materialized.once(s, "deletedDocsTable", dir) {
      import graft.sources.SnapshotTable
      val tableDir = tempDir("snap-delete-gate") + "/t"
      val base = Inputs.parquet(s, dir, "documents")
        .select(col("doc_id"), col("source"), col("lang"))
      SnapshotTable.write(base.repartitionByRange(8, col("doc_id")),
        tableDir, idempotencyKey = "delete-gate-base",
        statsCols = Seq("doc_id"))
      import s.implicits._
      val doomed = base.filter(col("doc_id") % 13 === 0)
        .select(col("doc_id"))
        .unionByName((1 to 5).map(i => -i.toLong).toDF("doc_id"))
      SnapshotTable.delete(s, tableDir, doomed, Seq("doc_id"),
        idempotencyKey = "delete-gate-rm")
      val upserts = base
        .filter(col("doc_id") % 13 =!= 0 && col("doc_id") % 17 === 0)
        .withColumn("lang", lit("xx"))
        .unionByName(Seq(
          (-101L, "synthetic", "zz"), (-102L, "synthetic", "zz"),
          (-103L, "synthetic", "zz")).toDF("doc_id", "source", "lang"))
      SnapshotTable.merge(s, tableDir, upserts, Seq("doc_id"),
        idempotencyKey = "delete-gate-up")
      // snapshot 4: ROLLBACK to the post-delete state — undoes the
      // merge; the s8g gate reads the table head through this commit
      SnapshotTable.rollback(s, tableDir, 2L,
        idempotencyKey = "delete-gate-rb")
      tableDir
    }

  /** Once-per-(session, scale) snapshot table with a per-file BLOOM
    * index on `doc_id`, files clustered by `lang` (a DIFFERENT key, so
    * min/max bounds cannot prune a doc_id probe) — the fixture for the
    * bloom point-read gate.
    */
  private[graft] def bloomDocsTable(s: SparkSession, dir: String): String =
    Materialized.once(s, "bloomDocsTable", dir) {
      import graft.sources.SnapshotTable
      val tableDir = tempDir("snap-bloom-gate") + "/t"
      val base = Inputs.parquet(s, dir, "documents")
        .select(col("doc_id"), col("source"), col("lang"))
        .repartition(8, col("lang"))
      SnapshotTable.write(base, tableDir,
        idempotencyKey = "bloom-gate-base", bloomCols = Seq("doc_id"))
      tableDir
    }

  /** Once-per-(session, scale) lang-partitioned snapshot table after a
    * DYNAMIC PARTITION OVERWRITE: base write partitioned by `lang`,
    * then ONE `overwritePartitions` re-landing the 'de' partition with
    * modified content (only even doc_ids survive, `source` rewritten).
    * The gate reads the table back; the oracle is the UNION of the
    * untouched partitions and the re-landed rows — partition-granular
    * copy-on-write, verbatim carry, and the hive-partitioned read path
    * all sit inside the hash.
    */
  private[graft] def partitionedDocsTable(s: SparkSession, dir: String): String =
    Materialized.once(s, "partitionedDocsTable", dir) {
      import graft.sources.SnapshotTable
      val tableDir = tempDir("snap-owp-gate") + "/t"
      val base = Inputs.parquet(s, dir, "documents")
        .select(col("doc_id"), col("source"), col("lang"))
      SnapshotTable.write(base, tableDir, partitionBy = Seq("lang"),
        idempotencyKey = "owp-gate-base", statsCols = Seq("doc_id"))
      val reland = base
        .filter(col("lang") === "de" && col("doc_id") % 2 === 0)
        .withColumn("source", lit("relanded"))
      SnapshotTable.overwritePartitions(reland, tableDir, "owp-gate-ow")
      tableDir
    }

  /** Once-per-(session, scale) range-clustered snapshot table with
    * manifest min/max stats on `doc_id` — the driver gate for
    * file-skipping reads (`sources/SnapshotTable.readRange`). The
    * table is written in 8 range partitions (contiguous doc_id blocks,
    * the clustered layout a sorted 100 TB table has), so a narrow key
    * range provably skips most files; the skip-count itself is pinned
    * in SnapshotTableSpec, while the gate hashes the RESULT against
    * the plain SQL filter — pruning must never change what a read
    * returns.
    */
  private[graft] def statsDocsTable(s: SparkSession, dir: String): String =
    Materialized.once(s, "statsDocsTable", dir) {
      import graft.sources.SnapshotTable
      val tableDir = tempDir("snap-stats-gate") + "/t"
      val docs = Inputs.parquet(s, dir, "documents")
        .select(col("doc_id"), col("source"), col("lang"), col("n_chars"))
        .repartitionByRange(8, col("doc_id"))
      SnapshotTable.write(docs, tableDir,
        idempotencyKey = "stats-gate-base", statsCols = Seq("doc_id"))
      tableDir
    }

  /** Once-per-(session, scale) Z-ORDERED snapshot table over orders —
    * the driver gate for 2-D box reads: Morton-interleaved
    * (o_orderkey, o_custkey) range partitioning gives every data file
    * a tight bounding box on BOTH keys, recorded in the manifest
    * stats, so `readBox` prunes two dimensions at once. The
    * z-beats-1-D skip-count comparison is pinned in SnapshotTableSpec;
    * the gate hashes the RESULT against the plain two-range filter.
    */
  private[graft] def zorderOrdersTable(s: SparkSession, dir: String): String =
    Materialized.once(s, "zorderOrdersTable", dir) {
      import graft.sources.SnapshotTable
      val tableDir = tempDir("snap-zorder-gate") + "/t"
      val orders = Inputs.parquet(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"))
      SnapshotTable.write(
        graft.ops.ZOrder.cluster(orders, "o_orderkey", "o_custkey", 16),
        tableDir, idempotencyKey = "zorder-gate-base",
        statsCols = Seq("o_orderkey", "o_custkey"))
      tableDir
    }

  /** Once-per-(session, scale) embedding sign-LSH incremental state —
    * the incLshState twin for the vector family.
    */
  private[graft] def incCosState(s: SparkSession, dir: String): String =
    Materialized.once(s, "incCosState", dir) {
      val stateDir = tempDir("dd-inc-cos")
      val v = Inputs.parquet(s, dir, "embeddings")
      val cfg = graft.ops.IncrementalDedup.VecLshConfig(
        planes = 4, bands = 2, threshold = 0.4)
      (0 until 2).foreach { i =>
        graft.ops.IncrementalDedup.updateVectors(s, stateDir,
          v.filter(col("vec_id") % 2 === i), "vec_id", "embedding",
          s"inc-$i", cfg)
        ()
      }
      stateDir
    }

  /** Verified near-dup pair set — the banded-MinHash-LSH + exact-Jaccard
    * chain — shared by `dd_minhash_lsh` (which serves the pairs) and
    * `dd_lsh_clusters` (which runs connected components over them).
    * Memoized per (session, scale dir) through [[Materialized.once]] and
    * materialized by an eager localCheckpoint: the expensive
    * signature/banding/verify chain executes once, and the clusters
    * query starts from pair-scale checkpoint blocks instead of
    * re-deriving the whole corpus scan.
    */
  private[graft] def verifiedLshPairs(s: SparkSession, dir: String): DataFrame =
    Materialized.once(s, "verifiedLshPairs", dir) {
      Dedup.minhashLsh(Inputs.parquet(s, dir, "documents"), "doc_id",
          "text", k = 4, rowsPerBand = 2, threshold = 0.8)
        .select(col("id_a"), col("id_b"))
        .localCheckpoint(true)
    }

  /** Brute-force recall@10 honesty rider shared by the ANN queries
    * (IVF / SQ / PQ): fraction of the TRUE cosine top-10 the
    * approximate result recovered, attached as a constant column and
    * verified in-row by the driver gate. The brute pass exists only to
    * measure the approximation — production serving runs the
    * approximate plan alone. The brute set is selected by the SAME
    * (round-6 cosine, vec_id) order every oracle uses: an unrounded
    * limit(10) could disagree at a 6-dp tie on the rank-10/11 boundary.
    */
  private def withRecallRider(result: DataFrame, data: DataFrame,
      q: Array[Float], orderCol: String): DataFrame = {
    val r = result.localCheckpoint(true) // referenced twice: rows + rider
    val bruteIds = data
      .select(col("vec_id"),
        round(Similarity.cosine(col("embedding"), lit(q)), 6).as("bcos"))
      .orderBy(col("bcos").desc, col("vec_id"))
      .limit(10)
      .select(col("vec_id"))
    val recall = r.join(bruteIds, Seq("vec_id"), "left_semi")
      .agg(round(count(lit(1)) / lit(10.0), 6).as("recall_at_10"))
    r.crossJoin(recall).orderBy(col(orderCol).desc, col("vec_id"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ---- text analysis -----------------------------------------------
    "tx_token_count" -> ((s: SparkSession, dir: String) => {
      val d = Inputs.parquet(s, dir, "documents")
      d.select(col("doc_id"), TextOps.tokenCount(col("text")).as("n_tokens"),
          TextOps.subwordCount(col("text")).as("n_subwords"))
        .orderBy(col("doc_id"))
    }),

    "tx_fingerprint" -> ((s: SparkSession, dir: String) => {
      val d = Inputs.parquet(s, dir, "documents")
      d.select(col("doc_id"), TextOps.fingerprint(col("text")).as("fp"))
        .orderBy(col("doc_id"))
    }),

    "tx_quality" -> ((s: SparkSession, dir: String) => {
      val d = Inputs.parquet(s, dir, "documents")
      TextOps.qualityFeatures(d, col("text"))
        .select(col("doc_id"), col("n_chars"), col("n_tokens"), col("n_punct"),
          col("n_stop"), col("quality_ok"))
        .orderBy(col("doc_id"))
    }),

    "tx_langid" -> ((s: SparkSession, dir: String) => {
      val d = Inputs.parquet(s, dir, "documents")
      d.select(col("doc_id"), TextOps.langId(col("text")).as("pred_lang"))
        .orderBy(col("doc_id"))
    }),

    "tx_split" -> ((s: SparkSession, dir: String) => {
      // deterministic hash train/val/test split (10/10/80): a pure
      // map-side projection — re-runs and data growth never reassign
      // an already-split record
      val d = Inputs.parquet(s, dir, "documents")
      d.select(col("doc_id"),
          Sampling.hashBucket("split", col("doc_id")).as("bucket"))
        .withColumn("split", Sampling.splitAssign(col("bucket"), 10, 10))
        .orderBy(col("doc_id"))
    }),

    // Stratified sampling with EXACT largest-remainder allocation: a
    // 20% corpus sample whose per-language counts hit the proportional
    // quota exactly (Σ alloc == N div 5 by construction) — the
    // curriculum / eval-set builder that per-row Bernoulli can't give
    // (its stratum counts drift). The allocation math is all integer
    // division over the lang-cardinality quota table (portable and
    // broadcast-trivial); membership is rank-by-salted-hash within
    // stratum (deterministic, rerun-stable — the tx_domain_cap
    // convention, incl. its documented 100 TB boundary: the per-stratum
    // rank gets a hash-threshold pre-filter before the exact trim).
    "tx_stratified" -> ((s: SparkSession, dir: String) => {
      import org.apache.spark.sql.expressions.Window
      val d = Inputs.parquet(s, dir, "documents")
        .select(col("doc_id"), col("lang"))
      val tot = d.groupBy(col("lang")).agg(count(lit(1)).as("n_l"))
      val n = tot.agg(sum(col("n_l")).cast("long").as("n_total"))
      val q = tot.crossJoin(broadcast(n))
        .withColumn("target", expr("n_total div 5"))
        .withColumn("base", expr("(n_l * target) div n_total"))
        .withColumn("rem", expr("(n_l * target) % n_total"))
      val sb = q.agg(sum(col("base")).as("sum_base"),
        max(col("target")).as("tgt"))
      val wq = Window.orderBy(col("rem").desc, col("lang"))
      val alloc = q.withColumn("extra_rank", row_number().over(wq))
        .crossJoin(broadcast(sb))
        .withColumn("n_alloc", col("base")
          + when(col("extra_rank") <= col("tgt") - col("sum_base"), 1L)
            .otherwise(0L))
        .select(col("lang"), col("n_alloc"))
      val wr = Window.partitionBy(col("lang"))
        .orderBy(col("hk"), col("doc_id"))
      d.withColumn("hk", Dedup.hash60(
          concat(lit("strat:"), col("doc_id").cast("string"))))
        .withColumn("rn", row_number().over(wr))
        .join(broadcast(alloc), Seq("lang"))
        .filter(col("rn") <= col("n_alloc"))
        .select(col("doc_id"), col("lang"))
        .orderBy(col("doc_id"))
    }),

    "tx_domain_cap" -> ((s: SparkSession, dir: String) => {
      // per-domain document cap (the crawl-pipeline "max N pages per
      // domain" operator): rank within domain by salted hash — an
      // unbiased, re-run-stable cap — keep rank ≤ 100. Output is the
      // per-domain ledger (total vs kept) plus an order-independent
      // bit_xor fingerprint of the kept ids, so the gate pins the exact
      // survivor SET without shipping it.
      val d = Inputs.parquet(s, dir, "documents")
      val cap = 100
      d.select(col("doc_id"), col("source"),
          Sampling.domainCapRank(col("source"), col("doc_id")).as("rk"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("rk") <= cap, 1L).otherwise(0L)).as("n_kept"),
          bit_xor(when(col("rk") <= cap,
            Dedup.hash60(concat(lit("domcapfp:"), col("doc_id").cast("string")))))
            .as("kept_fp"))
        .orderBy(col("source"))
    }),

    "tx_sample_mix" -> ((s: SparkSession, dir: String) => {
      // source-mixture sampling: each source keeps a deterministic pct
      // of its docs (hash-bucket < weight); reported per source. The
      // only shuffle is the 20-row source aggregate
      val d = Inputs.parquet(s, dir, "documents")
      d.select(col("source"), Sampling.sourcePct(col("source")).as("pct"),
          col("doc_id"))
        .groupBy(col("source"), col("pct"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(Sampling.mixtureKeep(col("doc_id"), col("pct")), 1L)
            .otherwise(0L)).as("n_kept"))
        .orderBy(col("source"))
    }),

    // Weighted sampling without replacement (Efraimidis–Spirakis): the
    // 20 docs with the smallest min-of-w-replica-hash priorities, where
    // w ∈ [1, 6] grows with document length — longer docs are
    // proportionally likelier to be drawn (the quality/length-weighted
    // subsampling step of a data-mixing pipeline). Integer-exact on
    // both engines (Sampling.weightedPriority — no pow/ln); the plan is
    // a map-side projection (bounded ≤6-hash fold fused into the scan)
    // + TakeOrderedAndProject, zero exchanges before the top-k.
    "tx_weighted_sample" -> ((s: SparkSession, dir: String) => {
      val d = Inputs.parquet(s, dir, "documents")
      d.select(col("doc_id"),
          expr("1 + least(5, n_chars div 256)").as("w"))
        .withColumn("priority",
          Sampling.weightedPriority(col("doc_id"), col("w")))
        .orderBy(col("priority"), col("doc_id")).limit(20)
    }),

    "a9_sketch_distinct" -> ((s: SparkSession, dir: String) => {
      // approximate distinct-shingle count per source via a portable
      // 64-register HyperLogLog: bucket = h%64, register = MAX over
      // the bucket of rho(w) = leading-zero count of the remaining 54
      // hash bits + 1 (computed EXACTLY as 55 − length(bin(w)) — both
      // engines' bin() is unpadded, so no libm log2 at bit
      // boundaries); raw estimate = α·m²/Σ 2^(−M_j) with empty
      // registers contributing 2^0, and the standard linear-counting
      // small-range correction (raw ≤ 2.5m and V empty registers > 0
      // → m·ln(m/V)). The sketch is a (source, bucket) MAX aggregate:
      // map-side combinable, mergeable, 64 small ints of state per
      // group — the 100 TB shape (a top-k-smallest KMV would need a
      // per-group sort). α is written as the same IEEE expression on
      // both sides; the only cross-engine float divergence is
      // summation order + a ≤1-ulp ln(), absorbed by round-3.
      // n_exact rides along so the error is visible (spec-asserted).
      val d = Inputs.parquet(s, dir, "documents")
      // materialized once: both the sketch and the exact count (which
      // rides along for error visibility) consume the scan→tokenize→
      // shingle→hash lineage — unchecked, the expensive part runs 2×
      val sh = d.select(col("source"),
          TextOps.tokens(TextOps.normalizeText(col("text"))).as("_ts"))
        .select(col("source"), explode(Dedup.shinglesOf(col("_ts"), 3)).as("g"))
        .select(col("source"), Dedup.hash60(col("g")).as("h"))
        .localCheckpoint(true)
      val est = graft.ops.Sketches.hllDistinct(sh, "source", "h")
      val exact = sh.distinct().groupBy(col("source"))
        .agg(count(lit(1)).as("n_exact"))
      est.join(exact, Seq("source"))
        .select(col("source"), col("n_exact"), col("est_distinct"))
        .orderBy(col("source"))
    }),

    "a10_bloom" -> ((s: SparkSession, dir: String) => {
      // bloom membership over the corpus's normalized-text fingerprints
      // (the cheap pre-filter in front of exact dedup: a new shard's
      // fingerprints probe a BloomBits-sized broadcast instead of
      // joining the full fingerprint universe). Candidates mix present
      // fingerprints with synthetic absent keys; might_contain carries
      // the one-sided guarantee (no false negatives), and the exact
      // presence flag rides along for error visibility — both integer.
      // one fingerprint pass feeds all three consumers (bits build,
      // candidate arm, exact-presence flag) — materialized so the
      // corpus scan + md5 run once, not three times
      val base = Inputs.parquet(s, dir, "documents")
        .select(col("doc_id"), TextOps.fingerprint(col("text")).as("fp"))
        .localCheckpoint(true)
      val bits = graft.ops.Sketches.bloomBitsOf(base.select(col("fp")), "fp")
      val cands = base.filter(col("doc_id") % 10 === 0)
        .select(col("fp").as("key"))
        .unionByName(base.filter(col("doc_id") % 10 === 1)
          .select(md5(concat(lit("absent:"), col("doc_id").cast("string"))).as("key")))
      val present = base.select(col("fp").as("key")).distinct()
        .withColumn("actually_present", lit(1L))
      graft.ops.Sketches.bloomMightContain(cands.distinct(), bits, "key")
        .join(present, Seq("key"), "left")
        .select(col("key"), col("might_contain"),
          coalesce(col("actually_present"), lit(0L)).as("actually_present"))
        .orderBy(col("key"))
    }),

    // KMV ("k minimum values" / bottom-k theta) sketch — the mergeable
    // set sketch that also supports INTERSECTION (what HLL can't do):
    // per-language bottom-64 hash sketch built by a typed Aggregator
    // UDAF (§2.9 surface — bounded O(k) map-side state, partial-agg
    // like any built-in), closed-form distinct estimate beside the
    // exact rider. All integer-derived, so the estimate reproduces
    // bit-for-bit in the oracle's window-rank re-derivation.
    "a13_kmv_theta" -> ((s: SparkSession, dir: String) => {
      import graft.functions.Kmv
      val k = 64
      val d = Inputs.parquet(s, dir, "documents")
        .select(col("lang"), Dedup.hash60(
          concat(lit("kmv:"), col("doc_id").cast("string"))).as("h"))
      d.groupBy(col("lang"))
        .agg(Kmv.sketch(col("h"), k).as("sk"), count(lit(1)).as("n_exact"))
        .select(col("lang"), col("n_exact"),
          when(size(col("sk")) >= k, element_at(col("sk"), k)).as("kth_hash"),
          round(Kmv.estimateDistinct(col("sk"), k), 4).as("est_distinct"))
        .orderBy(col("lang"))
    }),

    // theta-sketch INTERSECTION: |docs containing "spark" ∩ docs
    // containing "data"| estimated by counting common sketch hashes
    // below θ = min of the 64th minima of the full sketches (Kmv.theta),
    // scaled back by the sampled fraction — with the exact intersection
    // as the honesty rider. At 100 TB the two corpus scans reduce
    // map-side to two 64-long arrays before a 1×1 join; nothing
    // row-scale ever shuffles.
    "a14_theta_intersect" -> ((s: SparkSession, dir: String) => {
      import graft.functions.Kmv
      val k = 64
      val flags = Inputs.parquet(s, dir, "documents")
        .select(Dedup.hash60(
            concat(lit("kmv:"), col("doc_id").cast("string"))).as("h"),
          col("text").contains("spark").as("in_a"),
          col("text").contains("data").as("in_b"))
        .localCheckpoint(true)
      val a = flags.filter(col("in_a"))
        .agg(Kmv.sketch(col("h"), k).as("ska"), count(lit(1)).as("n_a"))
      val b = flags.filter(col("in_b"))
        .agg(Kmv.sketch(col("h"), k).as("skb"), count(lit(1)).as("n_b"))
      val exact = flags.filter(col("in_a") && col("in_b"))
        .agg(count(lit(1)).as("n_exact_intersect"))
      a.crossJoin(b).crossJoin(exact)
        .select(col("n_a"), col("n_b"), col("n_exact_intersect"),
          Kmv.theta(col("ska"), col("skb"), k).as("theta"),
          size(filter(array_intersect(col("ska"), col("skb")),
            x => x < Kmv.theta(col("ska"), col("skb"), k)))
            .cast("long").as("n_common_sampled"),
          round(Kmv.estimateIntersection(col("ska"), col("skb"), k), 4)
            .as("est_intersect"))
    }),

    "tx_heavy_hitters" -> ((s: SparkSession, dir: String) => {
      // frequent-shingle (boilerplate) detection with a count-min
      // sketch riding along: top-10 trigram shingles by exact count,
      // each with its CMS point estimate (4×16384 counters, salted md5
      // rows). Counters build from the pre-aggregated exact counts
      // (SUM is linear — one shuffle cheaper than per-occurrence) and
      // everything is integer-exact: the oracle compare needs no
      // rounding at all. est ≥ n_exact is the CMS one-sided guarantee
      // (spec-asserted).
      val d = Inputs.parquet(s, dir, "documents")
      val sh = d.select(TextOps.tokens(TextOps.normalizeText(col("text"))).as("_ts"))
        .select(explode(Dedup.shinglesOf(col("_ts"), 3)).as("g"))
      val exact = sh.groupBy(col("g")).agg(count(lit(1)).as("n_exact"))
        .localCheckpoint(true)
      val counters = graft.ops.Sketches.cmsCounters(exact, "g", "n_exact")
      // 10 rows, but its lineage is a global top-k over the full count
      // table — referenced twice (probe + rejoin), so pin it
      val top = exact.orderBy(col("n_exact").desc, col("g")).limit(10)
        .localCheckpoint(true)
      graft.ops.Sketches.cmsEstimate(top, counters, "g")
        .join(top, Seq("g"))
        .select(col("g").as("shingle"), col("n_exact"), col("est"))
        .orderBy(col("n_exact").desc, col("shingle"))
    }),

    "tx_repetition" -> ((s: SparkSession, dir: String) => {
      // Gopher-style repetition quality: most-frequent token / bigram
      // counts vs totals, integer-exact gate
      TextOps.repetitionFeatures(
          Inputs.parquet(s, dir, "documents"), "doc_id", "text")
        .orderBy(col("doc_id"))
    }),

    "tx_unigram_lm" -> ((s: SparkSession, dir: String) => {
      // CCNet-style LM quality score: per-doc mean unigram log-prob
      // under the corpus's own MLE unigram model. Two aggregates: the
      // vocab-sized count table (broadcast — at 100 TB this becomes
      // top-V + an OOV floor, same plan), then one groupBy(doc) over
      // token instances. ln() of exact integer ratios both engines,
      // sum/count spelled explicitly, round-6 absorbs libm/assoc drift.
      val toks = Inputs.parquet(s, dir, "documents")
        .select(col("doc_id"),
          explode(TextOps.tokens(TextOps.normalizeText(col("text")))).as("tok"))
      val counts = toks.groupBy(col("tok")).agg(count(lit(1)).as("c"))
      val total = counts.agg(sum(col("c")).cast("double").as("n_total"))
      toks.join(broadcast(counts), Seq("tok"))
        .crossJoin(broadcast(total))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_tokens"),
          round(sum(log(col("c").cast("double") / col("n_total")))
            / count(lit(1)), 6).as("avg_logprob"))
        .orderBy(col("doc_id"))
    }),

    // PMI collocations: pointwise mutual information of adjacent word
    // pairs under corpus MLE estimates — the classic phrase-mining
    // signal (word2vec-style phrase detection, corpus diagnostics).
    // Bigrams are minted INSIDE each doc's token array (one `transform`
    // per row, zero self-join, zero positional explode+shuffle): at
    // 100 TB the only wide exchanges are the two count aggregates
    // (map-side partial) and the final joins against the vocab-sized
    // unigram table, which broadcast. The PMI ln() takes a ratio of
    // three exact integer-ratio divisions spelled identically in both
    // engines; round-6 absorbs libm drift.
    "tx_pmi" -> ((s: SparkSession, dir: String) => {
      // tokenize ONCE: both the unigram and the bigram aggregates
      // consume the regex normalize+split lineage — unchecked, the
      // expensive scan stage runs per consumer (the a9 convention)
      val arr = Inputs.parquet(s, dir, "documents")
        .select(TextOps.tokens(TextOps.normalizeText(col("text"))).as("l"))
        .filter(size(col("l")) >= 2)
        .localCheckpoint(true)
      val uni = arr.select(explode(col("l")).as("w"))
        .groupBy(col("w")).agg(count(lit(1)).as("c"))
      val nUni = uni.agg(sum(col("c")).cast("double").as("n_uni"))
      val big = arr.select(explode(expr(
          "transform(sequence(1, size(l) - 1)," +
            " i -> struct(l[i-1] AS w1, l[i] AS w2))")).as("b"))
        .select(col("b.w1").as("w1"), col("b.w2").as("w2"))
        .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c_xy"))
      val nBig = big.agg(sum(col("c_xy")).cast("double").as("n_big"))
      big.filter(col("c_xy") >= 3)
        .join(broadcast(uni.select(col("w").as("w1"), col("c").as("c_x"))),
          Seq("w1"))
        .join(broadcast(uni.select(col("w").as("w2"), col("c").as("c_y"))),
          Seq("w2"))
        .crossJoin(broadcast(nBig)).crossJoin(broadcast(nUni))
        .select(col("w1"), col("w2"), col("c_xy"),
          round(log((col("c_xy").cast("double") / col("n_big")) /
            ((col("c_x").cast("double") / col("n_uni")) *
              (col("c_y").cast("double") / col("n_uni")))), 6).as("pmi"))
        .orderBy(col("pmi").desc, col("w1"), col("w2")).limit(20)
    }),

    // Interpolated bigram language-model scoring: per-doc mean
    // ln(0.75·p(w2|w1) + 0.25·p(w2)) under corpus MLE estimates — the
    // natural next rung above tx_unigram_lm's unigram perplexity (the
    // Jelinek-Mercer smoothing every n-gram quality filter uses so
    // unseen-context bigrams never hit ln(0); every bigram HAS a count
    // here because the model is trained on the scored corpus itself,
    // but the unigram mixture is what generalizes). Same 100 TB shape
    // as tx_pmi: bigrams minted in the token array, count tables are
    // vocab-sized broadcasts, ONE per-doc aggregate.
    "tx_bigram_lm" -> ((s: SparkSession, dir: String) => {
      // tokenize ONCE (the tx_pmi/a9 convention): the tokenized arrays
      // feed the bigram fan-out twice (count build + probe) and the
      // unigram counts — four recomputes of the regex scan otherwise
      val arr = Inputs.parquet(s, dir, "documents")
        .select(col("doc_id"),
          TextOps.tokens(TextOps.normalizeText(col("text"))).as("l"))
        .filter(size(col("l")) >= 2)
        .localCheckpoint(true)
      val bigr = arr.select(col("doc_id"), explode(expr(
          "transform(sequence(1, size(l) - 1)," +
            " i -> struct(l[i-1] AS w1, l[i] AS w2))")).as("b"))
        .select(col("doc_id"), col("b.w1").as("w1"), col("b.w2").as("w2"))
      val bc = bigr.groupBy(col("w1"), col("w2"))
        .agg(count(lit(1)).as("c12"))
      val fromC = bc.groupBy(col("w1")).agg(sum(col("c12")).as("c1"))
      val uni = arr.select(explode(col("l")).as("w"))
        .groupBy(col("w")).agg(count(lit(1)).as("cu"))
      val nTot = uni.agg(sum(col("cu")).cast("double").as("n_tot"))
      bigr
        .join(broadcast(bc), Seq("w1", "w2"))
        .join(broadcast(fromC), Seq("w1"))
        .join(broadcast(uni.select(col("w").as("w2"), col("cu").as("c2"))),
          Seq("w2"))
        .crossJoin(broadcast(nTot))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_bigrams"),
          round(sum(log(
            lit(0.75) * (col("c12").cast("double") / col("c1").cast("double"))
              + lit(0.25) * (col("c2").cast("double") / col("n_tot"))))
            / count(lit(1)), 6).as("avg_logprob"))
        .orderBy(col("doc_id"))
    }),

    "tx_decontaminate" -> ((s: SparkSession, dir: String) => {
      // train/eval decontamination: flag training docs sharing verbatim
      // word 5-grams with the held-out suite (doc_id % 97 == 0 stands in
      // for the benchmark set). The 100 TB shape: the eval shingle set
      // is benchmark-sized → BROADCAST against the corpus scan, so the
      // training shingles never shuffle; only the contaminated matches
      // reach the tiny aggregate. Shingles hashed to 60-bit longs at
      // the scan (the dd_shingle_lsh convention).
      // (id, token) duplicates can only exist WITHIN a doc, so the
      // dedup is per-row array_distinct in the scan stage — the former
      // global distinct() shuffled the whole 5-gram fan-out for nothing
      val sh = Inputs.parquet(s, dir, "documents")
        .select(col("doc_id").as("id"),
          TextOps.tokens(TextOps.normalizeText(col("text"))).as("_ts"))
        .select(col("id"), explode(array_distinct(
          graft.functions.Hash60Array(s,
            Dedup.shinglesOf(col("_ts"), 5)))).as("token"))
      val evalSh = sh.filter(col("id") % 97 === 0)
        .select(col("id").as("eval_id"), col("token"))
      sh.filter(col("id") % 97 =!= 0)
        .join(broadcast(evalSh), Seq("token"))
        .groupBy(col("id").as("doc_id"))
        .agg(countDistinct(col("token")).as("n_shared_ngrams"),
          countDistinct(col("eval_id")).as("n_eval_docs"))
        .filter(col("n_shared_ngrams") >= 3)
        .orderBy(col("doc_id"))
    }),

    "tx_longdup" -> ((s: SparkSession, dir: String) => {
      // verbatim long-duplicate detection (the exact-substring dedup
      // family of Lee et al. 2022 / RefinedWeb): any shared verbatim
      // span of ≥ 20 tokens necessarily shares a complete 20-token
      // window, so rolling word-20-gram window hashes find them with a
      // groupBy instead of a suffix array. The 100 TB shape: windows
      // hash to 60-bit longs IN THE SCAN (no shuffle ever carries the
      // 20-gram strings), only windows with doc-frequency ≥ 2 enter the
      // partner self-join, and a doc-frequency cap (100) bounds the
      // per-window join fan-out — a boilerplate window shared by 10^6
      // docs would otherwise go quadratic; such windows belong to the
      // exact-dedup / boilerplate-strip stages upstream, mirroring the
      // lshCandidates maxBucket policy.
      val W = 20
      // per-doc window dedup happens in the scan row (array_distinct):
      // (id, win) duplicates are within-doc only, so the former global
      // distinct() was a full shuffle of the window fan-out
      // materialized once: three consumers (the doc-frequency
      // aggregate and both partner-join sides) would each re-run the
      // tokenize+shingle+hash scan otherwise
      val wins = Inputs.parquet(s, dir, "documents")
        .select(col("doc_id").as("id"),
          TextOps.tokens(TextOps.normalizeText(col("text"))).as("_ts"))
        .select(col("id"), explode(array_distinct(
          graft.functions.Hash60Array(s,
            Dedup.shinglesOf(col("_ts"), W)))).as("win"))
        .localCheckpoint(true)
      val dupWins = wins.groupBy(col("win"))
        .agg(count(lit(1)).as("_ndocs"))
        .filter(col("_ndocs") >= 2 && col("_ndocs") <= 100)
        .select(col("win"))
      val d = wins.join(dupWins, Seq("win"))
      d.as("a").join(d.as("b"),
          col("a.win") === col("b.win") && col("a.id") =!= col("b.id"))
        .groupBy(col("a.id").as("doc_id"))
        .agg(countDistinct(col("a.win")).as("n_dup_windows"),
          countDistinct(col("b.id")).as("n_partner_docs"))
        .orderBy(col("doc_id"))
    }),

    "tx_pack" -> ((s: SparkSession, dir: String) => {
      // Sequence packing (concat-and-chunk): the pretraining batcher —
      // concatenate documents in a deterministically-shuffled order and
      // cut every C tokens, letting documents straddle chunk boundaries
      // (the GPT/T5 packing scheme, vs padding each doc to C). Two
      // scale decisions: (1) packing is SHARD-LOCAL — the running token
      // sum partitions by `source`, so at 100 TB each shard packs its
      // own stream independently, parallelism is #shards, and no global
      // sort ever exists; (2) the within-shard order is a seeded md5 of
      // doc_id — the deterministic epoch shuffle a training pipeline
      // needs anyway — so adjacent-doc correlation doesn't leak into
      // chunk composition, and reruns are bit-identical. Output is the
      // per-(shard, chunk) manifest: docs touching the chunk, tokens it
      // holds (= C except each shard's tail), docs straddling into the
      // next chunk.
      import org.apache.spark.sql.expressions.Window
      val C = 512
      val d = Inputs.parquet(s, dir, "documents")
        .select(col("doc_id"), col("source"),
          TextOps.tokenCount(col("text")).as("n_tok"),
          Dedup.hash60(concat(lit("packseed:"), col("doc_id").cast("string")))
            .as("ord"))
      val w = Window.partitionBy(col("source"))
        .orderBy(col("ord"), col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val pos = d.withColumn("end_tok", sum(col("n_tok")).over(w))
        .withColumn("start_tok", col("end_tok") - col("n_tok"))
        .filter(col("n_tok") > 0)
        // integer `div`, not floor(double /): the oracle uses DuckDB's
        // integer `//`, and floor over a double quotient can misplace a
        // chunk boundary once a shard's running token sum exceeds 2^53 —
        // both engines must stay in exact integer division (token sums
        // are non-negative, so truncating div == floor div)
        .withColumn("first_bin", expr(s"start_tok div $C"))
        .withColumn("last_bin", expr(s"(end_tok - 1) div $C"))
      // per-doc fan-out is ceil(n_tok/C) chunks — bounded by doc size,
      // never by corpus size, so the explode cannot skew
      pos.select(col("source"), col("start_tok"), col("end_tok"),
          col("last_bin"),
          explode(sequence(col("first_bin"), col("last_bin"))).as("bin"))
        .groupBy(col("source"), col("bin"))
        .agg(count(lit(1)).as("n_docs"),
          sum(least(col("end_tok"), (col("bin") + 1) * C) -
            greatest(col("start_tok"), col("bin") * C)).as("n_tokens"),
          sum(when(col("last_bin") > col("bin"), 1L).otherwise(0L))
            .as("n_straddling"))
        .orderBy(col("source"), col("bin"))
    }),

    "tx_pii_scrub" -> ((s: SparkSession, dir: String) => {
      // PII audit + redaction. The corpus carries no PII, so a
      // deterministic injection (emails on doc_id%3, phones on doc_id%5)
      // reconstructs the production input both engines-side; the op
      // itself is the pure map-side count + replace chain. n_residual
      // proves the scrub converged; the md5 fingerprint pins the
      // redacted bytes exactly.
      val d = Inputs.parquet(s, dir, "documents")
      val txt = concat(col("text"),
        when(col("doc_id") % 3 === 0,
          concat(lit(" contact user"), col("doc_id").cast("string"),
            lit("@example.com now"))).otherwise(lit("")),
        when(col("doc_id") % 5 === 0,
          concat(lit(" call 555-"),
            lpad((col("doc_id") % 1000).cast("string"), 3, "0"), lit("-"),
            lpad(((col("doc_id") * 7) % 10000).cast("string"), 4, "0")))
          .otherwise(lit("")))
      val scrubbed = TextOps.scrubPii(txt)
      val counts = TextOps.piiCounts(txt)
      val residual = TextOps.piiCounts(scrubbed)
        .map(_._2).reduce(_ + _).as("n_residual")
      d.select(Seq(col("doc_id")) ++
          counts.map { case (n, c) => c.as(n) } ++
          Seq(residual, md5(scrubbed).as("scrubbed_fp")): _*)
        .orderBy(col("doc_id"))
    }),

    // ---- dedup ----------------------------------------------------------
    "dd_exact" -> ((s: SparkSession, dir: String) => {
      Dedup.exact(Inputs.parquet(s, dir, "documents"), "doc_id", "text")
        .orderBy(col("fp"))
    }),

    "dd_minhash_sigs" -> ((s: SparkSession, dir: String) => {
      // zero-shuffle: distinct-token arrays + array_min signatures in
      // the scan stage (value-identical to the explode→groupBy form)
      val arrays = Dedup.docTokenArraysHashed(
        Inputs.parquet(s, dir, "documents"), "doc_id", "text", hashed = false)
      Dedup.minhashSignaturesFromArrays(arrays, 4).orderBy(col("id"))
    }),

    "dd_minhash_lsh" -> ((s: SparkSession, dir: String) => {
      verifiedLshPairs(s, dir)
        .orderBy(col("id_a"), col("id_b"))
    }),

    "dd_incremental_lsh" -> ((s: SparkSession, dir: String) => {
      // the INCREMENTAL-maintenance path under the driver gate: serve
      // the accumulated emission log of the persisted-LSH-state
      // machinery. The two-batch state BUILD lives in the memoized
      // [[incLshState]] (Bench's dedicated "incremental_state_build"
      // line) — this query times only the serve, which is the
      // production read path. The oracle unrolls both ingest rounds
      // with each round's own bucket sizing, so the cap-at-ingest
      // semantics are hash-proven at every scale, not just
      // spec-asserted.
      graft.ops.IncrementalDedup.pairsFromTable(s, incLshState(s, dir))
        .orderBy(col("id_a"), col("id_b"))
    }),

    // Copy-on-write MERGE under the driver gate: read back the snapshot
    // table that [[mergedDocsTable]] built (base write + one upsert),
    // oracle = the expected post-merge content recomputed in SQL.
    // Newest-wins, inserts, the file-level COW manifest carry, and the
    // snapshot read path all sit inside this hash; the verbatim-carry /
    // delta / time-travel invariants are pinned in SnapshotTableSpec.
    "s8_merge_upsert" -> ((s: SparkSession, dir: String) => {
      graft.sources.SnapshotTable.read(s, mergedDocsTable(s, dir))
        .orderBy(col("doc_id"))
    }),

    // File-skipping read under the driver gate: a narrow key range over
    // the range-clustered stats table ([[statsDocsTable]]) through
    // readRange — manifest min/max bounds skip the non-intersecting
    // files, the oracle is the plain BETWEEN filter. If pruning ever
    // skipped a file it shouldn't, the hash goes red.
    // Row-level DELETE under the driver gate: read back the snapshot
    // table [[deletedDocsTable]] built (range-clustered base + one
    // keyed delete incl. absent keys), oracle = the plain NOT-IN
    // filter. Completes the DML triad (append / merge / delete) on the
    // same copy-on-write manifest machinery.
    "s8d_delete" -> ((s: SparkSession, dir: String) => {
      // snapshot 2 = post-delete (3 is the CDF fixture's merge)
      graft.sources.SnapshotTable
        .read(s, deletedDocsTable(s, dir), Some(2L))
        .orderBy(col("doc_id"))
    }),

    // Row-level change-data-feed under the driver gate: diff the
    // fixture's merge commit (snapshot 2 → 3). The expected feed is
    // fully derivable from `documents`: a delete+insert pair for every
    // surviving doc_id % 17 == 0 row whose lang actually changed
    // (no-op upserts must cancel — hence the lang <> 'xx' guard on
    // BOTH engines), plus insert rows for the three brand-new keys.
    // Carried survivor rows from the copy-on-write rewrite appear in
    // both file sets and must cancel exactly — any leak goes red.
    "s8e_changes" -> ((s: SparkSession, dir: String) => {
      graft.sources.SnapshotTable
        .changes(s, deletedDocsTable(s, dir), 2L, Some(3L))
        .orderBy(col("doc_id"), col("_change"))
    }),

    // Materialized-view maintenance under the driver gate: a
    // lang-count view initialized from snapshot 1 and folded through
    // the CDF of every later commit (delete, merge, rollback) must
    // equal the direct GROUP BY over the head — the MV identity,
    // maintained at per-commit delta cost. The oracle recomputes the
    // head's counts from scratch.
    "s8j_mv_counts" -> ((s: SparkSession, dir: String) => {
      import graft.sources.SnapshotTable
      val td = deletedDocsTable(s, dir)
      val head = SnapshotTable.currentSnapshot(td)
      val init = SnapshotTable.read(s, td, Some(1L))
        .groupBy(col("lang")).agg(count(lit(1)).as("n"))
      (1L until head).foldLeft(init) { (view, snap) =>
        SnapshotTable.applyCountDelta(view,
          SnapshotTable.changes(s, td, snap, Some(snap + 1)), Seq("lang"))
      }.orderBy(col("lang"))
    }),

    // ROLLBACK under the driver gate: the fixture's snapshot 4 rolls
    // the merge back to the post-delete state, and the table HEAD is
    // read here — the rollback's manifest copy + the read path sit in
    // the hash (same oracle as the post-delete content, reached
    // through a different commit).
    "s8g_rollback" -> ((s: SparkSession, dir: String) => {
      graft.sources.SnapshotTable.read(s, deletedDocsTable(s, dir))
        .orderBy(col("doc_id"))
    }),

    // Order-independent table checksum — the anti-entropy primitive
    // the CDF-replay family needs (replica == primary without shipping
    // rows): COUNT + bit-XOR + modular SUM over a per-row 60-bit
    // content hash, all three mergeable, so at 100 TB the checksum is
    // ONE map-side-combinable aggregate per replica and a
    // constant-size comparison. Computed over the snapshot-table HEAD
    // (after delete + merge + rollback); the oracle re-derives the
    // same checksum from the independently-computed expected content.
    // (The modular sum uses 2^40 so a petabyte-scale row count still
    // fits a BIGINT accumulator; production would widen to a 128-bit
    // or overflow-wrapping sum — same plan.)
    "s8k_checksum" -> ((s: SparkSession, dir: String) => {
      graft.sources.SnapshotTable.read(s, deletedDocsTable(s, dir))
        .select(Dedup.hash60(concat_ws("|",
          col("doc_id").cast("string"), col("source"), col("lang")))
          .as("h"))
        .agg(count(lit(1)).as("n_rows"),
          expr("bit_xor(h)").as("xor_fp"),
          sum(pmod(col("h"), lit(1099511627776L))).as("sum_fp"))
    }),

    // Dynamic partition overwrite under the driver gate: read back the
    // lang-partitioned table after [[partitionedDocsTable]]'s re-land
    // of the 'de' partition; oracle = untouched partitions UNION the
    // re-landed rows.
    "s8f_overwrite_part" -> ((s: SparkSession, dir: String) => {
      graft.sources.SnapshotTable
        .read(s, partitionedDocsTable(s, dir))
        .select(col("doc_id"), col("source"), col("lang"))
        .orderBy(col("doc_id"))
    }),

    // Bloom point read under the driver gate: probe one doc_id against
    // the lang-clustered bloom-indexed table (bounds can't prune; the
    // bloom skips, no-false-negative swept in SnapshotTableSpec);
    // oracle = the plain equality filter.
    "s8h_bloom_point" -> ((s: SparkSession, dir: String) => {
      graft.sources.SnapshotTable
        .readPoint(s, bloomDocsTable(s, dir), "doc_id", "123")
        .orderBy(col("doc_id"))
    }),

    // Metadata-only aggregates under the driver gate: COUNT/MIN/MAX
    // answered purely from the manifest's per-file row counts and
    // bounds — zero data scanned; oracle = the real scan aggregates.
    "s8i_meta_agg" -> ((s: SparkSession, dir: String) => {
      graft.sources.SnapshotTable
        .metadataAggs(s, statsDocsTable(s, dir), "doc_id")
    }),

    "s8b_stats_prune" -> ((s: SparkSession, dir: String) => {
      graft.sources.SnapshotTable
        .readRange(s, statsDocsTable(s, dir), "doc_id", "10", "45")
        .orderBy(col("doc_id"))
    }),

    // 2-D box read over the Z-ORDERED orders table: both range
    // predicates prune through the per-file bounding boxes the Morton
    // layout produces; the oracle is the plain conjunction filter.
    "s8c_zorder_box" -> ((s: SparkSession, dir: String) => {
      graft.sources.SnapshotTable
        .readBox(s, zorderOrdersTable(s, dir), Seq(
          ("o_orderkey", "100", "3000"), ("o_custkey", "1", "75")))
        .orderBy(col("o_orderkey"))
    }),

    "dd_incremental_cos" -> ((s: SparkSession, dir: String) => {
      // the EMBEDDING incremental-maintenance path under the driver
      // gate (the dd_incremental_lsh twin): emission log served against
      // the plain batch signLshPairs SQL — sign cells are
      // data-independent, so incremental union == batch EXACTLY (no cap
      // policy involved). State build memoized in [[incCosState]].
      graft.ops.IncrementalDedup.vecPairsFromTable(s, incCosState(s, dir))
        .orderBy(col("id_a"), col("id_b"))
    }),

    "dd_shingle_lsh" -> ((s: SparkSession, dir: String) => {
      // word-trigram shingles → MinHash → banded LSH → exact Jaccard —
      // the order-sensitive near-dup variant (reordered boilerplate no
      // longer collides). Shingles are hashed to 60-bit md5-prefix ints
      // up front (engine-portable, same construction as simhashPortable)
      // so the verify arrays and every shuffle carry longs, not trigram
      // strings — at sf0.1 this is the difference between 17 s and ~6 s
      // exploded (id, shingle-hash) rows with the dedup done PER ROW
      // (array_distinct before the explode): one less exchange than the
      // former global distinct(), while the signature groupBy and the
      // verify-array groupBy keep their aggregate exchanges — which
      // ReuseExchange shares across the band self-join and both verify
      // probes, so the tokenize+shingle+md5 scan chain executes ONCE.
      // (A fully shuffle-free per-row array formulation was tried and
      // measured 4-14× SLOWER here: without the exchanges every branch
      // re-evaluated the interpreted higher-order shingle chain, and a
      // checkpoint big enough to stop that costs more than the tiny
      // (id, long) shuffles it saves — see OPTIMIZATION_r06.md.)
      val tokens = Inputs.parquet(s, dir, "documents")
        .select(col("doc_id").as("id"),
          TextOps.tokens(TextOps.normalizeText(col("text"))).as("_ts"))
        .select(col("id"),
          explode(array_distinct(Dedup.shinglesOf(col("_ts"), 3))).as("sh"))
        .select(col("id"), Dedup.hash60(col("sh")).as("token"))
      val sigs = Dedup.minhashSignatures(tokens, 4)
      val cands = Dedup.lshCandidates(Dedup.lshBands(sigs, 4, 2), maxBucket = 1000)
      Dedup.jaccardVerify(cands, tokens)
        .filter(col("jaccard") >= 0.8)
        .select(col("id_a"), col("id_b"))
        .orderBy(col("id_a"), col("id_b"))
    }),

    "dd_jaccard_pairs" -> ((s: SparkSession, dir: String) => {
      // token-set Jaccard over blocked candidate pairs (same source, same
      // token count bucket) — relational formulation, SQL-verifiable
      val d = Inputs.parquet(s, dir, "documents")
      // distinct-token arrays straight from the scan (no explode →
      // distinct → groupBy shuffles); raw strings kept because this
      // query's Jaccard is defined over the unhashed token sets
      // materialized once: the verify join probes the arrays from BOTH
      // pair sides, re-running the tokenize scan per side otherwise
      val tokens = Dedup.docTokenArraysHashed(d, "doc_id", "text",
        hashed = false)
        .localCheckpoint(true)
      val block = d.select(col("doc_id"),
        col("source"), (TextOps.tokenCount(col("text")) / 10).cast("long").as("bkt"))
      val pairs = block.as("a").join(block.as("b"),
          col("a.source") === col("b.source") && col("a.bkt") === col("b.bkt") &&
            col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      Dedup.jaccardVerifyArrays(pairs, tokens)
        .filter(col("jaccard") >= 0.9)
        .select(col("id_a"), col("id_b"))
        .orderBy(col("id_a"), col("id_b"))
    }),

    "dd_lsh_clusters" -> ((s: SparkSession, dir: String) => {
      // the dedup ACTION on top of near-dup pairs: connected components
      // over the verified LSH pair graph (transitive closure — A≈B≈C
      // collapse together even when A,C never paired), then one keeper
      // per cluster (min doc id) + cluster size. The CC runs over
      // near-dup EDGES (pair-scale, not corpus-scale); docs without any
      // near-dup never enter the graph.
      lshComponents(s, dir)
        .groupBy(col("component").as("keep_id"))
        .agg(count(lit(1)).as("n_members"))
        .orderBy(col("keep_id"))
    }),

    // ---- text analysis: tf-idf term ranking ------------------------------
    "tx_tfidf_topk" -> ((s: SparkSession, dir: String) => {
      // top-3 characteristic terms per doc, ranked (tf desc, df asc,
      // term) — the integer-exact tf-idf ordering (higher tf, rarer
      // term wins) with no float logarithm to disagree across engines
      import org.apache.spark.sql.expressions.Window
      val d = Inputs.parquet(s, dir, "documents")
      val tok = d.select(col("doc_id"),
        explode(TextOps.tokens(TextOps.normalizeText(col("text")))).as("term"))
      // materialized once: both the df aggregate and the ranking join
      // consume the tokenize+explode+groupBy lineage
      val tf = tok.groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
        .localCheckpoint(true)
      val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
      val w = Window.partitionBy(col("doc_id"))
        .orderBy(col("tf").desc, col("df").asc, col("term").asc)
      tf.join(dfreq, Seq("term"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .select(col("doc_id"), col("term"), col("tf"), col("df"))
        .orderBy(col("doc_id"), col("term"))
    }),

    // ---- RAG chunking: overlapping token windows ------------------------
    // Scan-stage explode (size 64 / stride 48), chunk content pinned
    // via the 60-bit fingerprint — chunk-level dedup/decontamination
    // plug into the same hash machinery as documents.
    "tx_chunk" -> ((s: SparkSession, dir: String) => {
      graft.ops.TextOps.chunkTokens(
        Inputs.parquet(s, dir, "documents"), "doc_id", "text")
        .orderBy(col("doc_id"), col("start_tok"))
    }),

    // ---- data-quality expectations (write-time contracts) --------------
    // ONE map-side-combinable aggregate computes every check's
    // violation count + the rows passing ALL checks — the observe mode
    // of the contract layer whose enforce mode fronts snapshot-table
    // writes (ExpectationsSpec pins the refuse-commit composition).
    // NULL predicate = violation (affirmative contracts) on BOTH
    // engines via the same COALESCE(pred, FALSE) shape.
    "tx_expectations" -> ((s: SparkSession, dir: String) => {
      import graft.ops.{Expectations, TextOps}
      val d = Inputs.parquet(s, dir, "documents")
      Expectations.ledger(d, Seq(
        "doc_id_present" -> col("doc_id").isNotNull,
        "lang_known" -> col("lang").isin("en", "de", "fr", "es", "zh"),
        "min_20_tokens" -> (TextOps.tokenCount(col("text")) >= 20),
        "nchars_consistent" -> (col("n_chars") === length(col("text")))))
        .orderBy(col("check"))
    }),

    // ---- retrieval: inverted index (df-capped) -------------------------
    // The posting-list build with the hot-term cap: terms with df >
    // N/2 (every hot term in this fixture) are dropped BEFORE any list
    // materializes; the surviving lists are pinned exactly via the
    // 60-bit-xor fingerprint, and the kept/dropped ledger rides along.
    "tx_inverted_index" -> ((s: SparkSession, dir: String) => {
      import graft.ops.{Dedup, Retrieval}
      val d = Inputs.parquet(s, dir, "documents")
      val cap = d.count() / 2
      val (index, ledger) = Retrieval.invertedIndex(d, "doc_id", "text", cap)
      index.select(col("term"), col("df"),
          size(col("postings")).cast("long").as("n_postings"),
          element_at(col("postings"), 1).as("first_doc"),
          element_at(col("postings"), -1).as("last_doc"),
          aggregate(col("postings"), lit(0L),
            (acc, x) => acc.bitwiseXOR(Dedup.hash60(x.cast("string"))))
            .as("postings_fp"))
        .crossJoin(broadcast(ledger))
        .orderBy(col("term"))
    }),

    // ---- retrieval: BM25 top-k (rational idf, bit-exact doubles) -------
    // Engine-portable BM25: the libm-log idf is replaced by its
    // rational argument (per-term order-equivalent), every remaining
    // op is IEEE-754 correctly-rounded and mirrored operation-for-
    // operation in the oracle, so the double scores hash EXACTLY
    // (the cosine-gate convention — no rounding anywhere).
    "tx_bm25_topk" -> ((s: SparkSession, dir: String) => {
      graft.ops.Retrieval.bm25TopK(
        Inputs.parquet(s, dir, "documents"), "doc_id", "text",
        Seq("vector", "customer", "dup"), k = 20)
    }),

    "dd_simhash" -> ((s: SparkSession, dir: String) => {
      // engine-portable 60-bit md5 SimHash — hash-verified by the DuckDB
      // oracle
      val d = Inputs.parquet(s, dir, "documents")
      d.select(col("doc_id"), Dedup.simhashPortable(col("text")).as("sh"))
        .orderBy(col("doc_id"))
    }),

    "dd_embedding_cosine" -> ((s: SparkSession, dir: String) => {
      // embedding near-dup pairs blocked by the deterministic sign-plane
      // quantizer (2 bands × 4 planes = 16 cells/band, data-independent)
      Similarity.signLshPairs(Inputs.parquet(s, dir, "embeddings"),
          "vec_id", "embedding", planes = 4, bands = 2, threshold = 0.4)
        .select(col("id_a"), col("id_b"))
        .orderBy(col("id_a"), col("id_b"))
    }),

    // ---- multimodal (binary payload → features, decode-stub seam) -------
    "mm_features" -> ((s: SparkSession, dir: String) => {
      import graft.ops.Multimodal
      // payload count scales with the sf (docs/10); the binary payloads
      // never shuffle — features extracted in the scan stage, then one
      // row per (media_ref, histogram bucket) for the SQL compare
      val n = (graft.queries.KgQueries.nDocsFor(dir) / 10).toInt
      val feats = Multimodal.extractFeatures(Multimodal.mediaBinary(s, n, 8))
        .toDF()
      // integer bucket counts (share × n_bytes recovers them exactly):
      // float32 shares rounded to 6 decimals can flip against the
      // oracle's exact rationals near boundaries; counts cannot
      feats.select(col("media_ref"), col("kind"), col("n_bytes"),
          posexplode(col("features")).as(Seq("bucket", "share")))
        .withColumn("cnt",
          round(col("share").cast("double") * col("n_bytes")).cast("long"))
        .drop("share")
        .orderBy(col("media_ref"), col("bucket"))
    }),

    // REAL compressed-image decode under the driver gate: payloads are
    // genuine PNG bytes (zlib IDAT, per-row filter cycling through all
    // five types), decoded by Multimodal.decodePng (JDK Inflater +
    // filter reconstruction). The oracle recomputes expected channel
    // sums + luma-histogram counts from the RASTER FORMULA (pngRaster's
    // LCG) — it never sees the compressed bytes — so the whole
    // encode → deflate → inflate → unfilter → feature path must be
    // byte-correct for the hash to match. Features come back as exact
    // integers (sums/counts recovered from the float32 shares: n ≤ 384
    // pixels keeps the round() recovery exact). Payloads never shuffle;
    // decode runs in the scan stage, only (ref, bucket, cnt) rows move.
    "mm_png_features" -> ((s: SparkSession, dir: String) => {
      import graft.ops.Multimodal
      val n = (graft.queries.KgQueries.nDocsFor(dir) / 10).toInt
      val npx = 24 * 16
      val feats = Multimodal.extractFeatures(
        Multimodal.pngMedia(s, n, 8), Multimodal.decodePng).toDF()
      feats.select(col("media_ref"),
          posexplode(col("features")).as(Seq("bucket", "share")))
        .withColumn("cnt",
          when(col("bucket") < 3,
            round(col("share").cast("double") * npx * 255))
          .otherwise(round(col("share").cast("double") * npx)).cast("long"))
        .drop("share")
        .orderBy(col("media_ref"), col("bucket"))
    }),

    // REAL audio decode under the driver gate: payloads are genuine
    // RIFF/WAVE PCM16 bytes (incl. an ancillary LIST chunk the parser
    // must skip), decoded by Multimodal.decodeWav. PCM is lossless, so
    // like mm_png_features the oracle recomputes expected features from
    // the SAMPLE FORMULA; 256 samples/clip keeps every sum exactly
    // recoverable from the float32 shares. Payloads never shuffle.
    "mm_wav_features" -> ((s: SparkSession, dir: String) => {
      import graft.ops.Multimodal
      val n = (graft.queries.KgQueries.nDocsFor(dir) / 10).toInt
      val ns = 256
      val feats = Multimodal.extractFeatures(
        Multimodal.wavMedia(s, n, 8), Multimodal.decodeWav).toDF()
      feats.select(col("media_ref"),
          posexplode(col("features")).as(Seq("bucket", "share")))
        .withColumn("cnt",
          when(col("bucket") < 2,
            round(col("share").cast("double") * ns * 32768))
          .otherwise(round(col("share").cast("double") * ns)).cast("long"))
        .drop("share")
        .orderBy(col("media_ref"), col("bucket"))
    }),

    // REAL lossy-image decode under the driver gate: payloads are
    // genuine baseline JPEG bytes (JDK ImageIO writer at quality 0.95),
    // decoded by the JDK's bundled ImageIO reader — no external libs.
    // JPEG reconstruction is lossy, so unlike mm_png_features the gate
    // hashes (a) the DECODED dimensions, which are exact (parsed SOF
    // header), and (b) a bounded-error flag: decoded channel means
    // within 0.03 of the source raster formula's. A broken decode
    // (wrong dims, garbage raster, zero vector) turns the hash red.
    "mm_jpeg_features" -> ((s: SparkSession, dir: String) => {
      import graft.ops.Multimodal
      val n = (graft.queries.KgQueries.nDocsFor(dir) / 10).toInt
      Multimodal.jpegFeatures(Multimodal.jpegMedia(s, n, 8))
        .orderBy(col("media_ref"))
    }),

    // ---- similarity search ---------------------------------------------
    "sim_ann_topk" -> ((s: SparkSession, dir: String) => {
      // brute-force cosine top-k against the vec_id=0 query vector
      val e = Inputs.parquet(s, dir, "embeddings")
      val q = e.filter(col("vec_id") === 0).select(col("embedding"))
        .head().getSeq[Float](0).toArray
      // top-10 selected by the ORACLE's (round-6 cos, vec_id) order —
      // an unrounded limit could disagree at a 6-dp tie on the boundary;
      // the plan is still scan → project → TakeOrderedAndProject
      e.filter(col("vec_id") =!= 0)
        .select(col("vec_id"),
          round(Similarity.cosine(col("embedding"), lit(q)), 6).as("cos_r"))
        .orderBy(col("cos_r").desc, col("vec_id"))
        .limit(10)
    }),

    "sim_ivf_topk" -> ((s: SparkSession, dir: String) => {
      // IVF ANN: coarse cells from 8 seed centroids (vec_id 1..8 — a
      // k-means refinement would only change the centroid array), the
      // query probes its 2 nearest cells, exact cosine within. The
      // assignment is an inline literal-centroid argmax: zero shuffle,
      // the whole operator is scan → project → filter → TakeOrdered
      val e = Inputs.parquet(s, dir, "embeddings")
      val cents = e.filter(col("vec_id").between(1, 8))
        .select(col("vec_id"), col("embedding")).collect()
        .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
        .sortBy(_._1)
      val q = e.filter(col("vec_id") === 0).select(col("embedding"))
        .head().getSeq[Float](0).toArray
      val data = e.filter(col("vec_id") =!= 0)
      // recall rider: the lshDroppedBuckets analogue for the ANN path,
      // exactly like the HLL sketch's verification-only exact-count arm
      withRecallRider(
        Similarity.ivfTopK(data, "vec_id", "embedding", cents, q,
          nprobe = 2, k = 10),
        data, q, "cos_r")
    }),

    "sim_sq_topk" -> ((s: SparkSession, dir: String) => {
      // scalar-quantized (int8-style) ANN: unit-normalize, quantize each
      // component to floor(u·127), score by the all-integer dot product
      // (≈ cosine·127²) → TakeOrderedAndProject. The integer score is
      // hash-exact with no rounding convention; the recall rider
      // measures the quantization loss against the exact cosine top-10
      // the same way sim_ivf_topk accounts for its probes.
      val e = Inputs.parquet(s, dir, "embeddings")
      val q = e.filter(col("vec_id") === 0).select(col("embedding"))
        .head().getSeq[Float](0).toArray
      val qq = Similarity.quantizeLocal(q)
      val data = e.filter(col("vec_id") =!= 0)
      withRecallRider(
        Similarity.scalarQuantTopK(data, "vec_id", "embedding", qq, k = 10),
        data, q, "qdot")
    }),

    "sim_pq_topk" -> ((s: SparkSession, dir: String) => {
      // product-quantization ANN with exact re-rank (the IVFPQ serving
      // shape): 8 sub-spaces × 16 codewords (seed vectors 1..16 as the
      // codebook, the IVF-centroid convention) score a 50-vector
      // shortlist from 8-byte codes — vectors untouched, integer ADC at
      // a 1e-6 grain — then ONLY the shortlist's 50 full vectors are
      // fetched (broadcast join: the 100 TB analogue of the random
      // reads a rerank pays) for the exact-cosine top-10. The recall
      // rider accounts for the shortlist's loss against the exact
      // cosine top-10, like sim_ivf_topk's probe accounting.
      val e = Inputs.parquet(s, dir, "embeddings")
      val q = e.filter(col("vec_id") === 0).select(col("embedding"))
        .head().getSeq[Float](0).toArray
      val cb = e.filter(col("vec_id").between(1, 16))
        .select(col("vec_id"), col("embedding")).collect()
        .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
      val data = e.filter(col("vec_id") =!= 0)
      val shortlist = Similarity.pqTopK(data, "vec_id", "embedding", cb, q,
        subspaces = 8, k = 50)
      val rr = data
        .join(broadcast(shortlist.select(col("vec_id"))), Seq("vec_id"))
        .select(col("vec_id"),
          round(Similarity.cosine(col("embedding"), lit(q)), 6).as("cos_r"))
        .orderBy(col("cos_r").desc, col("vec_id"))
        .limit(10)
      withRecallRider(rr, data, q, "cos_r")
    }),

    "sim_kmeans" -> ((s: SparkSession, dir: String) => {
      // two Lloyd iterations refining the IVF seed centroids — the
      // SemDeDup-style clustering step. Assignment is an inline-literal
      // argmin (zero shuffle); each update is one map-side-combinable
      // k×(d+1) aggregate. Integer-exact gate: per-cluster counts plus
      // exact scaled component sums (see Similarity.kmeans).
      Similarity.kmeans(Inputs.parquet(s, dir, "embeddings"),
        "vec_id", "embedding", seedIds = 1L to 8L, iters = 2)
    }),

    "sim_semdedup" -> ((s: SparkSession, dir: String) => {
      // the SemDeDup ACTION: k-means cells gate sign-LSH-bucketed
      // candidate pairs, exact cosine verifies, lower-id keeper wins —
      // the vectors never cross-product, even within a cluster
      Similarity.semDedup(Inputs.parquet(s, dir, "embeddings"),
        "vec_id", "embedding", seedIds = 1L to 8L, iters = 2,
        planes = 4, bands = 2, threshold = 0.4)
    }),

    "sim_lsh_buckets" -> ((s: SparkSession, dir: String) => {
      // hyperplane-LSH candidates: Spark-native hash planes; rows-only check
      Similarity.lshCandidates(Inputs.parquet(s, dir, "embeddings"),
          "vec_id", "embedding", planes = 8)
        .select(col("id_a"), col("id_b"))
        .orderBy(col("id_a"), col("id_b"))
    }),

    // ---- event stream (batch view of streaming semantics) ---------------
    "ev_tumbling_window" -> ((s: SparkSession, dir: String) => {
      // event-time tumbling window aggregation (batch equivalent of the
      // Structured Streaming plan in graft.streaming)
      val e = Inputs.parquet(s, dir, "events")
      e.groupBy(date_trunc("hour", col("ts")).as("win"), col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_v"))
        .orderBy(col("win"), col("event_type"))
    }),

    "ev_sessionize" -> ((s: SparkSession, dir: String) => {
      // session id = cumulative count of >30-min gaps per user (lag window)
      import org.apache.spark.sql.expressions.Window
      val e = Inputs.parquet(s, dir, "events")
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val gapped = e.withColumn("prev_ts", lag(col("ts"), 1).over(w))
        .withColumn("new_sess",
          when(col("prev_ts").isNull ||
            unix_timestamp(col("ts")) - unix_timestamp(col("prev_ts")) > 1800, 1)
            .otherwise(0))
      gapped.withColumn("sess_id",
          sum(col("new_sess")).over(w.rowsBetween(Window.unboundedPreceding, 0)))
        .groupBy(col("user_id"), col("sess_id"))
        .agg(count(lit(1)).as("n_events"))
        .orderBy(col("user_id"), col("sess_id"))
    }),

    "ev_asof_join" -> ((s: SparkSession, dir: String) => {
      // as-of join: each click paired with the user's latest view at or
      // before it — the classic time-series enrichment. Composed from
      // existing operators (one window pass over the union of both
      // event streams: last_value ignoreNulls), NOT an O(clicks×views)
      // join: a single shuffle on user_id, linear scan per user.
      import org.apache.spark.sql.expressions.Window
      val e = Inputs.parquet(s, dir, "events")
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, 0)
      e.withColumn("_v_ts", when(col("event_type") === "view", col("ts")))
        .withColumn("last_view_ts", last(col("_v_ts"), ignoreNulls = true).over(w))
        .filter(col("event_type") === "click")
        .select(col("user_id"), col("event_id"), col("ts"), col("last_view_ts"))
        .orderBy(col("user_id"), col("event_id"))
    }),

    "ev_range_join" -> ((s: SparkSession, dir: String) => {
      // interval (range) join: every view that falls inside any
      // same-user click attribution window (click_ts, click_ts + 1 h].
      // The scale shape is a BANDED equi-join, not an inequality join:
      // bucket granularity == window length, so each click interval
      // spans exactly two buckets — clicks explode to ≤ 2 (user,
      // bucket) keys, views carry 1, the join is a plain shuffle
      // equi-join on (user_id, bucket) and the exact interval predicate
      // prunes inside the join — candidate space is O(co-bucketed
      // rows), never O(clicks × views) per user. Timestamps compare as
      // native timestamps (no epoch conversion to drift); the banding
      // runs on unix_micros. Pairs dedup (a pair can match via both
      // buckets? no — each (click, view) shares exactly the view's one
      // bucket; distinct guards the semantics anyway), then a per-user
      // ledger with an order-independent pair fingerprint.
      val e = Inputs.parquet(s, dir, "events")
      val winUs = 3600L * 1000000L
      val clicks = e.filter(col("event_type") === "click")
        .select(col("user_id"), col("event_id").as("click_id"),
          col("ts").as("cts"),
          expr(s"unix_micros(cast(ts as timestamp)) div $winUs").as("b0"))
      val cb = clicks.select(col("user_id"), col("click_id"), col("cts"),
        explode(array_distinct(array(col("b0"), col("b0") + 1))).as("bucket"))
      val views = e.filter(col("event_type") === "view")
        .select(col("user_id"), col("event_id").as("view_id"),
          col("ts").as("vts"),
          expr(s"unix_micros(cast(ts as timestamp)) div $winUs").as("bucket"))
      val pairs = cb.join(views, Seq("user_id", "bucket"))
        .filter(col("vts") > col("cts") &&
          col("vts") <= col("cts") + expr("INTERVAL 1 HOUR"))
        .select(col("user_id"), col("click_id"), col("view_id"))
        .distinct()
      pairs.groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_pairs"),
          countDistinct(col("view_id")).as("n_views"),
          bit_xor(Dedup.hash60(concat(col("click_id").cast("string"),
            lit(":"), col("view_id").cast("string")))).as("pair_fp"))
        .orderBy(col("user_id"))
    }),

    "ev_json_extract" -> ((s: SparkSession, dir: String) => {
      // semi-structured extraction: JSON props column → typed key, then
      // aggregate — get_json_object is codegen'd, no UDF
      val e = Inputs.parquet(s, dir, "events")
      e.select(get_json_object(col("props"), "$.k").cast("long").as("k"),
          col("value"))
        .groupBy(col("k"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_v"))
        .orderBy(col("k"))
    }),

    "ev_dedup_first" -> ((s: SparkSession, dir: String) => {
      // keep-first dedup by (user_id, event_type) — streaming dropDuplicates
      // semantics, deterministic batch formulation
      import org.apache.spark.sql.expressions.Window
      val e = Inputs.parquet(s, dir, "events")
      val w = Window.partitionBy(col("user_id"), col("event_type"))
        .orderBy(col("ts"), col("event_id"))
      e.withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("user_id"), col("event_type"), col("event_id"))
        .orderBy(col("user_id"), col("event_type"))
    }),

    "ev_retention" -> ((s: SparkSession, dir: String) => {
      // daily cohort retention (the product-analytics counterpart of
      // the funnel): users grouped by their first-activity day, with
      // next-day and day-7 return counts. One distinct (user, day)
      // frame feeds the cohort min-aggregate and both return probes —
      // every join and aggregate keys on user_id or the day-dimension
      // cohort, so the plan is two user-keyed shuffles plus
      // dimension-sized joins; day ids are epoch-days (BIGINT), no
      // timezone in the gate.
      val e = Inputs.parquet(s, dir, "events")
      val days = e.select(col("user_id"),
          floor(unix_timestamp(col("ts")) / 86400L).cast("long").as("day"))
        .distinct()
        .localCheckpoint(true) // feeds cohort + both return probes
      val cohort = days.groupBy(col("user_id")).agg(min(col("day")).as("c_day"))
        .localCheckpoint(true) // referenced by base + two probes
      val base = cohort.groupBy(col("c_day")).agg(count(lit(1)).as("n_users"))
      def returned(k: Int) = cohort.as("c").join(days.as("d"),
          col("d.user_id") === col("c.user_id") &&
            col("d.day") === col("c.c_day") + k, "left_semi")
        .groupBy(col("c_day")).agg(count(lit(1)).as(s"n_d$k"))
      base
        .join(returned(1), Seq("c_day"), "left")
        .join(returned(7), Seq("c_day"), "left")
        .select(col("c_day").as("cohort_day"), col("n_users"),
          coalesce(col("n_d1"), lit(0L)).as("n_d1"),
          coalesce(col("n_d7"), lit(0L)).as("n_d7"))
        .orderBy(col("cohort_day"))
    }),

    "ev_anomaly" -> ((s: SparkSession, dir: String) => {
      // volume-anomaly detection: per event type, 10-minute windows
      // whose event count deviates ≥ 2 sample standard deviations from
      // that type's mean window count — the monitoring staple. Mean and
      // std come from EXACT integer sums (n, Σc, Σc²) so both engines
      // run the identical closed-form float expression once per
      // (type, window); the per-type stats are a 5-row broadcast. Types
      // with zero variance (or < 2 windows) emit nothing by definition.
      val e = Inputs.parquet(s, dir, "events")
      val win = (floor(unix_timestamp(col("ts")) / 600L) * 600L).cast("long")
      val counts = e.groupBy(col("event_type"), win.as("win_start"))
        .agg(count(lit(1)).as("c"))
        .localCheckpoint(true) // feeds the stats aggregate AND the probe
      val stats = counts.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("c")).as("sc"),
          sum(col("c") * col("c")).as("scc"))
      counts.join(broadcast(stats), Seq("event_type"))
        .filter(col("n") >= 2 && col("n") * col("scc") - col("sc") * col("sc") > 0)
        .withColumn("z", round(
          (col("c").cast("double") - col("sc").cast("double") / col("n"))
            / sqrt((col("n") * col("scc") - col("sc") * col("sc")).cast("double")
              / (col("n").cast("double") * (col("n") - 1))), 6))
        .filter(abs(col("z")) >= 2.0)
        .select(col("event_type"), col("win_start"), col("c").as("n_events"),
          col("z"))
        .orderBy(col("event_type"), col("win_start"))
    }),

    "ev_window_distinct" -> ((s: SparkSession, dir: String) => {
      // windowed cardinality: distinct users per 10-minute tumbling
      // window, exact count + the portable mergeable-HLL estimate
      // riding along — the streaming-analytics staple where at 100 TB
      // the exact count's per-window key universe shuffle gives way to
      // the 64-register sketch (map-side combinable; the same sketch
      // the snapshot-table maintenance persists incrementally). Window
      // starts as BIGINT epoch seconds, the ev_hopping_window
      // convention.
      val e = Inputs.parquet(s, dir, "events")
      val size = 600L
      // one scan feeds both the sketch and the exact rider
      val hashed = e.select(
          (floor(unix_timestamp(col("ts")) / size) * size).cast("long")
            .as("win_start"),
          Dedup.hash60(concat(lit("evwd:"), col("user_id").cast("string")))
            .as("h"))
        .localCheckpoint(true)
      val est = graft.ops.Sketches.hllDistinct(hashed, "win_start", "h")
      val exact = hashed.distinct().groupBy(col("win_start"))
        .agg(count(lit(1)).as("n_exact"))
      est.join(exact, Seq("win_start"))
        .select(col("win_start"), col("n_exact"), col("est_distinct"))
        .orderBy(col("win_start"))
    }),

    "ev_hopping_window" -> ((s: SparkSession, dir: String) => {
      // hopping (sliding) window aggregation: 10-min windows sliding
      // every 5 min — the batch twin of Structured Streaming's
      // window(ts, "10 minutes", "5 minutes"). With size = 2×slide each
      // event belongs to exactly two windows, so the expansion is a
      // bounded explode (fan-out 2, never data-dependent) followed by
      // the same partial-aggregating groupBy as the tumbling window.
      // Window starts are emitted as BIGINT epoch seconds so neither
      // engine's timestamp/timezone rendering enters the hash gate.
      val e = Inputs.parquet(s, dir, "events")
      val slide = 300L
      val w1 = (floor(unix_timestamp(col("ts")) / slide) * slide).cast("long")
      e.select(col("event_type"), col("value"),
          explode(array(w1, w1 - slide)).as("win_start"))
        .groupBy(col("win_start"), col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_v"))
        .orderBy(col("win_start"), col("event_type"))
    }),

    "ev_rolling_avg" -> ((s: SparkSession, dir: String) => {
      // per-user rolling mean over the last 3 events (ROWS frame — the
      // moving-average shape the ev_* suite lacked: sessionize uses lag,
      // asof uses last_value, median/quantiles use rank; this pins the
      // bounded-preceding sliding frame). One shuffle on user_id, linear
      // scan per user; the frame sum is exact decimal and only the final
      // division goes through double + round(6).
      import org.apache.spark.sql.expressions.Window
      val e = Inputs.parquet(s, dir, "events")
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id")).rowsBetween(-2, 0)
      e.select(col("user_id"), col("event_id"),
          round(sum(col("value").cast("decimal(18,2)")).over(w).cast("double")
            / count(lit(1)).over(w), 6).as("roll_avg"))
        .orderBy(col("user_id"), col("event_id"))
    }),

    // First-order Markov transition matrix over each user's event
    // sequence (the product-analytics "behavior model" / next-event
    // predictor): consecutive event-type pairs per user via ONE
    // user-partitioned lead() window (a single shuffle on user_id; no
    // self-join on position), then event-type²-sized count + normalize
    // aggregates — at 100 TB the matrix is vocabulary-sized, so
    // everything after the window stage is broadcast-trivial.
    "ev_markov" -> ((s: SparkSession, dir: String) => {
      import org.apache.spark.sql.expressions.Window
      val e = Inputs.parquet(s, dir, "events")
        .select(col("user_id"), col("event_type"), col("ts"), col("event_id"))
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      val trans = e.withColumn("to_type", lead(col("event_type"), 1).over(w))
        .filter(col("to_type").isNotNull)
        .groupBy(col("event_type").as("from_type"), col("to_type"))
        .agg(count(lit(1)).as("n"))
      val totals = trans.groupBy(col("from_type"))
        .agg(sum(col("n")).as("n_from"))
      trans.join(broadcast(totals), Seq("from_type"))
        .select(col("from_type"), col("to_type"), col("n"),
          round(col("n").cast("double") / col("n_from").cast("double"), 6)
            .as("p"))
        .orderBy(col("from_type"), col("to_type"))
    }),

    // SCD2 (type-2 slowly-changing-dimension) build from the event
    // stream: per user, runs of consecutive equal event_type collapse
    // into versioned dimension rows with [valid_from, valid_to) windows
    // and an is_current flag — the standard warehouse dimension-history
    // operator. ONE shuffle total: the lag/run-id windows partition by
    // user_id, and every later window/groupBy clusters on a superset of
    // user_id, which Spark's ClusteredDistribution subset rule satisfies
    // from the same exchange (no re-shuffle at 100 TB either — the
    // partitioning is carried through).
    "ev_scd2" -> ((s: SparkSession, dir: String) => {
      val e = Inputs.parquet(s, dir, "events")
        .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      graft.ops.Scd2.runs(e).orderBy(col("user_id"), col("version"))
    }),

    // INCREMENTAL SCD2 maintenance under the driver gate: the dimension
    // table is built from the FIRST HALF of the event stream, then the
    // second half is folded in by ops.Scd2.applyIncrement — which
    // rewrites only the affected users' OPEN rows via a stats-pruned
    // snapshot-table MERGE (closed history is never read). The oracle is
    // the full-batch SCD2 SQL over ALL events, so a green row proves
    // incremental == batch exactly — the dimension-history member of the
    // incremental-maintenance family (LSH postings, HLL, CMS, Bloom,
    // canonical triples).
    // Write–audit–publish through named refs: the gate reads the
    // GOVERNED `main` ref of the WAP fixture — base rows plus the
    // corrected (re-audited) batch, never the staged nulls. The ref
    // machinery (create-new tags, CAS fast-forward, expire-honors-refs)
    // is spec-pinned in SnapshotTableSpec; this row pins the composed
    // WAP outcome against an independent SQL derivation.
    "s8m_wap" -> ((s: SparkSession, dir: String) => {
      graft.sources.SnapshotTable.readRef(s, wapDocsTable(s, dir), "main")
        .orderBy(col("doc_id"))
    }),

    "s8l_scd2_merge" -> ((s: SparkSession, dir: String) => {
      graft.sources.SnapshotTable.read(s, scd2DimTable(s, dir))
        .select(col("user_id"), col("version"), col("state"),
          col("valid_from"), col("valid_to"), col("n_events"),
          col("is_current"))
        .orderBy(col("user_id"), col("version"))
    }),

    // Leakage-safe train/eval split: the curriculum/eval-builder rule
    // that near-duplicate documents must never straddle the split (or
    // eval leaks train content). Composes the shared verified-LSH-pair
    // memo → connected components (pair-scale edges) → one left join
    // back to the corpus; the split side is the salted hash of the
    // CLUSTER REPRESENTATIVE, so every member of a near-dup cluster
    // lands on the same side by construction, and singleton docs hash
    // on their own id. Rerun-stable (pure hash, no RNG), one
    // corpus-scale shuffle (the join).
    "tx_leakage_split" -> ((s: SparkSession, dir: String) => {
      val d = Inputs.parquet(s, dir, "documents").select(col("doc_id"))
      val comp = lshComponents(s, dir)
        .select(col("node").as("doc_id"), col("component"))
      d.join(comp, Seq("doc_id"), "left")
        .withColumn("rep", coalesce(col("component"), col("doc_id")))
        .withColumn("split",
          when(pmod(Dedup.hash60(
            concat(lit("lsplit:"), col("rep").cast("string"))), lit(10L)) < 8,
            lit("train")).otherwise(lit("eval")))
        .select(col("doc_id"), col("rep"), col("split"))
        .orderBy(col("doc_id"))
    }),

    "ev_funnel" -> ((s: SparkSession, dir: String) => {
      // ordered funnel analysis (view → click → purchase): per user, the
      // first view, the first click strictly after that view, the first
      // purchase strictly after that click — the product-analytics
      // staple. Three conditional min-aggregates chained by equi-joins
      // on user_id (every join and groupBy shares the ONE shuffle key,
      // so AQE plans at most one exchange per stage and the stage
      // outputs are user-dimension sized); no window over the full
      // event stream and no per-user sort is ever materialized.
      val e = Inputs.parquet(s, dir, "events")
        .select(col("user_id"), col("event_type"), col("ts"))
      val v = e.filter(col("event_type") === "view")
        .groupBy(col("user_id")).agg(min(col("ts")).as("v_ts"))
      val c = e.filter(col("event_type") === "click")
        .join(v, Seq("user_id")).filter(col("ts") > col("v_ts"))
        .groupBy(col("user_id")).agg(min(col("ts")).as("c_ts"))
      val p = e.filter(col("event_type") === "purchase")
        .join(c, Seq("user_id")).filter(col("ts") > col("c_ts"))
        .groupBy(col("user_id")).agg(min(col("ts")).as("p_ts"))
      e.select(col("user_id")).distinct()
        .join(v, Seq("user_id"), "left")
        .join(c, Seq("user_id"), "left")
        .join(p, Seq("user_id"), "left")
        .select(col("user_id"),
          when(col("p_ts").isNotNull, 3L)
            .when(col("c_ts").isNotNull, 2L)
            .when(col("v_ts").isNotNull, 1L)
            .otherwise(0L).as("funnel_depth"))
        .orderBy(col("user_id"))
    }),

    "tx_dsir" -> ((s: SparkSession, dir: String) => {
      // DSIR-style importance weights (Xie et al. 2023, "Data Selection
      // for Language Models via Importance Resampling"): score every
      // document by how much more likely its hashed-bigram features are
      // under the target distribution (here: the lang='en' slice) than
      // under the raw corpus — the standard pretraining-data reweighting
      // step. The 100 TB shape: both feature models are FIXED-SIZE
      // (1024 hash buckets regardless of vocabulary), so the count
      // tables and totals BROADCAST and the corpus-side bigrams never
      // shuffle — the only wide exchange is the final groupBy(doc_id).
      // Laplace (+1) smoothing keeps unseen buckets finite; per-doc
      // scores aggregate per (doc, bucket) with integer counts first so
      // the float log-sum runs over ≤1024 terms (round-6 absorbs libm
      // and association drift, the tx_unigram_lm convention).
      val B = 1024
      val bg = Inputs.parquet(s, dir, "documents")
        .select(col("doc_id"), col("lang"),
          TextOps.tokens(TextOps.normalizeText(col("text"))).as("_ts"))
        .select(col("doc_id"), col("lang"),
          explode(Dedup.shinglesOf(col("_ts"), 2)).as("bg"))
        .select(col("doc_id"), col("lang"),
          pmod(Dedup.hash60(col("bg")), lit(B.toLong)).as("b"))
      // lang rides the groupBy key (doc_id determines it) so target
      // membership never re-derives the explode chain
      val docBuckets = bg.groupBy(col("doc_id"), col("lang"), col("b"))
        .agg(count(lit(1)).as("n_b"))
        .localCheckpoint(true) // feeds raw counts, target counts AND scores
      val raw = docBuckets.groupBy(col("b")).agg(sum(col("n_b")).as("cr"))
      val tgt = docBuckets.filter(col("lang") === "en")
        .groupBy(col("b")).agg(sum(col("n_b")).as("ct"))
      val totals = raw.agg(sum(col("cr")).cast("double").as("tr"))
        .crossJoin(tgt.agg(sum(col("ct")).cast("double").as("tt")))
      docBuckets
        .join(broadcast(raw), Seq("b"))
        .join(broadcast(tgt), Seq("b"), "left")
        .crossJoin(broadcast(totals))
        .groupBy(col("doc_id"))
        .agg(sum(col("n_b")).as("n_bigrams"),
          round(sum(col("n_b") *
            (log((coalesce(col("ct"), lit(0L)) + 1).cast("double") /
               (col("tt") + B)) -
             log((col("cr") + 1).cast("double") / (col("tr") + B)))), 6)
            .as("dsir_weight"))
        .orderBy(col("doc_id"))
    })
  )

  private val tokensCte =
    """tok AS (
         SELECT DISTINCT id, token FROM (
           SELECT doc_id AS id, UNNEST(regexp_extract_all(
             regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), '\S+')) AS token
           FROM documents))"""

  // word tokens hashed to 60-bit md5-prefix longs — mirrors
  // Dedup.docTokensHashed so the LSH shuffles carry longs, not strings
  /** The deterministic prime-sign-plane LSH banding CTEs ending in
    * `bands(vec_id, band, cell)` — mirrors Similarity.signCell (2 bands
    * x 4 planes); shared by dd_embedding_cosine and the semantic dedup
    * oracle.
    */
  private val signBandsCtes =
    """comp AS (
           SELECT vec_id, i, CAST(embedding[i] AS DOUBLE) AS x
           FROM embeddings, UNNEST(generate_series(1, 64)) t(i)),
         proj AS (
           SELECT vec_id,
             SUM(x * (CASE WHEN ((i-1)*3)  % 64 < 32 THEN 1.0 ELSE -1.0 END)) AS p0,
             SUM(x * (CASE WHEN ((i-1)*5)  % 64 < 32 THEN 1.0 ELSE -1.0 END)) AS p1,
             SUM(x * (CASE WHEN ((i-1)*7)  % 64 < 32 THEN 1.0 ELSE -1.0 END)) AS p2,
             SUM(x * (CASE WHEN ((i-1)*11) % 64 < 32 THEN 1.0 ELSE -1.0 END)) AS p3,
             SUM(x * (CASE WHEN ((i-1)*13) % 64 < 32 THEN 1.0 ELSE -1.0 END)) AS p4,
             SUM(x * (CASE WHEN ((i-1)*17) % 64 < 32 THEN 1.0 ELSE -1.0 END)) AS p5,
             SUM(x * (CASE WHEN ((i-1)*19) % 64 < 32 THEN 1.0 ELSE -1.0 END)) AS p6,
             SUM(x * (CASE WHEN ((i-1)*23) % 64 < 32 THEN 1.0 ELSE -1.0 END)) AS p7
           FROM comp GROUP BY vec_id),
         cells AS (
           SELECT vec_id,
             (CASE WHEN round(p0,6)>=0 THEN 1 ELSE 0 END)
             + 2*(CASE WHEN round(p1,6)>=0 THEN 1 ELSE 0 END)
             + 4*(CASE WHEN round(p2,6)>=0 THEN 1 ELSE 0 END)
             + 8*(CASE WHEN round(p3,6)>=0 THEN 1 ELSE 0 END) AS c0,
             (CASE WHEN round(p4,6)>=0 THEN 1 ELSE 0 END)
             + 2*(CASE WHEN round(p5,6)>=0 THEN 1 ELSE 0 END)
             + 4*(CASE WHEN round(p6,6)>=0 THEN 1 ELSE 0 END)
             + 8*(CASE WHEN round(p7,6)>=0 THEN 1 ELSE 0 END) AS c1
           FROM proj),
         bands AS (
           SELECT vec_id, 0 AS band, c0 AS cell FROM cells
           UNION ALL
           SELECT vec_id, 1 AS band, c1 AS cell FROM cells)"""

  /** The two-unrolled-Lloyd-iteration CTE chain ending in
    * `a2(id, cell)` — shared by the sim_kmeans gate and the semantic
    * dedup oracle. Mirrors Similarity.kmeansCentroids/kmeansCellCol
    * exactly (scaled-long components, round-6 d2, cid tiebreak, s/n
    * centroid division).
    */
  private val kmeansCtes =
    """sv AS MATERIALIZED (
           SELECT vec_id AS id,
                  list_transform(embedding,
                    x -> CAST(floor(CAST(x AS DOUBLE) * 1048576.0) AS BIGINT)) AS v
           FROM embeddings),
         c0 AS MATERIALIZED (
           SELECT id AS cid, i, CAST(v[i] AS DOUBLE) AS c
           FROM sv, UNNEST(generate_series(1, 64)) t(i)
           WHERE id BETWEEN 1 AND 8),
         d1 AS MATERIALIZED (
           SELECT sv.id, c0.cid,
                  round(SUM((CAST(sv.v[c0.i] AS DOUBLE) - c0.c)^2)
                        / 1099511627776.0, 6) AS d2
           FROM sv CROSS JOIN c0
           GROUP BY sv.id, c0.cid),
         a1 AS MATERIALIZED (
           SELECT id, cid AS cell FROM (
             SELECT id, cid,
                    ROW_NUMBER() OVER (PARTITION BY id ORDER BY d2, cid) AS rn
             FROM d1) WHERE rn = 1),
         c1n AS MATERIALIZED (
           SELECT cell AS cid, COUNT(*) AS n FROM a1 GROUP BY 1),
         c1 AS MATERIALIZED (
           SELECT a1.cell AS cid, t.i,
                  CAST(CAST(SUM(sv.v[t.i]) AS BIGINT) AS DOUBLE) / ANY_VALUE(c1n.n) AS c
           FROM a1 JOIN sv USING (id) JOIN c1n ON c1n.cid = a1.cell,
                UNNEST(generate_series(1, 64)) t(i)
           GROUP BY a1.cell, t.i),
         d2_ AS MATERIALIZED (
           SELECT sv.id, c1.cid,
                  round(SUM((CAST(sv.v[c1.i] AS DOUBLE) - c1.c)^2)
                        / 1099511627776.0, 6) AS d2
           FROM sv CROSS JOIN c1
           GROUP BY sv.id, c1.cid),
         a2 AS MATERIALIZED (
           SELECT id, cid AS cell FROM (
             SELECT id, cid,
                    ROW_NUMBER() OVER (PARTITION BY id ORDER BY d2, cid) AS rn
             FROM d2_) WHERE rn = 1)"""

  private val hashedTokensCte =
    """tok AS (
         SELECT DISTINCT id,
           ('0x' || substr(md5(tok), 1, 15))::BIGINT AS token
         FROM (
           SELECT doc_id AS id, UNNEST(regexp_extract_all(
             regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), '\S+')) AS tok
           FROM documents))"""

  private val shinglesCte =
    """tarr AS (
         SELECT doc_id AS id, regexp_extract_all(
           regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), '\S+') AS ts
         FROM documents),
       tok AS (
         SELECT DISTINCT id,
           ('0x' || substr(md5(ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2]), 1, 15))::BIGINT AS token
         FROM tarr, UNNEST(generate_series(1, len(ts) - 2)) t(i))"""

  /** The MinHash(4)/2-band/cap-1000 LSH + exact-Jaccard verify CTE
    * chain ending in `pairs(id_a, id_b)`, parameterized by the token
    * CTE (word tokens or shingles) — shared by the pair queries and
    * the cluster closure.
    */
  private def lshPairsCtes(tokCte: String, threshold: String): String = s"""
         $tokCte,
         sig AS (
           SELECT id,
                  MIN(md5('0:' || token)) AS sig_0, MIN(md5('1:' || token)) AS sig_1,
                  MIN(md5('2:' || token)) AS sig_2, MIN(md5('3:' || token)) AS sig_3
           FROM tok GROUP BY id),
         bands AS (
           SELECT id, 0 AS band, md5(sig_0 || sig_1) AS bkey FROM sig
           UNION ALL
           SELECT id, 1 AS band, md5(sig_2 || sig_3) AS bkey FROM sig),
         keptb AS (
           SELECT band, bkey FROM bands GROUP BY band, bkey
           HAVING COUNT(*) <= 1000),
         kept AS (SELECT b.* FROM bands b JOIN keptb USING (band, bkey)),
         cand AS (
           SELECT DISTINCT l.id AS id_a, r.id AS id_b
           FROM kept l JOIN kept r
             ON l.band = r.band AND l.bkey = r.bkey AND l.id < r.id),
         cnt AS (SELECT id, COUNT(*) AS n_tok FROM tok GROUP BY id),
         common AS (
           SELECT c.id_a, c.id_b, COUNT(*) AS n_common
           FROM cand c JOIN tok a ON a.id = c.id_a
                       JOIN tok b ON b.id = c.id_b AND b.token = a.token
           GROUP BY c.id_a, c.id_b),
         pairs AS (
           SELECT id_a, id_b FROM common
             JOIN cnt ca ON ca.id = common.id_a
             JOIN cnt cb ON cb.id = common.id_b
           WHERE CAST(n_common AS DOUBLE) / CAST(ca.n_tok + cb.n_tok - n_common AS DOUBLE) >= $threshold)"""

  private def lshVerifySql(tokCte: String, threshold: String): String =
    s"""WITH ${lshPairsCtes(tokCte, threshold)}
        SELECT id_a, id_b FROM pairs ORDER BY id_a, id_b"""

  val oracle: Map[String, String] = Map(
    "tx_token_count" ->
      """SELECT doc_id,
                len(regexp_extract_all(text, '\S+')) AS n_tokens,
                len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS n_subwords
         FROM documents ORDER BY doc_id""",

    "tx_fingerprint" ->
      """SELECT doc_id,
                md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp
         FROM documents ORDER BY doc_id""",

    "tx_quality" ->
      """WITH f AS (
           SELECT doc_id,
                  length(text) AS n_chars,
                  len(regexp_extract_all(text, '\S+')) AS n_tokens,
                  len(regexp_extract_all(text, '[\x21-\x2f\x3a-\x40\x5b-\x60\x7b-\x7e]')) AS n_punct,
                  len(regexp_extract_all(text, '(?i)\b(the|a|an|and|or|of|to|in|is|it)\b')) AS n_stop
           FROM documents)
         SELECT doc_id, n_chars, n_tokens, n_punct, n_stop,
                (n_tokens >= 5 AND n_chars >= 20 AND n_punct * 5 <= n_tokens * 2 + 10) AS quality_ok
         FROM f ORDER BY doc_id""",

    "tx_langid" ->
      """WITH sc AS (
           SELECT doc_id,
                  len(regexp_extract_all(text, '(?i)\b(the|and|of|is|was|with)\b')) AS s_en,
                  len(regexp_extract_all(text, '(?i)\b(el|la|los|las|es|y)\b')) AS s_es,
                  len(regexp_extract_all(text, '(?i)\b(le|la|les|est|et|une)\b')) AS s_fr,
                  len(regexp_extract_all(text, '(?i)\b(der|die|das|und|ist|ein)\b')) AS s_de,
                  len(regexp_extract_all(text, '[一-鿿]')) AS s_zh
           FROM documents),
         best AS (
           SELECT doc_id, s_en, s_es, s_fr, s_de, s_zh,
             CASE
               WHEN s_zh > s_de AND s_zh > s_fr AND s_zh > s_es AND s_zh > s_en THEN 'zh'
               WHEN s_de > s_fr AND s_de > s_es AND s_de > s_en THEN 'de'
               WHEN s_fr > s_es AND s_fr > s_en THEN 'fr'
               WHEN s_es > s_en THEN 'es'
               ELSE 'en' END AS lang0,
             greatest(s_en, s_es, s_fr, s_de, s_zh) AS m
           FROM sc)
         SELECT doc_id, CASE WHEN m > 0 THEN lang0 ELSE 'und' END AS pred_lang
         FROM best ORDER BY doc_id""",

    "tx_split" ->
      """WITH b AS (
           SELECT doc_id,
                  ('0x' || substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 100 AS bucket
           FROM documents)
         SELECT doc_id, bucket,
                CASE WHEN bucket < 10 THEN 'test'
                     WHEN bucket < 20 THEN 'val'
                     ELSE 'train' END AS split
         FROM b ORDER BY doc_id""",

    // same salted-hash rank (ties by doc_id) and kept-set bit_xor
    // fingerprint; the aggregate ignores NULL (unkept) rows identically
    // same integer largest-remainder allocation, same salted-hash
    // within-stratum rank
    "tx_stratified" ->
      """WITH d AS (SELECT doc_id, lang FROM documents),
         tot AS (SELECT lang, COUNT(*) AS n_l FROM d GROUP BY 1),
         n AS (SELECT CAST(SUM(n_l) AS BIGINT) AS n_total FROM tot),
         q AS (SELECT lang, n_l, n_total // 5 AS target,
                      (n_l * (n_total // 5)) // n_total AS base,
                      (n_l * (n_total // 5)) % n_total AS rem
               FROM tot CROSS JOIN n),
         sb AS (SELECT CAST(SUM(base) AS BIGINT) AS sum_base,
                       MAX(target) AS tgt FROM q),
         alloc AS (SELECT lang,
                     base + CASE WHEN ROW_NUMBER() OVER (
                                    ORDER BY rem DESC, lang)
                                  <= tgt - sum_base
                            THEN 1 ELSE 0 END AS n_alloc
                   FROM q CROSS JOIN sb),
         ranked AS (SELECT doc_id, lang,
                      ROW_NUMBER() OVER (PARTITION BY lang ORDER BY
                        ('0x' || substr(md5('strat:'
                          || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT,
                        doc_id) AS rn
                    FROM d)
         SELECT r.doc_id, r.lang
         FROM ranked r JOIN alloc a ON a.lang = r.lang
         WHERE r.rn <= a.n_alloc
         ORDER BY doc_id""",

    "tx_domain_cap" ->
      """WITH ranked AS (
           SELECT doc_id, source,
                  ROW_NUMBER() OVER (PARTITION BY source
                    ORDER BY ('0x' || substr(md5('domcap:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT,
                             doc_id) AS rk
           FROM documents)
         SELECT source, COUNT(*) AS n_docs,
                CAST(SUM(CASE WHEN rk <= 100 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
                bit_xor(CASE WHEN rk <= 100 THEN
                  ('0x' || substr(md5('domcapfp:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
                END) AS kept_fp
         FROM ranked GROUP BY source ORDER BY source""",

    "tx_sample_mix" ->
      """WITH x AS (
           SELECT source,
                  ('0x' || substr(md5('w:' || source), 1, 15))::BIGINT % 99 + 1 AS pct,
                  ('0x' || substr(md5('mixdoc:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 100 AS b
           FROM documents)
         SELECT source, pct, COUNT(*) AS n_docs,
                CAST(SUM(CASE WHEN b < pct THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
         FROM x GROUP BY source, pct ORDER BY source""",

    // same min-of-w-replica-hash A-ES priority, integer-exact: replica
    // r of doc d hashes 'wsamp:<doc_id>:<r>' through the shared 60-bit
    // md5-prefix construction, priority = MIN over the w replicas
    "tx_weighted_sample" ->
      """WITH d AS (
           SELECT doc_id, 1 + least(5, n_chars // 256) AS w FROM documents),
         r AS (
           SELECT doc_id, w, UNNEST(generate_series(0, w - 1)) AS rep FROM d),
         p AS (
           SELECT doc_id, w,
                  MIN(('0x' || substr(md5('wsamp:' || CAST(doc_id AS VARCHAR)
                       || ':' || CAST(rep AS VARCHAR)), 1, 15))::BIGINT)
                    AS priority
           FROM r GROUP BY doc_id, w)
         SELECT doc_id, CAST(w AS BIGINT) AS w, priority
         FROM p ORDER BY priority, doc_id LIMIT 20""",

    // expected post-merge table content: v2 where the upsert hit,
    // v1 elsewhere, plus the 10 inserted synthetic rows
    "s8_merge_upsert" ->
      """SELECT doc_id, source,
                CASE WHEN doc_id % 97 = 0 THEN 'v2' ELSE 'v1' END AS version
         FROM documents
         UNION ALL
         SELECT -i, 'synthetic', 'ins'
         FROM UNNEST(generate_series(1, 10)) t(i)
         ORDER BY doc_id""",

    // expected post-delete table content: every doc_id % 13 == 0 row
    // gone, absent negative keys were no-ops, all other rows verbatim
    "s8d_delete" ->
      """SELECT doc_id, source, lang
         FROM documents
         WHERE doc_id % 13 <> 0
         ORDER BY doc_id""",

    // the feed-maintained lang counts equal a fresh GROUP BY over the
    // head state (= post-delete content after the rollback)
    "s8j_mv_counts" ->
      """SELECT lang, COUNT(*) AS n FROM documents
         WHERE doc_id % 13 <> 0
         GROUP BY lang ORDER BY lang""",

    // rollback(2) undid the merge: the head reads as the post-delete
    // state again
    "s8g_rollback" ->
      """SELECT doc_id, source, lang
         FROM documents
         WHERE doc_id % 13 <> 0
         ORDER BY doc_id""",

    // same hash60 row fingerprint, same three mergeable accumulators,
    // over the same independently re-derived head content
    "s8k_checksum" ->
      """WITH c AS (
           SELECT ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '|'
             || source || '|' || lang), 1, 15))::BIGINT AS h
           FROM documents WHERE doc_id % 13 <> 0)
         SELECT COUNT(*) AS n_rows,
                bit_xor(h) AS xor_fp,
                CAST(SUM(h % 1099511627776) AS BIGINT) AS sum_fp
         FROM c""",

    // expected CDF of the merge commit: delete+insert pair per
    // genuinely-updated survivor, inserts for the three fresh keys,
    // NOTHING for no-op upserts or carried survivors
    "s8e_changes" ->
      """WITH upd AS (
           SELECT doc_id, source, lang FROM documents
           WHERE doc_id % 13 <> 0 AND doc_id % 17 = 0 AND lang <> 'xx')
         SELECT doc_id, source, lang, "_change" FROM (
           SELECT doc_id, source, lang, 'delete' AS "_change" FROM upd
           UNION ALL
           SELECT doc_id, source, 'xx' AS lang, 'insert' AS "_change" FROM upd
           UNION ALL
           SELECT * FROM (VALUES
             (CAST(-101 AS BIGINT), 'synthetic', 'zz', 'insert'),
             (CAST(-102 AS BIGINT), 'synthetic', 'zz', 'insert'),
             (CAST(-103 AS BIGINT), 'synthetic', 'zz', 'insert'))
             v(doc_id, source, lang, "_change"))
         ORDER BY doc_id, "_change"""",

    // expected post-overwrite table: untouched partitions verbatim,
    // the 'de' partition replaced by its re-landed rows
    "s8f_overwrite_part" ->
      """SELECT doc_id, source, lang FROM documents WHERE lang <> 'de'
         UNION ALL
         SELECT doc_id, 'relanded' AS source, lang FROM documents
         WHERE lang = 'de' AND doc_id % 2 = 0
         ORDER BY doc_id""",

    // bloom point read ≡ the plain equality filter
    "s8h_bloom_point" ->
      """SELECT doc_id, source, lang FROM documents
         WHERE doc_id = 123 ORDER BY doc_id""",

    // manifest-only COUNT/MIN/MAX ≡ the scan aggregates
    "s8i_meta_agg" ->
      """SELECT COUNT(*) AS n_rows, MIN(doc_id) AS min_doc_id,
                MAX(doc_id) AS max_doc_id
         FROM documents""",

    // file-skipping readRange ≡ the plain BETWEEN filter
    "s8b_stats_prune" ->
      """SELECT doc_id, source, lang, n_chars
         FROM documents
         WHERE doc_id BETWEEN 10 AND 45
         ORDER BY doc_id""",

    // z-ordered 2-D box read ≡ the plain conjunction filter
    "s8c_zorder_box" ->
      """SELECT o_orderkey, o_custkey, o_orderstatus
         FROM orders
         WHERE o_orderkey BETWEEN 100 AND 3000
           AND o_custkey BETWEEN 1 AND 75
         ORDER BY o_orderkey""",

    // bloom bit positions mirror Sketches.bloomBit: 60-bit md5-prefix
    // hash of 'bloom<j>:' || key, mod 16384; might_contain = MIN over
    // the 4 positions of set/unset
    "a10_bloom" ->
      """WITH fps AS (
           SELECT md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp
           FROM documents),
         bits AS (
           SELECT DISTINCT
             ('0x' || substr(md5('bloom' || CAST(j AS VARCHAR) || ':' || fp), 1, 15))::BIGINT % 16384 AS bit
           FROM fps, UNNEST(generate_series(0, 3)) t(j)),
         cands AS (
           SELECT DISTINCT key FROM (
             SELECT md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS key
             FROM documents WHERE doc_id % 10 = 0
             UNION ALL
             SELECT md5('absent:' || CAST(doc_id AS VARCHAR)) AS key
             FROM documents WHERE doc_id % 10 = 1)),
         probe AS (
           SELECT c.key,
             ('0x' || substr(md5('bloom' || CAST(j AS VARCHAR) || ':' || c.key), 1, 15))::BIGINT % 16384 AS bit
           FROM cands c, UNNEST(generate_series(0, 3)) t(j)),
         mc AS (
           SELECT p.key,
                  CAST(MIN(CASE WHEN b.bit IS NULL THEN 0 ELSE 1 END) AS BIGINT)
                    AS might_contain
           FROM probe p LEFT JOIN bits b ON b.bit = p.bit
           GROUP BY p.key)
         SELECT mc.key, mc.might_contain,
                CAST(CASE WHEN EXISTS (SELECT 1 FROM fps WHERE fps.fp = mc.key)
                     THEN 1 ELSE 0 END AS BIGINT) AS actually_present
         FROM mc ORDER BY key""",

    // window-rank re-derivation of the bottom-64 sketch: the k-th min
    // per language + the identical (k-1)·2^60/h_k arithmetic
    "a13_kmv_theta" ->
      """WITH h AS (
           SELECT lang, ('0x' || substr(md5('kmv:'
             || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT AS h
           FROM documents),
         r AS (SELECT lang, h,
                 ROW_NUMBER() OVER (PARTITION BY lang ORDER BY h) AS rn,
                 COUNT(*) OVER (PARTITION BY lang) AS n
               FROM h)
         SELECT lang, CAST(ANY_VALUE(n) AS BIGINT) AS n_exact,
                MAX(CASE WHEN rn = 64 THEN h END) AS kth_hash,
                round(CASE WHEN ANY_VALUE(n) < 64
                           THEN CAST(ANY_VALUE(n) AS DOUBLE)
                           ELSE 63.0 * 1152921504606846976.0
                                / CAST(MAX(CASE WHEN rn = 64 THEN h END)
                                       AS DOUBLE) END, 4) AS est_distinct
         FROM r GROUP BY lang ORDER BY lang""",

    // same θ threshold (least skips the NULL k-th min of a non-full
    // sketch), same common-below-θ count, same scale-back; the exact
    // sketch intersection when neither sketch is full
    "a14_theta_intersect" ->
      """WITH f AS (
           SELECT ('0x' || substr(md5('kmv:'
             || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT AS h,
                  contains(text, 'spark') AS in_a,
                  contains(text, 'data') AS in_b
           FROM documents),
         ra AS (SELECT h, ROW_NUMBER() OVER (ORDER BY h) AS rn FROM f
                WHERE in_a),
         rb AS (SELECT h, ROW_NUMBER() OVER (ORDER BY h) AS rn FROM f
                WHERE in_b),
         ka AS (SELECT h AS kth FROM ra WHERE rn = 64),
         kb AS (SELECT h AS kth FROM rb WHERE rn = 64),
         th AS (SELECT least((SELECT kth FROM ka), (SELECT kth FROM kb))
                  AS theta),
         common AS (
           SELECT CAST(COUNT(*) FILTER (WHERE ra.h < th.theta) AS BIGINT)
                    AS n_common_sampled,
                  COUNT(*) AS n_common
           FROM ra JOIN rb USING (h) CROSS JOIN th
           WHERE ra.rn <= 64 AND rb.rn <= 64)
         SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM f WHERE in_a) AS n_a,
                (SELECT CAST(COUNT(*) AS BIGINT) FROM f WHERE in_b) AS n_b,
                (SELECT CAST(COUNT(*) AS BIGINT) FROM f
                 WHERE in_a AND in_b) AS n_exact_intersect,
                th.theta,
                common.n_common_sampled,
                round(CASE WHEN th.theta IS NULL
                           THEN CAST(common.n_common AS DOUBLE)
                           ELSE CAST(common.n_common_sampled AS DOUBLE)
                                * 1152921504606846976.0
                                / CAST(th.theta AS DOUBLE) END, 4)
                  AS est_intersect
         FROM th CROSS JOIN common""",

    "a9_sketch_distinct" ->
      """WITH tarr AS (
           SELECT source, regexp_extract_all(
             regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), '\S+') AS ts
           FROM documents),
         tk AS (
           SELECT source,
                  ('0x' || substr(md5(ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2]), 1, 15))::BIGINT AS h
           FROM tarr, UNNEST(generate_series(1, len(ts) - 2)) t(i)),
         wr AS (
           SELECT source, h % 64 AS b, h >> 6 AS w FROM tk),
         regs AS (
           SELECT source, b,
                  MAX(CASE WHEN w = 0 THEN 55
                           ELSE 55 - length(bin(w)) END) AS m
           FROM wr GROUP BY source, b),
         agg AS (
           SELECT source,
                  SUM(2.0 ^ (-m)) + CAST(64 - COUNT(*) AS DOUBLE) AS z,
                  64 - COUNT(*) AS v
           FROM regs GROUP BY source),
         est AS (
           SELECT source,
                  round(CASE WHEN v > 0
                              AND (0.7213 / (1.0 + 1.079 / 64.0)) * 4096.0 / z <= 160.0
                             THEN 64.0 * ln(64.0 / CAST(v AS DOUBLE))
                             ELSE (0.7213 / (1.0 + 1.079 / 64.0)) * 4096.0 / z
                        END, 3) AS est_distinct
           FROM agg),
         ex AS (
           SELECT source, COUNT(*) AS n_exact
           FROM (SELECT DISTINCT source, h FROM tk) GROUP BY source)
         SELECT source, n_exact, est_distinct
         FROM est JOIN ex USING (source) ORDER BY source""",

    "tx_heavy_hitters" ->
      """WITH tarr AS (
           SELECT regexp_extract_all(
             regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), '\S+') AS ts
           FROM documents),
         sh AS (
           SELECT ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2] AS g
           FROM tarr, UNNEST(generate_series(1, len(ts) - 2)) t(i)),
         ex AS (SELECT g, COUNT(*) AS n_exact FROM sh GROUP BY g),
         cnts AS (
           SELECT u.j,
                  ('0x' || substr(md5('cms' || u.j || ':' || g), 1, 15))::BIGINT % 16384 AS b,
                  CAST(SUM(n_exact) AS BIGINT) AS cnt
           FROM ex, UNNEST(generate_series(0, 3)) u(j)
           GROUP BY u.j, b),
         top AS (SELECT g, n_exact FROM ex ORDER BY n_exact DESC, g LIMIT 10),
         tg AS (
           SELECT top.g, u.j,
                  ('0x' || substr(md5('cms' || u.j || ':' || top.g), 1, 15))::BIGINT % 16384 AS b
           FROM top, UNNEST(generate_series(0, 3)) u(j)),
         est AS (
           SELECT tg.g, MIN(cnts.cnt) AS est
           FROM tg JOIN cnts ON cnts.j = tg.j AND cnts.b = tg.b
           GROUP BY tg.g)
         SELECT top.g AS shingle, n_exact, est
         FROM top JOIN est ON est.g = top.g
         ORDER BY n_exact DESC, shingle""",

    "tx_unigram_lm" ->
      """WITH toks AS (
           SELECT doc_id, UNNEST(regexp_extract_all(
             regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), '\S+')) AS tok
           FROM documents),
         cnt AS (SELECT tok, COUNT(*) AS c FROM toks GROUP BY tok),
         tot AS (SELECT CAST(CAST(SUM(c) AS BIGINT) AS DOUBLE) AS n_total FROM cnt)
         SELECT t.doc_id,
                COUNT(*) AS n_tokens,
                round(SUM(ln(CAST(cnt.c AS DOUBLE) / tot.n_total))
                      / COUNT(*), 6) AS avg_logprob
         FROM toks t JOIN cnt USING (tok) CROSS JOIN tot
         GROUP BY t.doc_id
         ORDER BY doc_id""",

    // same tokenization, same in-list bigram minting (DuckDB's lateral
    // generate_series == Spark's transform(sequence)), same division
    // spelling inside ln()
    "tx_pmi" ->
      """WITH t0 AS (
           SELECT regexp_extract_all(
             regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), '\S+') AS l
           FROM documents),
         tarr AS (SELECT l FROM t0 WHERE len(l) >= 2),
         uni AS (SELECT w, COUNT(*) AS c FROM (
                   SELECT UNNEST(l) AS w FROM tarr) GROUP BY w),
         nu AS (SELECT CAST(CAST(SUM(c) AS BIGINT) AS DOUBLE) AS n_uni
                FROM uni),
         big AS (SELECT l[i] AS w1, l[i+1] AS w2
                 FROM tarr, UNNEST(generate_series(1, len(l) - 1)) t(i)),
         bc AS (SELECT w1, w2, COUNT(*) AS c_xy FROM big GROUP BY w1, w2),
         nb AS (SELECT CAST(CAST(SUM(c_xy) AS BIGINT) AS DOUBLE) AS n_big
                FROM bc)
         SELECT bc.w1, bc.w2, bc.c_xy,
                round(ln((CAST(c_xy AS DOUBLE) / n_big) /
                      ((CAST(ux.c AS DOUBLE) / n_uni)
                       * (CAST(uy.c AS DOUBLE) / n_uni))), 6) AS pmi
         FROM bc JOIN uni ux ON ux.w = bc.w1
                 JOIN uni uy ON uy.w = bc.w2
                 CROSS JOIN nb CROSS JOIN nu
         WHERE c_xy >= 3
         ORDER BY pmi DESC, w1, w2 LIMIT 20""",

    // same bigram minting; the Jelinek-Mercer mixture is spelled with
    // the identical cast/divide/multiply order inside ln()
    "tx_bigram_lm" ->
      """WITH t0 AS (
           SELECT doc_id, regexp_extract_all(
             regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), '\S+') AS l
           FROM documents),
         tarr AS (SELECT doc_id, l FROM t0 WHERE len(l) >= 2),
         big AS (SELECT doc_id, l[i] AS w1, l[i+1] AS w2
                 FROM tarr, UNNEST(generate_series(1, len(l) - 1)) t(i)),
         bc AS (SELECT w1, w2, COUNT(*) AS c12 FROM big GROUP BY w1, w2),
         fc AS (SELECT w1, CAST(SUM(c12) AS BIGINT) AS c1 FROM bc GROUP BY w1),
         uni AS (SELECT w, COUNT(*) AS cu FROM (
                   SELECT UNNEST(l) AS w FROM tarr) GROUP BY w),
         nt AS (SELECT CAST(CAST(SUM(cu) AS BIGINT) AS DOUBLE) AS n_tot
                FROM uni)
         SELECT b.doc_id, COUNT(*) AS n_bigrams,
                round(SUM(ln(
                  0.75 * (CAST(bc.c12 AS DOUBLE) / CAST(fc.c1 AS DOUBLE))
                    + 0.25 * (CAST(u2.cu AS DOUBLE) / nt.n_tot)))
                  / COUNT(*), 6) AS avg_logprob
         FROM big b
         JOIN bc ON bc.w1 = b.w1 AND bc.w2 = b.w2
         JOIN fc ON fc.w1 = b.w1
         JOIN uni u2 ON u2.w = b.w2
         CROSS JOIN nt
         GROUP BY b.doc_id
         ORDER BY doc_id""",

    "tx_decontaminate" ->
      """WITH tarr AS (
           SELECT doc_id AS id, regexp_extract_all(
             regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), '\S+') AS ts
           FROM documents),
         tok5 AS (
           SELECT DISTINCT id,
             ('0x' || substr(md5(ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2]
               || ' ' || ts[i+3] || ' ' || ts[i+4]), 1, 15))::BIGINT AS token
           FROM tarr, UNNEST(generate_series(1, len(ts) - 4)) t(i)),
         ev AS (SELECT id AS eval_id, token FROM tok5 WHERE id % 97 = 0),
         tr AS (SELECT id, token FROM tok5 WHERE id % 97 <> 0)
         SELECT tr.id AS doc_id,
                CAST(COUNT(DISTINCT tr.token) AS BIGINT) AS n_shared_ngrams,
                CAST(COUNT(DISTINCT ev.eval_id) AS BIGINT) AS n_eval_docs
         FROM tr JOIN ev USING (token)
         GROUP BY tr.id
         HAVING COUNT(DISTINCT tr.token) >= 3
         ORDER BY doc_id""",

    // same 20-token rolling windows (DuckDB list slice == Spark
    // concat_ws shingle), same 60-bit window hash, same 2..100
    // doc-frequency band
    "tx_longdup" ->
      """WITH tarr AS (
           SELECT doc_id AS id, regexp_extract_all(
             regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), '\S+') AS ts
           FROM documents),
         w AS (
           SELECT DISTINCT id,
             ('0x' || substr(md5(array_to_string(ts[i:i+19], ' ')), 1, 15))::BIGINT AS win
           FROM tarr, UNNEST(generate_series(1, len(ts) - 19)) t(i)),
         dupw AS (SELECT win FROM w GROUP BY win HAVING COUNT(*) BETWEEN 2 AND 100),
         d AS (SELECT w.id, w.win FROM w JOIN dupw USING (win))
         SELECT a.id AS doc_id,
                CAST(COUNT(DISTINCT a.win) AS BIGINT) AS n_dup_windows,
                CAST(COUNT(DISTINCT b.id) AS BIGINT) AS n_partner_docs
         FROM d a JOIN d b ON a.win = b.win AND a.id <> b.id
         GROUP BY a.id ORDER BY doc_id""",

    // same seeded-md5 shuffle order, same shard-local running token sum,
    // same straddling-doc chunk arithmetic (integer-exact on both sides)
    "tx_pack" ->
      """WITH d AS (
           SELECT doc_id, source,
                  len(regexp_extract_all(text, '\S+')) AS n_tok,
                  ('0x' || substr(md5('packseed:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT AS ord
           FROM documents),
         pos AS (
           SELECT source, n_tok,
                  SUM(n_tok) OVER (PARTITION BY source ORDER BY ord, doc_id
                                   ROWS UNBOUNDED PRECEDING) AS end_tok
           FROM d),
         b AS (
           SELECT source,
                  CAST(end_tok - n_tok AS BIGINT) AS start_tok,
                  CAST(end_tok AS BIGINT) AS end_tok,
                  CAST((end_tok - n_tok) // 512 AS BIGINT) AS first_bin,
                  CAST((end_tok - 1) // 512 AS BIGINT) AS last_bin
           FROM pos WHERE n_tok > 0),
         x AS (
           SELECT source, t.bin, start_tok, end_tok, last_bin
           FROM b, UNNEST(generate_series(first_bin, last_bin)) t(bin))
         SELECT source, bin,
                CAST(COUNT(*) AS BIGINT) AS n_docs,
                CAST(SUM(LEAST(end_tok, (bin + 1) * 512)
                         - GREATEST(start_tok, bin * 512)) AS BIGINT) AS n_tokens,
                CAST(SUM(CASE WHEN last_bin > bin THEN 1 ELSE 0 END) AS BIGINT) AS n_straddling
         FROM x GROUP BY source, bin ORDER BY source, bin""",

    "tx_pii_scrub" ->
      """WITH aug AS (
           SELECT doc_id,
                  text
                  || CASE WHEN doc_id % 3 = 0
                       THEN ' contact user' || CAST(doc_id AS VARCHAR)
                            || '@example.com now' ELSE '' END
                  || CASE WHEN doc_id % 5 = 0
                       THEN ' call 555-' || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0')
                            || '-' || lpad(CAST((doc_id * 7) % 10000 AS VARCHAR), 4, '0')
                       ELSE '' END AS txt
           FROM documents),
         scrub AS (
           SELECT doc_id, txt,
                  regexp_replace(
                    regexp_replace(txt, '[a-z0-9]+@[a-z0-9]+[.][a-z]+', '<EMAIL>', 'g'),
                    '[0-9]{3}-[0-9]{3}-[0-9]{4}', '<PHONE>', 'g') AS scrubbed
           FROM aug)
         SELECT doc_id,
                CAST(len(regexp_extract_all(txt, '[a-z0-9]+@[a-z0-9]+[.][a-z]+')) AS BIGINT) AS n_emails,
                CAST(len(regexp_extract_all(txt, '[0-9]{3}-[0-9]{3}-[0-9]{4}')) AS BIGINT) AS n_phones,
                CAST(len(regexp_extract_all(scrubbed, '[a-z0-9]+@[a-z0-9]+[.][a-z]+'))
                     + len(regexp_extract_all(scrubbed, '[0-9]{3}-[0-9]{3}-[0-9]{4}')) AS BIGINT) AS n_residual,
                md5(scrubbed) AS scrubbed_fp
         FROM scrub ORDER BY doc_id""",

    "tx_repetition" ->
      """WITH tarr AS (
           SELECT doc_id, regexp_extract_all(
             regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), '\S+') AS ts
           FROM documents),
         uc AS (
           SELECT doc_id, g, COUNT(*) AS c FROM (
             SELECT doc_id, ts[i] AS g
             FROM tarr, UNNEST(generate_series(1, len(ts))) t(i))
           GROUP BY doc_id, g),
         ua AS (
           SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_uni, COUNT(*) AS d_uni,
                  CAST(MAX(c) AS BIGINT) AS m_uni
           FROM uc GROUP BY doc_id),
         bc AS (
           SELECT doc_id, g, COUNT(*) AS c FROM (
             SELECT doc_id, ts[i] || ' ' || ts[i+1] AS g
             FROM tarr, UNNEST(generate_series(1, len(ts) - 1)) t(i))
           GROUP BY doc_id, g),
         ba AS (
           SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_bi, COUNT(*) AS d_bi,
                  CAST(MAX(c) AS BIGINT) AS m_bi
           FROM bc GROUP BY doc_id)
         SELECT tarr.doc_id,
                COALESCE(n_uni, 0) AS n_uni, COALESCE(d_uni, 0) AS d_uni,
                COALESCE(m_uni, 0) AS m_uni,
                COALESCE(n_bi, 0) AS n_bi, COALESCE(d_bi, 0) AS d_bi,
                COALESCE(m_bi, 0) AS m_bi,
                (COALESCE(m_uni, 0) * 5 <= COALESCE(n_uni, 0) + 5
                 AND COALESCE(m_bi, 0) * 8 <= COALESCE(n_bi, 0) + 8) AS rep_ok
         FROM tarr
         LEFT JOIN ua ON ua.doc_id = tarr.doc_id
         LEFT JOIN ba ON ba.doc_id = tarr.doc_id
         ORDER BY tarr.doc_id""",

    "dd_exact" ->
      """SELECT md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp,
                MIN(doc_id) AS keep_id, COUNT(*) AS n_dups
         FROM documents GROUP BY 1 ORDER BY fp""",

    "dd_minhash_sigs" -> s"""
         WITH $tokensCte
         SELECT id,
                MIN(md5('0:' || token)) AS sig_0,
                MIN(md5('1:' || token)) AS sig_1,
                MIN(md5('2:' || token)) AS sig_2,
                MIN(md5('3:' || token)) AS sig_3
         FROM tok GROUP BY id ORDER BY id""",

    "dd_minhash_lsh" -> lshVerifySql(hashedTokensCte, "0.8"),

    // the incremental path's truth, with the engine's 2-increment
    // cap-at-ingest semantics unrolled: round i sizes every bucket over
    // the docs ingested SO FAR (doc_id % 2 <= i), keeps buckets <= cap,
    // and pairs the kept union against the kept NEW postings — so a
    // bucket that crosses the cap mid-stream stops emitting exactly
    // where the engine stops. Emissions then verify with the shared
    // exact-Jaccard arm and union (each pair lands once, at its later
    // doc's round, but UNION dedupes defensively).
    "dd_incremental_lsh" -> {
      val rounds = (0 until 2).map { i =>
        s"""k$i AS (SELECT band, bkey FROM b WHERE grp <= $i
                    GROUP BY band, bkey HAVING COUNT(*) <= 1000),
            c$i AS (
              SELECT DISTINCT least(l.id, r.id) AS id_a,
                     greatest(l.id, r.id) AS id_b
              FROM (SELECT b.* FROM b JOIN k$i USING (band, bkey)
                    WHERE grp <= $i) l
              JOIN (SELECT b.* FROM b JOIN k$i USING (band, bkey)
                    WHERE grp = $i) r
                ON l.band = r.band AND l.bkey = r.bkey AND l.id <> r.id)"""
      }.mkString(",\n")
      s"""WITH $hashedTokensCte,
          sig AS (
            SELECT id,
                   MIN(md5('0:' || token)) AS sig_0, MIN(md5('1:' || token)) AS sig_1,
                   MIN(md5('2:' || token)) AS sig_2, MIN(md5('3:' || token)) AS sig_3
            FROM tok GROUP BY id),
          b AS (
            SELECT id, id % 2 AS grp, 0 AS band, md5(sig_0 || sig_1) AS bkey FROM sig
            UNION ALL
            SELECT id, id % 2 AS grp, 1 AS band, md5(sig_2 || sig_3) AS bkey FROM sig),
          $rounds,
          cand AS (SELECT * FROM c0 UNION SELECT * FROM c1),
          cnt AS (SELECT id, COUNT(*) AS n_tok FROM tok GROUP BY id),
          common AS (
            SELECT c.id_a, c.id_b, COUNT(*) AS n_common
            FROM cand c JOIN tok a ON a.id = c.id_a
                        JOIN tok x ON x.id = c.id_b AND x.token = a.token
            GROUP BY c.id_a, c.id_b)
          SELECT c.id_a, c.id_b, CAST(c.n_common AS BIGINT) AS n_common,
                 round(CAST(c.n_common AS DOUBLE)
                       / CAST(ca.n_tok + cb.n_tok - c.n_common AS DOUBLE), 6)
                   AS jaccard
          FROM common c JOIN cnt ca ON ca.id = c.id_a
                        JOIN cnt cb ON cb.id = c.id_b
          WHERE CAST(c.n_common AS DOUBLE)
                / CAST(ca.n_tok + cb.n_tok - c.n_common AS DOUBLE) >= 0.8
          ORDER BY id_a, id_b"""
    },

    "dd_shingle_lsh" -> lshVerifySql(shinglesCte, "0.8"),

    // the vector incremental path's truth is the plain batch sign-LSH
    // pair SQL (cells are data-independent — no per-round sizing to
    // unroll), with the emission log's round-6 cosine riding along
    "dd_incremental_cos" ->
      s"""WITH $signBandsCtes,
         cand AS (
           SELECT DISTINCT l.vec_id AS id_a, r.vec_id AS id_b
           FROM bands l JOIN bands r
             ON l.band = r.band AND l.cell = r.cell AND l.vec_id < r.vec_id),
         expl AS (
           SELECT c.id_a, c.id_b,
                  CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE) AS prod,
                  CAST(a.embedding[i] AS DOUBLE)^2 AS sa,
                  CAST(b.embedding[i] AS DOUBLE)^2 AS sb
           FROM cand c
           JOIN embeddings a ON a.vec_id = c.id_a
           JOIN embeddings b ON b.vec_id = c.id_b,
           UNNEST(generate_series(1, 64)) t(i))
         SELECT id_a, id_b,
                round(SUM(prod) / (sqrt(SUM(sa)) * sqrt(SUM(sb))), 6) AS cos
         FROM expl GROUP BY id_a, id_b
         HAVING SUM(sa) > 0 AND SUM(sb) > 0
            AND SUM(prod) / (sqrt(SUM(sa)) * sqrt(SUM(sb))) >= 0.4
         ORDER BY id_a, id_b""",

    // transitive closure over the verified pair graph, as a recursive
    // CTE — component = lexicographic-min member = the keeper
    "dd_lsh_clusters" -> s"""
         WITH RECURSIVE ${lshPairsCtes(hashedTokensCte, "0.8")},
         sym AS (SELECT id_a AS u, id_b AS v FROM pairs
                 UNION SELECT id_b, id_a FROM pairs),
         nodes AS (SELECT DISTINCT u AS node FROM sym),
         reach(node, comp) AS (
           SELECT node, node FROM nodes
           UNION
           SELECT s.v, r.comp FROM reach r JOIN sym s ON s.u = r.node),
         mapping AS (SELECT node, MIN(comp) AS component FROM reach GROUP BY node)
         SELECT component AS keep_id, COUNT(*) AS n_members
         FROM mapping GROUP BY 1 ORDER BY keep_id""",

    // same pair graph + closure, then the same rep-salted-hash side
    // rule re-applied per document
    "tx_leakage_split" -> s"""
         WITH RECURSIVE ${lshPairsCtes(hashedTokensCte, "0.8")},
         sym AS (SELECT id_a AS u, id_b AS v FROM pairs
                 UNION SELECT id_b, id_a FROM pairs),
         nodes AS (SELECT DISTINCT u AS node FROM sym),
         reach(node, comp) AS (
           SELECT node, node FROM nodes
           UNION
           SELECT s.v, r.comp FROM reach r JOIN sym s ON s.u = r.node),
         mapping AS (SELECT node, MIN(comp) AS component FROM reach GROUP BY node),
         reps AS (
           SELECT d.doc_id, COALESCE(m.component, d.doc_id) AS rep
           FROM documents d LEFT JOIN mapping m ON m.node = d.doc_id)
         SELECT doc_id, rep,
                CASE WHEN ('0x' || substr(md5('lsplit:' ||
                       CAST(rep AS VARCHAR)), 1, 15))::BIGINT % 10 < 8
                     THEN 'train' ELSE 'eval' END AS split
         FROM reps ORDER BY doc_id""",

    "tx_tfidf_topk" -> """
         WITH tok AS (
           SELECT doc_id, UNNEST(regexp_extract_all(
             regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), '\S+')) AS term
           FROM documents),
         tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
         dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
         r AS (
           SELECT doc_id, term, tf, df,
                  ROW_NUMBER() OVER (PARTITION BY doc_id
                    ORDER BY tf DESC, df ASC, term ASC) AS rn
           FROM tf JOIN dfreq USING (term))
         SELECT doc_id, term, tf, df FROM r WHERE rn <= 3
         ORDER BY doc_id, term""",

    // same windows (1-based starts every 48, 64-token slices, short
    // tail), same md5-derived chunk fingerprint
    "tx_chunk" ->
      """WITH tarr AS (
           SELECT doc_id, regexp_extract_all(
             regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), '\S+') AS ts
           FROM documents),
         w AS (
           SELECT doc_id, CAST(i AS BIGINT) AS start_tok,
                  ts[i:least(i + 63, len(ts))] AS chunk
           FROM tarr, UNNEST(generate_series(1, len(ts), 48)) t(i)
           WHERE len(ts) > 0)
         SELECT doc_id, start_tok,
                CAST(len(chunk) AS BIGINT) AS n_tokens,
                ('0x' || substr(md5(array_to_string(chunk, ' ')), 1, 15))::BIGINT
                  AS chunk_fp
         FROM w ORDER BY doc_id, start_tok""",

    // per-check violation counts + pass-all count, NULL-as-violation
    // mirrored via COALESCE(pred, FALSE)
    "tx_expectations" ->
      """WITH g AS (
           SELECT COUNT(*) AS n_rows,
             CAST(SUM(CASE WHEN NOT COALESCE(doc_id IS NOT NULL, FALSE)
                  THEN 1 ELSE 0 END) AS BIGINT) AS v1,
             CAST(SUM(CASE WHEN NOT COALESCE(lang IN ('en','de','fr','es','zh'), FALSE)
                  THEN 1 ELSE 0 END) AS BIGINT) AS v2,
             CAST(SUM(CASE WHEN NOT COALESCE(
                    len(regexp_extract_all(text, '\S+')) >= 20, FALSE)
                  THEN 1 ELSE 0 END) AS BIGINT) AS v3,
             CAST(SUM(CASE WHEN NOT COALESCE(n_chars = length(text), FALSE)
                  THEN 1 ELSE 0 END) AS BIGINT) AS v4,
             CAST(SUM(CASE WHEN COALESCE(doc_id IS NOT NULL, FALSE)
                   AND COALESCE(lang IN ('en','de','fr','es','zh'), FALSE)
                   AND COALESCE(len(regexp_extract_all(text, '\S+')) >= 20, FALSE)
                   AND COALESCE(n_chars = length(text), FALSE)
                  THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
           FROM documents)
         SELECT "check", n_violations, n_rows, n_kept FROM (
           SELECT 'doc_id_present' AS "check", v1 AS n_violations, n_rows, n_kept FROM g
           UNION ALL
           SELECT 'lang_known', v2, n_rows, n_kept FROM g
           UNION ALL
           SELECT 'min_20_tokens', v3, n_rows, n_kept FROM g
           UNION ALL
           SELECT 'nchars_consistent', v4, n_rows, n_kept FROM g)
         ORDER BY "check"""",

    // inverted index: same df cap (N/2), same distinct-term explode,
    // posting lists pinned by the 60-bit-xor fingerprint + bounds
    "tx_inverted_index" ->
      """WITH tok AS (
           SELECT doc_id, UNNEST(list_distinct(regexp_extract_all(
             regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), '\S+'))) AS term
           FROM documents),
         dfr AS (SELECT term, COUNT(*) AS df FROM tok GROUP BY 1),
         n AS (SELECT COUNT(*) AS c FROM documents),
         kept AS (SELECT term, df FROM dfr WHERE df <= (SELECT c FROM n) // 2),
         idx AS (
           SELECT t.term, k.df,
                  COUNT(*) AS n_postings,
                  MIN(t.doc_id) AS first_doc,
                  MAX(t.doc_id) AS last_doc,
                  bit_xor(('0x' || substr(md5(CAST(t.doc_id AS VARCHAR)), 1, 15))::BIGINT)
                    AS postings_fp
           FROM tok t JOIN kept k USING (term) GROUP BY 1, 2),
         led AS (
           SELECT COUNT(*) AS n_terms_total,
                  CAST(SUM(CASE WHEN df <= (SELECT c FROM n) // 2
                       THEN 1 ELSE 0 END) AS BIGINT) AS n_terms_kept,
                  CAST(COALESCE(SUM(CASE WHEN df > (SELECT c FROM n) // 2
                       THEN df END), 0) AS BIGINT) AS n_postings_dropped
           FROM dfr)
         SELECT * FROM idx CROSS JOIN led ORDER BY term""",

    // BM25 with the rational idf substitute, operation-for-operation
    // the same IEEE-754 double arithmetic as the engine — the score
    // column hashes bit-exactly, no rounding
    "tx_bm25_topk" ->
      """WITH tk AS (
           SELECT doc_id, regexp_extract_all(
             regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), '\S+') AS ts
           FROM documents),
         d AS (
           SELECT doc_id, CAST(len(ts) AS BIGINT) AS dl,
                  CAST(len(list_filter(ts, x -> x = 'vector')) AS BIGINT) AS tf0,
                  CAST(len(list_filter(ts, x -> x = 'customer')) AS BIGINT) AS tf1,
                  CAST(len(list_filter(ts, x -> x = 'dup')) AS BIGINT) AS tf2
           FROM tk),
         g AS (
           SELECT COUNT(*) AS n, SUM(dl) AS sdl,
                  SUM(CASE WHEN tf0 > 0 THEN 1 ELSE 0 END) AS df0,
                  SUM(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END) AS df1,
                  SUM(CASE WHEN tf2 > 0 THEN 1 ELSE 0 END) AS df2
           FROM d),
         s AS (
           SELECT doc_id, dl, tf0, tf1, tf2,
             (((CAST(n AS DOUBLE) - CAST(df0 AS DOUBLE)) + 0.5) / (CAST(df0 AS DOUBLE) + 0.5))
               * ((CAST(tf0 AS DOUBLE) * 2.2) /
                  (CAST(tf0 AS DOUBLE) + 1.2 * ((1.0 - 0.75) + 0.75 *
                    (CAST(dl AS DOUBLE) / (CAST(sdl AS DOUBLE) / CAST(n AS DOUBLE))))))
             + (((CAST(n AS DOUBLE) - CAST(df1 AS DOUBLE)) + 0.5) / (CAST(df1 AS DOUBLE) + 0.5))
               * ((CAST(tf1 AS DOUBLE) * 2.2) /
                  (CAST(tf1 AS DOUBLE) + 1.2 * ((1.0 - 0.75) + 0.75 *
                    (CAST(dl AS DOUBLE) / (CAST(sdl AS DOUBLE) / CAST(n AS DOUBLE))))))
             + (((CAST(n AS DOUBLE) - CAST(df2 AS DOUBLE)) + 0.5) / (CAST(df2 AS DOUBLE) + 0.5))
               * ((CAST(tf2 AS DOUBLE) * 2.2) /
                  (CAST(tf2 AS DOUBLE) + 1.2 * ((1.0 - 0.75) + 0.75 *
                    (CAST(dl AS DOUBLE) / (CAST(sdl AS DOUBLE) / CAST(n AS DOUBLE))))))
             AS score
           FROM d CROSS JOIN g)
         SELECT doc_id, dl, tf0, tf1, tf2, score FROM s
         ORDER BY score DESC, doc_id ASC LIMIT 20""",

    "ev_asof_join" -> """
         WITH x AS (
           SELECT user_id, event_id, ts, event_type,
                  last_value(CASE WHEN event_type = 'view' THEN ts END IGNORE NULLS)
                    OVER (PARTITION BY user_id ORDER BY ts, event_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_view_ts
           FROM events)
         SELECT user_id, event_id, ts, last_view_ts FROM x
         WHERE event_type = 'click' ORDER BY user_id, event_id""",

    // the truth is the plain inequality join — the engine's banding is
    // an equivalent candidate generator, never a semantics change
    "ev_range_join" ->
      """WITH c AS (
           SELECT user_id, event_id AS click_id, ts AS cts
           FROM events WHERE event_type = 'click'),
         v AS (
           SELECT user_id, event_id AS view_id, ts AS vts
           FROM events WHERE event_type = 'view'),
         p AS (
           SELECT DISTINCT c.user_id, click_id, view_id
           FROM c JOIN v ON v.user_id = c.user_id
            AND v.vts > c.cts AND v.vts <= c.cts + INTERVAL 1 HOUR)
         SELECT user_id, COUNT(*) AS n_pairs,
                CAST(COUNT(DISTINCT view_id) AS BIGINT) AS n_views,
                bit_xor(('0x' || substr(md5(CAST(click_id AS VARCHAR) || ':' ||
                  CAST(view_id AS VARCHAR)), 1, 15))::BIGINT) AS pair_fp
         FROM p GROUP BY user_id ORDER BY user_id""",

    "ev_json_extract" -> """
         SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) AS k,
                COUNT(*) AS n,
                CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_v
         FROM events GROUP BY 1 ORDER BY k""",

    "dd_jaccard_pairs" -> s"""
         WITH $tokensCte,
         blk AS (
           SELECT doc_id, source,
                  len(regexp_extract_all(text, '\\S+')) // 10 AS bkt
           FROM documents),
         pairs AS (
           SELECT a.doc_id AS id_a, b.doc_id AS id_b
           FROM blk a JOIN blk b
             ON a.source = b.source AND a.bkt = b.bkt AND a.doc_id < b.doc_id),
         cnt AS (SELECT id, COUNT(*) AS n_tok FROM tok GROUP BY id),
         common AS (
           SELECT p.id_a, p.id_b, COUNT(*) AS n_common
           FROM pairs p JOIN tok a ON a.id = p.id_a
                        JOIN tok b ON b.id = p.id_b AND b.token = a.token
           GROUP BY p.id_a, p.id_b)
         SELECT id_a, id_b FROM common
           JOIN cnt ca ON ca.id = common.id_a
           JOIN cnt cb ON cb.id = common.id_b
         WHERE CAST(n_common AS DOUBLE) / CAST(ca.n_tok + cb.n_tok - n_common AS DOUBLE) >= 0.9
         ORDER BY id_a, id_b""",

    "mm_features" ->
      """WITH m AS (
           SELECT UNNEST(generate_series(0,
             (SELECT COUNT(*) // 3 FROM orders) // 10 - 1)) AS i),
         b AS (
           SELECT i, ['image','audio','video'][(i%3)+1] AS kind,
                  512 + (i%7)*128 AS len
           FROM m),
         bytes AS (
           SELECT i, kind, len,
                  ((i*2654435761 + j*40503) >> 7) & 255 AS byte
           FROM b, UNNEST(generate_series(0, 1279)) t(j) WHERE j < len),
         h AS (
           SELECT i, bucket, COUNT(*) AS cnt FROM (
             SELECT i, byte >> 4 AS bucket FROM bytes)
           GROUP BY i, bucket),
         allb AS (
           SELECT i, kind, len, bk FROM b, UNNEST(generate_series(0, 15)) u(bk))
         SELECT 'MEDIA-' || allb.i AS media_ref, kind, len AS n_bytes,
                bk AS bucket, CAST(COALESCE(h.cnt, 0) AS BIGINT) AS cnt
         FROM allb LEFT JOIN h ON h.i = allb.i AND h.bucket = allb.bk
         ORDER BY media_ref, bucket""",

    // expected PNG features from the raster FORMULA (never the
    // compressed bytes): 24×16 RGB pixels, channel value at flat index
    // j of image i is ((i*2654435761 + j*40503) >> 9) & 255 — buckets
    // 0-2 are exact channel sums, 3-15 the integer Rec.601 luma
    // histogram, identical arithmetic to Multimodal.decodePng
    "mm_png_features" ->
      """WITH m AS (
           SELECT UNNEST(generate_series(0,
             (SELECT COUNT(*) // 3 FROM orders) // 10 - 1)) AS i),
         rgb AS (
           SELECT i, p,
                  ((i*2654435761 + (3*p)*40503) >> 9) & 255 AS r,
                  ((i*2654435761 + (3*p + 1)*40503) >> 9) & 255 AS g,
                  ((i*2654435761 + (3*p + 2)*40503) >> 9) & 255 AS b
           FROM m, UNNEST(generate_series(0, 383)) t(p)),
         sums AS (
           SELECT i, SUM(r) AS sr, SUM(g) AS sg, SUM(b) AS sb
           FROM rgb GROUP BY i),
         hist AS (
           SELECT i, least(((299*r + 587*g + 114*b) // 1000) * 13 // 256, 12) AS bin,
                  COUNT(*) AS c
           FROM rgb GROUP BY 1, 2),
         allb AS (
           SELECT i, bk FROM m, UNNEST(generate_series(0, 12)) u(bk)),
         rows_out AS (
           SELECT i, 0 AS bucket, sr AS cnt FROM sums
           UNION ALL SELECT i, 1, sg FROM sums
           UNION ALL SELECT i, 2, sb FROM sums
           UNION ALL
           SELECT allb.i, 3 + allb.bk, COALESCE(hist.c, 0)
           FROM allb LEFT JOIN hist ON hist.i = allb.i AND hist.bin = allb.bk)
         SELECT 'PNG-' || i AS media_ref, bucket, CAST(cnt AS BIGINT) AS cnt
         FROM rows_out ORDER BY media_ref, bucket""",

    // WAV decode gate: sample j of clip i is ((i*2654435761 +
    // j*40503) >> 9) & 65535 (signed 16-bit) — bucket 0/1 are the
    // signed/absolute sums, 2 the zero-crossing count, 3-15 the
    // unsigned-sample histogram, identical arithmetic to decodeWav
    "mm_wav_features" ->
      """WITH m AS (
           SELECT UNNEST(generate_series(0,
             (SELECT COUNT(*) // 3 FROM orders) // 10 - 1)) AS i),
         sgn AS (
           SELECT i, j, u,
                  CASE WHEN u >= 32768 THEN u - 65536 ELSE u END AS s
           FROM (SELECT i, j,
                        ((i*2654435761 + j*40503) >> 9) & 65535 AS u
                 FROM m, UNNEST(generate_series(0, 255)) t(j))),
         agg AS (
           SELECT i, SUM(s) AS sum_signed, SUM(ABS(s)) AS sum_abs
           FROM sgn GROUP BY i),
         zc AS (
           SELECT i, SUM(CASE WHEN j > 0 AND (s < 0) != (prev < 0)
                              THEN 1 ELSE 0 END) AS n_zc
           FROM (SELECT i, j, s,
                        LAG(s) OVER (PARTITION BY i ORDER BY j) AS prev
                 FROM sgn)
           GROUP BY i),
         hist AS (
           SELECT i, least(u * 13 // 65536, 12) AS bin, COUNT(*) AS c
           FROM sgn GROUP BY 1, 2),
         allb AS (
           SELECT i, bk FROM m, UNNEST(generate_series(0, 12)) u2(bk)),
         rows_out AS (
           SELECT i, 0 AS bucket, sum_signed AS cnt FROM agg
           UNION ALL SELECT i, 1, sum_abs FROM agg
           UNION ALL SELECT i, 2, n_zc FROM zc
           UNION ALL
           SELECT allb.i, 3 + allb.bk, COALESCE(hist.c, 0)
           FROM allb LEFT JOIN hist ON hist.i = allb.i AND hist.bin = allb.bk)
         SELECT 'WAV-' || i AS media_ref, bucket, CAST(cnt AS BIGINT) AS cnt
         FROM rows_out ORDER BY media_ref, bucket""",

    // JPEG decode gate: dimensions are exact; the lossy channel-mean
    // tolerance check is computed Spark-side and must be all-true
    "mm_jpeg_features" ->
      """WITH m AS (
           SELECT UNNEST(generate_series(0,
             (SELECT COUNT(*) // 3 FROM orders) // 10 - 1)) AS i)
         SELECT 'JPEG-' || i AS media_ref, 24 AS width, 16 AS height,
                true AS within_tol
         FROM m ORDER BY media_ref""",

    "dd_simhash" ->
      """WITH tk AS (
           SELECT doc_id AS id,
                  UNNEST(regexp_extract_all(
                    regexp_replace(lower(trim(text)), '\s+', ' ', 'g'),
                    '\S+')) AS token
           FROM documents),
         h AS (SELECT id, ('0x' || substr(md5(token), 1, 15))::BIGINT AS hv FROM tk),
         cnt AS (SELECT id, COUNT(*) AS n FROM tk GROUP BY id),
         bits AS (
           SELECT id, j, SUM((hv >> j) & 1) AS ones
           FROM h, UNNEST(generate_series(0, 59)) t(j)
           GROUP BY id, j),
         sig AS (
           SELECT b.id,
                  CAST(SUM(CASE WHEN b.ones * 2 > c.n
                                THEN (1::BIGINT << j) ELSE 0 END) AS BIGINT) AS sh
           FROM bits b JOIN cnt c ON c.id = b.id GROUP BY b.id)
         SELECT id AS doc_id, sh FROM sig ORDER BY doc_id""",

    // Two unrolled Lloyd iterations mirroring Similarity.kmeans: the
    // same scaled-long components (floor(x*2^20)), the same seed
    // centroids, the same round-6 d² (in unscaled units, /2^40) with
    // cid tiebreak, the same s/n centroid division — so assignment
    // decisions are identical and the final counts + scaled component
    // sums are integer-exact. AS MATERIALIZED: inlined chained CTEs
    // re-plan exponentially in DuckDB (the pagerank lesson).
    "sim_kmeans" ->
      s"""WITH $kmeansCtes
         SELECT a2.cell AS cluster_id,
                COUNT(*) AS n_members,
                CAST(SUM(sv.v[1]) AS BIGINT) AS s0,
                CAST(SUM(sv.v[2]) AS BIGINT) AS s1,
                CAST(SUM(sv.v[3]) AS BIGINT) AS s2
         FROM a2 JOIN sv USING (id)
         GROUP BY a2.cell
         ORDER BY cluster_id""",

    // SemDeDup action: kmeans cells (a2) x sign-LSH buckets (bands)
    // gate the candidate pairs; one exact-cosine verify per pair; a
    // vector is dropped when a LOWER-id same-cell near-dup exists.
    "sim_semdedup" ->
      s"""WITH $kmeansCtes,
         $signBandsCtes,
         cand AS (
           SELECT DISTINCT l.vec_id AS id_a, r.vec_id AS id_b
           FROM bands l
           JOIN bands r ON l.band = r.band AND l.cell = r.cell
                        AND l.vec_id < r.vec_id
           JOIN a2 ka ON ka.id = l.vec_id
           JOIN a2 kb ON kb.id = r.vec_id AND kb.cell = ka.cell),
         expl AS (
           SELECT c.id_a, c.id_b,
                  CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE) AS prod,
                  CAST(a.embedding[i] AS DOUBLE)^2 AS sa,
                  CAST(b.embedding[i] AS DOUBLE)^2 AS sb
           FROM cand c
           JOIN embeddings a ON a.vec_id = c.id_a
           JOIN embeddings b ON b.vec_id = c.id_b,
           UNNEST(generate_series(1, 64)) t(i)),
         ver AS (
           SELECT id_a, id_b FROM expl GROUP BY id_a, id_b
           HAVING SUM(sa) > 0 AND SUM(sb) > 0
              AND SUM(prod) / (sqrt(SUM(sa)) * sqrt(SUM(sb))) >= 0.4)
         SELECT id_b AS vec_id, CAST(COUNT(*) AS BIGINT) AS n_dups_lower
         FROM ver GROUP BY id_b ORDER BY vec_id""",

    "sim_lsh_buckets" ->
      """WITH comp AS (
           SELECT vec_id, i, CAST(embedding[i] AS DOUBLE) AS x
           FROM embeddings, UNNEST(generate_series(1, 64)) t(i)),
         proj AS (
           SELECT vec_id,
             SUM(x * (CASE WHEN ((i-1)*3)  % 64 < 32 THEN 1.0 ELSE -1.0 END)) AS p0,
             SUM(x * (CASE WHEN ((i-1)*5)  % 64 < 32 THEN 1.0 ELSE -1.0 END)) AS p1,
             SUM(x * (CASE WHEN ((i-1)*7)  % 64 < 32 THEN 1.0 ELSE -1.0 END)) AS p2,
             SUM(x * (CASE WHEN ((i-1)*11) % 64 < 32 THEN 1.0 ELSE -1.0 END)) AS p3,
             SUM(x * (CASE WHEN ((i-1)*13) % 64 < 32 THEN 1.0 ELSE -1.0 END)) AS p4,
             SUM(x * (CASE WHEN ((i-1)*17) % 64 < 32 THEN 1.0 ELSE -1.0 END)) AS p5,
             SUM(x * (CASE WHEN ((i-1)*19) % 64 < 32 THEN 1.0 ELSE -1.0 END)) AS p6,
             SUM(x * (CASE WHEN ((i-1)*23) % 64 < 32 THEN 1.0 ELSE -1.0 END)) AS p7
           FROM comp GROUP BY vec_id),
         sig AS (
           SELECT vec_id,
               (CASE WHEN round(p0,6)>=0 THEN 1   ELSE 0 END)
             + (CASE WHEN round(p1,6)>=0 THEN 2   ELSE 0 END)
             + (CASE WHEN round(p2,6)>=0 THEN 4   ELSE 0 END)
             + (CASE WHEN round(p3,6)>=0 THEN 8   ELSE 0 END)
             + (CASE WHEN round(p4,6)>=0 THEN 16  ELSE 0 END)
             + (CASE WHEN round(p5,6)>=0 THEN 32  ELSE 0 END)
             + (CASE WHEN round(p6,6)>=0 THEN 64  ELSE 0 END)
             + (CASE WHEN round(p7,6)>=0 THEN 128 ELSE 0 END) AS sig
           FROM proj)
         SELECT l.vec_id AS id_a, r.vec_id AS id_b
         FROM sig l JOIN sig r ON l.sig = r.sig AND l.vec_id < r.vec_id
         ORDER BY id_a, id_b""",

    "dd_embedding_cosine" ->
      s"""WITH $signBandsCtes,
         cand AS (
           SELECT DISTINCT l.vec_id AS id_a, r.vec_id AS id_b
           FROM bands l JOIN bands r
             ON l.band = r.band AND l.cell = r.cell AND l.vec_id < r.vec_id),
         expl AS (
           SELECT c.id_a, c.id_b,
                  CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE) AS prod,
                  CAST(a.embedding[i] AS DOUBLE)^2 AS sa,
                  CAST(b.embedding[i] AS DOUBLE)^2 AS sb
           FROM cand c
           JOIN embeddings a ON a.vec_id = c.id_a
           JOIN embeddings b ON b.vec_id = c.id_b,
           UNNEST(generate_series(1, 64)) t(i))
         SELECT id_a, id_b FROM expl GROUP BY id_a, id_b
         HAVING SUM(sa) > 0 AND SUM(sb) > 0
            AND SUM(prod) / (sqrt(SUM(sa)) * sqrt(SUM(sb))) >= 0.4
         ORDER BY id_a, id_b""",

    "sim_ann_topk" ->
      """WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
         expl AS (
           SELECT e.vec_id, i,
                  CAST(e.embedding[i] AS DOUBLE) * CAST(q.qe[i] AS DOUBLE) AS prod,
                  CAST(e.embedding[i] AS DOUBLE)^2 AS sa, CAST(q.qe[i] AS DOUBLE)^2 AS sq
           FROM embeddings e, q, UNNEST(generate_series(1, 64)) t(i)
           WHERE e.vec_id <> 0)
         SELECT vec_id, round(SUM(prod) / (sqrt(SUM(sa)) * sqrt(SUM(sq))), 6) AS cos_r
         FROM expl GROUP BY vec_id
         ORDER BY cos_r DESC, vec_id LIMIT 10""",

    "sim_ivf_topk" ->
      """WITH c AS (
           SELECT vec_id AS cid, embedding AS cvec FROM embeddings
           WHERE vec_id BETWEEN 1 AND 8),
         q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
         ac AS (
           SELECT e.vec_id, c.cid,
                  round(SUM(CAST(e.embedding[i] AS DOUBLE) * CAST(c.cvec[i] AS DOUBLE))
                    / (sqrt(SUM(CAST(e.embedding[i] AS DOUBLE)^2))
                       * sqrt(SUM(CAST(c.cvec[i] AS DOUBLE)^2))), 6) AS rcos
           FROM embeddings e, c, UNNEST(generate_series(1, 64)) t(i)
           WHERE e.vec_id <> 0
           GROUP BY e.vec_id, c.cid),
         cell AS (
           SELECT vec_id, cid FROM (
             SELECT vec_id, cid,
                    ROW_NUMBER() OVER (PARTITION BY vec_id
                      ORDER BY rcos DESC, cid) AS rn
             FROM ac) WHERE rn = 1),
         qs AS (
           SELECT c.cid,
                  round(SUM(CAST(c.cvec[i] AS DOUBLE) * CAST(q.qe[i] AS DOUBLE))
                    / (sqrt(SUM(CAST(c.cvec[i] AS DOUBLE)^2))
                       * sqrt(SUM(CAST(q.qe[i] AS DOUBLE)^2))), 6) AS rcos
           FROM c, q, UNNEST(generate_series(1, 64)) t(i)
           GROUP BY c.cid),
         probes AS (
           SELECT cid FROM (
             SELECT cid, ROW_NUMBER() OVER (ORDER BY rcos DESC, cid) AS rn
             FROM qs) WHERE rn <= 2),
         scored AS (
           SELECT e.vec_id,
                  round(SUM(CAST(e.embedding[i] AS DOUBLE) * CAST(q.qe[i] AS DOUBLE))
                    / (sqrt(SUM(CAST(e.embedding[i] AS DOUBLE)^2))
                       * sqrt(SUM(CAST(q.qe[i] AS DOUBLE)^2))), 6) AS cos_r
           FROM embeddings e
           JOIN cell ON cell.vec_id = e.vec_id
           JOIN probes ON probes.cid = cell.cid, q,
           UNNEST(generate_series(1, 64)) t(i)
           GROUP BY e.vec_id),
         sel AS (
           SELECT vec_id, cos_r FROM scored
           WHERE cos_r IS NOT NULL
           ORDER BY cos_r DESC, vec_id LIMIT 10),
         brute AS (
           SELECT e.vec_id,
                  round(SUM(CAST(e.embedding[i] AS DOUBLE) * CAST(q.qe[i] AS DOUBLE))
                    / (sqrt(SUM(CAST(e.embedding[i] AS DOUBLE)^2))
                       * sqrt(SUM(CAST(q.qe[i] AS DOUBLE)^2))), 6) AS bcos
           FROM embeddings e, q, UNNEST(generate_series(1, 64)) t(i)
           WHERE e.vec_id <> 0
           GROUP BY e.vec_id
           ORDER BY bcos DESC, e.vec_id LIMIT 10),
         rec AS (
           SELECT round(COUNT(*) / 10.0, 6) AS recall_at_10
           FROM sel WHERE vec_id IN (SELECT vec_id FROM brute))
         SELECT sel.vec_id, sel.cos_r, rec.recall_at_10
         FROM sel, rec
         ORDER BY cos_r DESC, vec_id""",

    // identical symmetric quantization: floor((x / n) * 127) over the
    // unit vector, with the square-sum folded in ARRAY order
    // (list_transform + list_sum — the same IEEE additions in the same
    // order as the engine's aggregate lambda), zero-norm -> all-zero;
    // the score is an all-integer dot product — no rounding convention
    // at all; the brute/recall CTEs mirror sim_ivf_topk's
    "sim_sq_topk" ->
      """WITH nv AS (
           SELECT vec_id, embedding,
                  sqrt(list_sum(list_transform(embedding,
                    x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
           FROM embeddings),
         qv AS (
           SELECT t.i,
                  CASE WHEN nrm = 0 THEN 0
                       ELSE CAST(FLOOR(CAST(embedding[t.i] AS DOUBLE) / nrm * 127.0)
                            AS BIGINT)
                  END AS qq
           FROM nv, UNNEST(generate_series(1, 64)) t(i)
           WHERE vec_id = 0),
         dv AS (
           SELECT vec_id, t.i,
                  CASE WHEN nrm = 0 THEN 0
                       ELSE CAST(FLOOR(CAST(embedding[t.i] AS DOUBLE) / nrm * 127.0)
                            AS BIGINT)
                  END AS dq
           FROM nv, UNNEST(generate_series(1, 64)) t(i)
           WHERE vec_id <> 0),
         scored AS (
           SELECT dv.vec_id, CAST(SUM(dv.dq * qv.qq) AS BIGINT) AS qdot
           FROM dv JOIN qv ON qv.i = dv.i
           GROUP BY dv.vec_id),
         sel AS (
           SELECT vec_id, qdot FROM scored
           ORDER BY qdot DESC, vec_id LIMIT 10),
         q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
         brute AS (
           SELECT e.vec_id,
                  round(SUM(CAST(e.embedding[i] AS DOUBLE) * CAST(q.qe[i] AS DOUBLE))
                    / (sqrt(SUM(CAST(e.embedding[i] AS DOUBLE)^2))
                       * sqrt(SUM(CAST(q.qe[i] AS DOUBLE)^2))), 6) AS bcos
           FROM embeddings e, q, UNNEST(generate_series(1, 64)) t(i)
           WHERE e.vec_id <> 0
           GROUP BY e.vec_id
           ORDER BY bcos DESC, e.vec_id LIMIT 10),
         rec AS (
           SELECT round(COUNT(*) / 10.0, 6) AS recall_at_10
           FROM sel WHERE vec_id IN (SELECT vec_id FROM brute))
         SELECT sel.vec_id, sel.qdot, rec.recall_at_10
         FROM sel, rec
         ORDER BY qdot DESC, vec_id""",

    // same codebook (vec_ids 1..16 sliced into 8 sub-spaces), same
    // round-6 argmin encoding (ties -> lowest code), same 1e-6-grain
    // integer ADC sums; sub-space sums run in ascending-j array order
    // on both sides (list_sum over generate_series == Spark aggregate)
    "sim_pq_topk" ->
      """WITH cb AS (
           SELECT t.s AS s, vec_id AS c,
                  embedding[t.s*8 + 1 : t.s*8 + 8] AS cvec
           FROM embeddings, UNNEST(generate_series(0, 7)) t(s)
           WHERE vec_id BETWEEN 1 AND 16),
         q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
         adc AS (
           SELECT cb.s, cb.c,
                  CAST(round(list_sum(list_transform(generate_series(1, 8),
                    j -> CAST(q.qe[cb.s*8 + j] AS DOUBLE)
                         * CAST(cb.cvec[j] AS DOUBLE))), 6) * 1000000
                    AS BIGINT) AS ip_e6
           FROM cb, q),
         dist AS (
           SELECT e.vec_id, cb.s, cb.c,
                  round(list_sum(list_transform(generate_series(1, 8),
                    j -> (CAST(e.embedding[cb.s*8 + j] AS DOUBLE)
                          - CAST(cb.cvec[j] AS DOUBLE))^2)), 6) AS d
           FROM embeddings e CROSS JOIN cb
           WHERE e.vec_id <> 0),
         enc AS (
           SELECT vec_id, s, c FROM (
             SELECT vec_id, s, c,
                    ROW_NUMBER() OVER (PARTITION BY vec_id, s
                                       ORDER BY d, c) AS rn
             FROM dist) WHERE rn = 1),
         scored AS (
           SELECT enc.vec_id, CAST(SUM(adc.ip_e6) AS BIGINT) AS qip_e6
           FROM enc JOIN adc ON adc.s = enc.s AND adc.c = enc.c
           GROUP BY enc.vec_id),
         shortlist AS (
           SELECT vec_id FROM scored
           ORDER BY qip_e6 DESC, vec_id LIMIT 50),
         sel AS (
           SELECT e.vec_id,
                  round(SUM(CAST(e.embedding[i] AS DOUBLE) * CAST(q.qe[i] AS DOUBLE))
                    / (sqrt(SUM(CAST(e.embedding[i] AS DOUBLE)^2))
                       * sqrt(SUM(CAST(q.qe[i] AS DOUBLE)^2))), 6) AS cos_r
           FROM embeddings e, q, UNNEST(generate_series(1, 64)) t(i)
           WHERE e.vec_id IN (SELECT vec_id FROM shortlist)
           GROUP BY e.vec_id
           ORDER BY cos_r DESC, e.vec_id LIMIT 10),
         brute AS (
           SELECT e.vec_id,
                  round(SUM(CAST(e.embedding[i] AS DOUBLE) * CAST(q.qe[i] AS DOUBLE))
                    / (sqrt(SUM(CAST(e.embedding[i] AS DOUBLE)^2))
                       * sqrt(SUM(CAST(q.qe[i] AS DOUBLE)^2))), 6) AS bcos
           FROM embeddings e, q, UNNEST(generate_series(1, 64)) t(i)
           WHERE e.vec_id <> 0
           GROUP BY e.vec_id
           ORDER BY bcos DESC, e.vec_id LIMIT 10),
         rec AS (
           SELECT round(COUNT(*) / 10.0, 6) AS recall_at_10
           FROM sel WHERE vec_id IN (SELECT vec_id FROM brute))
         SELECT sel.vec_id, sel.cos_r, rec.recall_at_10
         FROM sel, rec
         ORDER BY cos_r DESC, vec_id""",

    "ev_tumbling_window" ->
      """SELECT date_trunc('hour', ts) AS win, event_type, COUNT(*) AS n,
                CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_v
         FROM events GROUP BY 1, 2 ORDER BY win, event_type""",

    "ev_sessionize" ->
      """WITH g AS (
           SELECT user_id, event_id, ts,
                  LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
           FROM events),
         s AS (
           SELECT user_id, event_id, ts,
                  CASE WHEN prev_ts IS NULL
                         OR date_diff('second', prev_ts, ts) > 1800
                       THEN 1 ELSE 0 END AS new_sess
           FROM g),
         x AS (
           SELECT user_id,
                  CAST(SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS sess_id
           FROM s)
         SELECT user_id, sess_id, COUNT(*) AS n_events
         FROM x GROUP BY user_id, sess_id ORDER BY user_id, sess_id""",

    "ev_dedup_first" ->
      """SELECT user_id, event_type, event_id FROM (
           SELECT user_id, event_type, event_id,
                  ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                    ORDER BY ts, event_id) AS rn
           FROM events)
         WHERE rn = 1 ORDER BY user_id, event_type""",

    // same integer sums, same closed-form z expression, same rounded
    // |z| >= 2 cut
    "ev_anomaly" ->
      """WITH c AS (
           SELECT event_type,
                  CAST(floor(epoch(ts) / 600) * 600 AS BIGINT) AS win_start,
                  COUNT(*) AS c
           FROM events GROUP BY 1, 2),
         st AS (
           SELECT event_type, COUNT(*) AS n,
                  CAST(SUM(c) AS BIGINT) AS sc,
                  CAST(SUM(c * c) AS BIGINT) AS scc
           FROM c GROUP BY 1),
         z AS (
           SELECT c.event_type, c.win_start, c.c AS n_events,
                  round((CAST(c.c AS DOUBLE) - CAST(sc AS DOUBLE) / n)
                        / sqrt(CAST(n * scc - sc * sc AS DOUBLE)
                               / (CAST(n AS DOUBLE) * (n - 1))), 6) AS z
           FROM c JOIN st USING (event_type)
           WHERE n >= 2 AND n * scc - sc * sc > 0)
         SELECT event_type, win_start, n_events, z FROM z
         WHERE abs(z) >= 2.0
         ORDER BY event_type, win_start""",

    // same epoch-day arithmetic, same strictly-keyed next-day/day-7
    // return probes; counts are integer-exact
    "ev_retention" ->
      """WITH days AS (
           SELECT DISTINCT user_id,
                  CAST(floor(epoch(ts) / 86400) AS BIGINT) AS day
           FROM events),
         cohort AS (SELECT user_id, MIN(day) AS c_day FROM days GROUP BY 1),
         base AS (SELECT c_day, COUNT(*) AS n_users FROM cohort GROUP BY 1),
         d1 AS (SELECT c.c_day, COUNT(*) AS n_d1
                FROM cohort c JOIN days d
                  ON d.user_id = c.user_id AND d.day = c.c_day + 1
                GROUP BY 1),
         d7 AS (SELECT c.c_day, COUNT(*) AS n_d7
                FROM cohort c JOIN days d
                  ON d.user_id = c.user_id AND d.day = c.c_day + 7
                GROUP BY 1)
         SELECT base.c_day AS cohort_day, n_users,
                COALESCE(n_d1, 0) AS n_d1, COALESCE(n_d7, 0) AS n_d7
         FROM base LEFT JOIN d1 USING (c_day) LEFT JOIN d7 USING (c_day)
         ORDER BY cohort_day""",

    // same 64-register HLL as a9_sketch_distinct, keyed by the tumbling
    // window start; same md5-prefix user hash, same linear-counting arm
    "ev_window_distinct" ->
      """WITH wr AS (
           SELECT CAST(floor(epoch(ts) / 600) * 600 AS BIGINT) AS win_start,
                  ('0x' || substr(md5('evwd:' || CAST(user_id AS VARCHAR)), 1, 15))::BIGINT AS h
           FROM events),
         wb AS (SELECT win_start, h % 64 AS b, h >> 6 AS w FROM wr),
         regs AS (
           SELECT win_start, b,
                  MAX(CASE WHEN w = 0 THEN 55
                           ELSE 55 - length(bin(w)) END) AS m
           FROM wb GROUP BY win_start, b),
         agg AS (
           SELECT win_start,
                  SUM(2.0 ^ (-m)) + CAST(64 - COUNT(*) AS DOUBLE) AS z,
                  64 - COUNT(*) AS v
           FROM regs GROUP BY win_start),
         est AS (
           SELECT win_start,
                  round(CASE WHEN v > 0
                              AND (0.7213 / (1.0 + 1.079 / 64.0)) * 4096.0 / z <= 160.0
                             THEN 64.0 * ln(64.0 / CAST(v AS DOUBLE))
                             ELSE (0.7213 / (1.0 + 1.079 / 64.0)) * 4096.0 / z
                        END, 3) AS est_distinct
           FROM agg),
         ex AS (
           SELECT win_start, COUNT(*) AS n_exact
           FROM (SELECT DISTINCT win_start, h FROM wr) GROUP BY win_start)
         SELECT win_start, n_exact, est_distinct
         FROM est JOIN ex USING (win_start) ORDER BY win_start""",

    // same two-windows-per-event expansion (size 600 s = 2 × slide
    // 300 s); epoch floor-division matches Spark's unix_timestamp floor
    // for positive timestamps
    "ev_hopping_window" ->
      """WITH e AS (
           SELECT event_type, value,
                  CAST(floor(epoch(ts) / 300) * 300 AS BIGINT) AS w1
           FROM events),
         x AS (
           SELECT event_type, value, w1 AS win_start FROM e
           UNION ALL
           SELECT event_type, value, w1 - 300 FROM e)
         SELECT win_start, event_type, COUNT(*) AS n,
                CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_v
         FROM x GROUP BY 1, 2 ORDER BY win_start, event_type""",

    "ev_rolling_avg" ->
      """SELECT user_id, event_id,
                round(CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE)
                      / COUNT(*) OVER w, 6) AS roll_avg
         FROM events
         WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                      ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
         ORDER BY user_id, event_id""",

    // same strictly-after chaining (ts > prior stage's min) per stage
    // same lead() window with the same (ts, event_id) total order
    "ev_markov" ->
      """WITH tr AS (
           SELECT event_type AS from_type,
                  LEAD(event_type) OVER (
                    PARTITION BY user_id ORDER BY ts, event_id) AS to_type
           FROM events),
         bc AS (SELECT from_type, to_type, COUNT(*) AS n FROM tr
                WHERE to_type IS NOT NULL GROUP BY 1, 2),
         tot AS (SELECT from_type, CAST(SUM(n) AS BIGINT) AS n_from
                 FROM bc GROUP BY 1)
         SELECT bc.from_type, bc.to_type, bc.n,
                round(CAST(bc.n AS DOUBLE) / CAST(tot.n_from AS DOUBLE), 6)
                  AS p
         FROM bc JOIN tot USING (from_type)
         ORDER BY from_type, to_type""",

    // same run-collapse (lag → change flag → cumulative run id), same
    // [valid_from, valid_to) stitching via LEAD over the run rows
    "ev_scd2" -> scd2OracleSql,

    // the INCREMENTAL build is gated against the identical FULL-BATCH
    // SQL — green ⇒ incremental == batch over the whole stream
    "s8l_scd2_merge" -> scd2OracleSql,

    // expected content of the published ref: base thirds ∪ the
    // corrected batch (nulls healed to 'und'), staged rows absent
    "s8m_wap" ->
      """SELECT doc_id, source, lang FROM documents WHERE doc_id % 3 = 0
         UNION ALL
         SELECT doc_id, source,
                CASE WHEN doc_id % 5 = 0 THEN 'und' ELSE lang END AS lang
         FROM documents WHERE doc_id % 3 = 1
         ORDER BY doc_id""",

    "ev_funnel" ->
      """WITH v AS (SELECT user_id, MIN(ts) AS v_ts FROM events
                    WHERE event_type = 'view' GROUP BY 1),
         c AS (SELECT e.user_id, MIN(e.ts) AS c_ts
               FROM events e JOIN v USING (user_id)
               WHERE e.event_type = 'click' AND e.ts > v.v_ts GROUP BY 1),
         p AS (SELECT e.user_id, MIN(e.ts) AS p_ts
               FROM events e JOIN c USING (user_id)
               WHERE e.event_type = 'purchase' AND e.ts > c.c_ts GROUP BY 1),
         u AS (SELECT DISTINCT user_id FROM events)
         SELECT u.user_id,
                CAST(CASE WHEN p.p_ts IS NOT NULL THEN 3
                          WHEN c.c_ts IS NOT NULL THEN 2
                          WHEN v.v_ts IS NOT NULL THEN 1
                          ELSE 0 END AS BIGINT) AS funnel_depth
         FROM u LEFT JOIN v USING (user_id) LEFT JOIN c USING (user_id)
                LEFT JOIN p USING (user_id)
         ORDER BY user_id""",

    // same word bigrams (tokens come from the shared normalize+split),
    // same 60-bit md5 hash into 1024 buckets, same +1/Laplace smoothing
    // and per-(doc, bucket) count-weighted log-ratio sum
    "tx_dsir" ->
      """WITH tarr AS (
           SELECT doc_id, lang, regexp_extract_all(
             regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), '\S+') AS ts
           FROM documents),
         bg AS (
           SELECT doc_id, lang,
                  ('0x' || substr(md5(ts[i] || ' ' || ts[i+1]), 1, 15))::BIGINT
                    % 1024 AS b
           FROM tarr, UNNEST(generate_series(1, len(ts) - 1)) t(i)),
         db AS (SELECT doc_id, lang, b, COUNT(*) AS n_b
                FROM bg GROUP BY 1, 2, 3),
         raw AS (SELECT b, SUM(n_b) AS cr FROM db GROUP BY b),
         tgt AS (SELECT b, SUM(n_b) AS ct FROM db WHERE lang = 'en' GROUP BY b),
         tot AS (SELECT (SELECT CAST(CAST(SUM(cr) AS BIGINT) AS DOUBLE) FROM raw) AS tr,
                        (SELECT CAST(CAST(SUM(ct) AS BIGINT) AS DOUBLE) FROM tgt) AS tt)
         SELECT db.doc_id,
                CAST(SUM(n_b) AS BIGINT) AS n_bigrams,
                round(SUM(n_b * (ln(CAST(COALESCE(tgt.ct, 0) + 1 AS DOUBLE)
                                    / (tot.tt + 1024))
                               - ln(CAST(raw.cr + 1 AS DOUBLE)
                                    / (tot.tr + 1024)))), 6) AS dsir_weight
         FROM db JOIN raw USING (b) LEFT JOIN tgt USING (b) CROSS JOIN tot
         GROUP BY db.doc_id
         ORDER BY doc_id"""
  )
}
