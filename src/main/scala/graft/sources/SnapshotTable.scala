package graft.sources

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import java.nio.file.{FileAlreadyExistsException, Files, Path, Paths, StandardCopyOption, StandardOpenOption}

/** Iceberg-layout document/triple tables — the sandbox substitute for
  * the Apache Iceberg runtime (this container has no Iceberg jars and
  * zero egress), implementing the parts of the table-format CONTRACT
  * the pipeline depends on, in the same shape:
  *
  *  - immutable data files, grouped per writer attempt
  *    (`data/w-<token>/part-*.parquet` — a snapshot never rewrites
  *    another snapshot's files);
  *  - manifests tracking the file list + per-file row counts + the data
  *    dir each file was written under (`manifests/<name>/` parquet:
  *    path, rows, snapshot_id, base — the stats + partition-location
  *    data Iceberg keeps in manifest entries);
  *  - versioned metadata (`metadata/v<id>.json`: schema DDL, partition
  *    columns, operation, parent snapshot, manifest location). The
  *    COMMIT POINT is creating `v<id>.json` with create-new semantics —
  *    an optimistic-concurrency CAS exactly like Iceberg's metadata
  *    swap: two writers racing to snapshot N+1 cannot both create the
  *    file; the loser re-reads the current snapshot and retries on top
  *    of the winner. `version-hint.text` is a best-effort pointer (as
  *    in Iceberg's file-system catalog); [[currentSnapshot]] forward-
  *    scans past a stale hint;
  *  - time travel: read any retained snapshot by id;
  *  - append / overwrite semantics as new snapshots (append = parent
  *    manifest ∪ new files);
  *  - idempotency keys for exactly-once publishes under replays;
  *  - one commit path ([[commit]]): a mutation stages an attempt on top
  *    of the current snapshot — what its manifest keeps of earlier
  *    snapshots, and the entries of the files it wrote — and one loop
  *    writes the manifest (kept ∪ new), takes the totals from the
  *    entries in hand, creates `v<id>.json`, and only then primes the
  *    manifest cache; a lost CAS reclaims the attempt and retries on
  *    top of the winner. `write` stages its new files over nothing
  *    (overwrite) or over the whole parent (append), writing its data
  *    once; `overwritePartitions`, `merge` and `delete` stage the parent
  *    entries they leave untouched plus a rewrite derived from the
  *    parent, restaged after a lost CAS; `rollback` stages a byte copy
  *    of its target's manifest at the target's recorded totals.
  *
  * On a cluster with the real Iceberg runtime, swap these calls for
  * `spark.read.format("iceberg")` / `writeTo(...)` — the pipeline code
  * depends only on DataFrames in and out.
  */
object SnapshotTable {

  case class Snapshot(id: Long, operation: String, parent: Long,
      files: Long, rows: Long)

  private def hintPath(dir: String) = Paths.get(dir, "metadata", "version-hint.text")
  private def versionPath(dir: String, snap: Long) =
    Paths.get(dir, "metadata", s"v$snap.json")

  /** Latest snapshot id, or 0 when the table does not exist yet. The
    * hint file is best-effort (concurrent committers may race the
    * pointer update): forward-scan for newer v<id>.json files so a
    * stale hint never hides a committed snapshot.
    */
  def currentSnapshot(dir: String): Long = {
    val p = hintPath(dir)
    var snap = if (Files.exists(p)) Files.readString(p).trim.toLong else 0L
    // The forward scan can only trust its floor if the floor itself is a
    // committed, still-retained snapshot. A regressed hint whose target
    // (and that target's successor) were since expired would otherwise
    // strand the scan below the true head — recover by listing the
    // retained metadata (what history() does) instead.
    val floorCommitted = snap > 0 && Files.exists(versionPath(dir, snap))
    if (!floorCommitted && !Files.exists(versionPath(dir, snap + 1)))
      snap = history(dir).lastOption.map(_.id).getOrElse(snap)
    while (Files.exists(versionPath(dir, snap + 1))) snap += 1
    snap
  }

  private[graft] def jsonEscape(s: String): String = s.flatMap {
    case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
  }

  private[graft] def jsonUnescape(s: String): String = {
    val out = new StringBuilder; var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '\\' && i + 1 < s.length) {
        s.charAt(i + 1) match {
          case '"' => out += '"'; i += 2
          case '\\' => out += '\\'; i += 2
          case 'n' => out += '\n'; i += 2
          case 'u' =>
            out += Integer.parseInt(s.substring(i + 2, i + 6), 16).toChar; i += 6
          case other => out += other; i += 2
        }
      } else { out += c; i += 1 }
    }
    out.toString
  }

  private def metaJson(dir: String, snap: Long): Option[String] = {
    val p = versionPath(dir, snap)
    if (Files.exists(p)) Some(Files.readString(p)) else None
  }

  private def metaStr(j: String, k: String): Option[String] =
    (s""""$k":"((?:[^"\\\\]|\\\\.)*)"""").r.findFirstMatchIn(j)
      .map(m => jsonUnescape(m.group(1)))

  private def metaLong(j: String, k: String): Option[Long] =
    (s""""$k":(-?\\d+)""").r.findFirstMatchIn(j).map(_.group(1).toLong)

  /** (data_files, rows) recorded by snapshot `snap` — every commit path
    * writes both, so manifest totals are answerable from one metadata
    * read instead of re-aggregating the manifest parquet.
    */
  private def metaCounts(dir: String, snap: Long): Option[(Long, Long)] =
    metaJson(dir, snap).flatMap(j =>
      for (f <- metaLong(j, "data_files"); r <- metaLong(j, "rows"))
        yield (f, r))

  /** Driver-side cache of committed manifests (rows + schema), keyed by
    * the manifest dir — sound because a committed manifest is IMMUTABLE
    * (writers land attempts under writer-unique names and never rewrite
    * a committed one; expiry deletes, never edits). Re-reading the same
    * few-KB manifest parquet cost one Spark job per table read — across
    * the s8* fixture suite and the incremental-dedup state machinery
    * that was hundreds of scheduler round-trips per bench run. The
    * cached frame comes back as a LOCAL relation, so filters/projections
    * over it constant-fold driver-side (ConvertToLocalRelation) instead
    * of scheduling jobs. Manifests beyond [[ManifestCacheMaxRows]]
    * entries (a 100 TB table has file counts in the millions) bypass the
    * cache and keep the distributed read — the cache is a small-metadata
    * fast path, not an assumption that metadata fits the driver.
    */
  private[graft] val ManifestCacheMaxRows = 100000
  private val ManifestCacheMaxEntries = 1024
  private val manifestCache =
    new java.util.concurrent.ConcurrentHashMap[String, Entries]()

  /** Manifest entries held on the driver: the rows and their schema. */
  private[graft] type Entries = (Array[Row], StructType)

  /** Cache a committed manifest's entries under their read schema:
    * every column nullable, as `spark.read.parquet` returns it.
    */
  private def cachePut(mdir: String, e: Entries): Unit = {
    if (manifestCache.size() >= ManifestCacheMaxEntries) manifestCache.clear()
    manifestCache.put(mdir,
      (e._1, StructType(e._2.fields.map(_.copy(nullable = true)))))
  }

  /** Whether the cache holds the manifest dir `mdir` (for the specs). */
  private[graft] def manifestCached(mdir: String): Boolean =
    manifestCache.containsKey(mdir)

  private def toFrame(spark: SparkSession, e: Entries): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(e._1: _*), e._2)

  /** Manifest entries on the driver (Right), or a plan (Left) where they
    * are corpus-large, carry bloom arrays or come from an aggregate.
    */
  private type EntrySet = Either[DataFrame, Entries]

  private def frame(spark: SparkSession, e: EntrySet): DataFrame =
    e.fold(identity, toFrame(spark, _))

  /** Snapshot `snap`'s manifest entries: on the driver up to
    * [[ManifestCacheMaxRows]], a Spark read above.
    */
  private def manifestSet(spark: SparkSession, dir: String, snap: Long): EntrySet =
    manifestEntries(spark, dir, snap).toRight(spark.read.parquet(manifestDir(dir, snap)))

  private def manifestFrame(spark: SparkSession, dir: String,
      snap: Long): DataFrame =
    frame(spark, manifestSet(spark, dir, snap))

  /** (path, base) of the manifest entries `m` where `keep` holds. */
  private def entryPaths(m: DataFrame, keep: Column = lit(true)): Array[(String, String)] =
    m.filter(keep).select(col("path"), col("base")).collect()
      .map(r => (r.getString(0), r.getString(1)))

  /** The entries of snapshot `snap`'s manifest on the driver; None when
    * it has more than [[ManifestCacheMaxRows]] (the recorded data_files
    * count IS the entry count, so a too-big manifest is known without
    * reading it). A cache miss reads a string-and-long manifest with
    * parquet-mr on the driver, and any other (bloom arrays) with Spark.
    */
  private def manifestEntries(spark: SparkSession, dir: String,
      snap: Long): Option[Entries] = {
    val mdir = manifestDir(dir, snap)
    val cached = manifestCache.get(mdir)
    if (cached != null) return Some(cached)
    if (metaCounts(dir, snap).exists(_._1 > ManifestCacheMaxRows)) return None
    val e = readLocalManifest(spark, mdir).getOrElse {
      val df = spark.read.parquet(mdir)
      (df.collect(), df.schema)
    }
    cachePut(mdir, e)
    Some(manifestCache.get(mdir))
  }

  /** Footer key under which Spark records a parquet file's row schema. */
  private val SparkRowSchema = "org.apache.spark.sql.parquet.row.metadata"

  /** The parquet column of a manifest field the driver path handles:
    * the string and long columns of the entries (path, base, bounds,
    * rows, snapshot id). None for anything else (bloom arrays).
    */
  private def flatParquetField(f: org.apache.spark.sql.types.StructField)
      : Option[org.apache.parquet.schema.PrimitiveType] = {
    import org.apache.parquet.schema.{LogicalTypeAnnotation, Types}
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
    import org.apache.spark.sql.types._
    (f.dataType match {
      case StringType =>
        Some(Types.optional(BINARY).as(LogicalTypeAnnotation.stringType()))
      case LongType => Some(Types.optional(INT64))
      case _ => None
    }).map(_.named(f.name))
  }

  /** Write `e` as one parquet file in the manifest dir `mdir` with
    * parquet-mr on the driver, through a Hadoop Path and the session's
    * Hadoop conf, recording Spark's row schema in the footer so that
    * `spark.read.parquet` reads it back as written. False, with nothing
    * written, when a column is neither string nor long.
    */
  private def writeLocalManifest(spark: SparkSession, mdir: String,
      e: Entries): Boolean = {
    val columns = e._2.fields.map(flatParquetField)
    if (columns.exists(_.isEmpty)) return false
    import org.apache.parquet.example.data.simple.SimpleGroup
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.spark.sql.types._
    val message = new org.apache.parquet.schema.MessageType("spark_schema",
      columns.map(c => c.get: org.apache.parquet.schema.Type): _*)
    val conf = spark.sessionState.newHadoopConf()
    val schema = StructType(e._2.fields.map(_.copy(nullable = true)))
    val writer = ExampleParquetWriter.builder(
        org.apache.parquet.hadoop.util.HadoopOutputFile.fromPath(
          new org.apache.hadoop.fs.Path(s"$mdir/part-00000.snappy.parquet"), conf))
      .withConf(conf).withType(message)
      .withWriteMode(org.apache.parquet.hadoop.ParquetFileWriter.Mode.OVERWRITE)
      .withCompressionCodec(
        org.apache.parquet.hadoop.metadata.CompressionCodecName.SNAPPY)
      .withExtraMetaData(java.util.Map.of(SparkRowSchema, schema.json))
      .build()
    try e._1.foreach { r =>
      val g = new SimpleGroup(message)
      e._2.fields.indices.foreach { i =>
        if (!r.isNullAt(i)) e._2.fields(i).dataType match {
          case StringType => g.add(i, r.getString(i))
          case LongType => g.add(i, r.getLong(i))
        }
      }
      writer.write(g)
    } finally writer.close()
    true
  }

  /** Read the manifest dir `mdir` with parquet-mr on the driver, through
    * the session's Hadoop conf. None (the caller reads it with Spark)
    * unless every file records one Spark row schema of string and long
    * columns — what [[writeLocalManifest]] and Spark's own manifest
    * writes of such entries both leave.
    */
  private[graft] def readLocalManifest(spark: SparkSession,
      mdir: String): Option[Entries] = {
    import scala.jdk.CollectionConverters._
    import org.apache.hadoop.fs.Path
    import org.apache.parquet.hadoop.{ParquetFileReader, ParquetReader}
    import org.apache.parquet.hadoop.example.GroupReadSupport
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import org.apache.spark.sql.types._
    val conf = spark.sessionState.newHadoopConf()
    val root = new Path(mdir)
    val files = root.getFileSystem(conf).listStatus(root).toSeq
      .map(_.getPath).filter { p =>
        val n = p.getName
        n.endsWith(".parquet") && !n.startsWith(".") && !n.startsWith("_")
      }.sortBy(_.getName)
    val schemas = files.map { p =>
      val reader = ParquetFileReader.open(HadoopInputFile.fromPath(p, conf))
      try Option(reader.getFooter.getFileMetaData.getKeyValueMetaData.get(SparkRowSchema))
        .map(s => StructType(DataType.fromJson(s).asInstanceOf[StructType].fields
          .map(_.copy(nullable = true))))
      finally reader.close()
    }
    val schema = schemas.headOption.flatten
      .filter(s => schemas.forall(_.contains(s)))
      .filter(_.fields.forall(flatParquetField(_).isDefined))
    schema.map { s =>
      val rows = files.flatMap { p =>
        val reader = ParquetReader.builder(new GroupReadSupport(), p)
          .withConf(conf).build()
        try Iterator.continually(reader.read()).takeWhile(_ != null).map { g =>
          val t = g.getType
          Row.fromSeq(s.fields.toSeq.map { f =>
            val i = t.getFieldIndex(f.name)
            if (g.getFieldRepetitionCount(i) == 0) null
            else f.dataType match {
              case StringType => g.getString(i, 0)
              case LongType => g.getLong(i, 0)
            }
          })
        }.toVector
        finally reader.close()
      }
      (rows.toArray, s)
    }
  }

  /** `a` ∪ `b` by column name, a column one side lacks read as null:
    * `unionByName(allowMissingColumns = true)` on the driver, for entries
    * whose shared columns have one type (every writer here gives a
    * column name the same type).
    */
  private def unionEntries(a: Entries, b: Entries): Entries = {
    val names = a._2.fieldNames ++ b._2.fieldNames.filterNot(a._2.fieldNames.contains)
    val schema = StructType(names.map(n =>
      (if (a._2.fieldNames.contains(n)) a._2(n) else b._2(n)).copy(nullable = true)))
    def align(e: Entries): Array[Row] = {
      val at = names.map(n => e._2.fieldNames.indexOf(n))
      e._1.map(r => Row.fromSeq(at.toSeq.map(i => if (i < 0) null else r.get(i))))
    }
    (align(a) ++ align(b), schema)
  }

  /** Write a snapshot's manifest into the dir `mdir`: the one manifest
    * writer of the commit paths. Entries held on the driver — at most
    * [[ManifestCacheMaxRows]] of them, string and long columns — are written
    * with parquet-mr on the driver, no Spark job, and returned so that
    * the commit can cache them once its CAS wins. Any other manifest
    * (corpus-large, bloom arrays, or entries that are only a plan)
    * is written through Spark as one file.
    */
  private[graft] def writeManifest(spark: SparkSession, mdir: String,
      entries: EntrySet): Option[Entries] = entries match {
    case Right(e) if e._1.length <= ManifestCacheMaxRows &&
        writeLocalManifest(spark, mdir, e) => Some(e)
    case other =>
      frame(spark, other).coalesce(1).write.mode("overwrite").parquet(mdir)
      None
  }

  /** The idempotency key recorded by snapshot `snap`, if any. */
  def committedKey(dir: String, snap: Long): Option[String] =
    metaJson(dir, snap).flatMap(metaStr(_, "idempotency_key")).filter(_.nonEmpty)

  /** Schema DDL recorded by snapshot `snap` (empty reads reconstitute
    * the DataFrame schema from this).
    */
  def schemaDdl(dir: String, snap: Long): Option[String] =
    metaJson(dir, snap).flatMap(metaStr(_, "schema"))

  private def metaStrList(j: String, k: String): Seq[String] =
    (s""""$k":\\[([^\\]]*)\\]""").r.findFirstMatchIn(j)
      .map(_.group(1)).getOrElse("")
      .split(",").map(_.trim.stripPrefix("\"").stripSuffix("\""))
      .filter(_.nonEmpty).toSeq

  /** Partition columns recorded by snapshot `snap`. */
  def partitionSpec(dir: String, snap: Long): Seq[String] =
    metaJson(dir, snap).map(metaStrList(_, "partition_spec")).getOrElse(Nil)

  /** Columns whose per-file min/max stats the manifest of `snap`
    * carries (`min_<c>` / `max_<c>` entry columns — the Iceberg
    * lower_bounds/upper_bounds analogue). Empty for tables written
    * before stats, or without `statsCols`.
    */
  def statsColumns(dir: String, snap: Long): Seq[String] =
    metaJson(dir, snap).map(metaStrList(_, "stats_cols")).getOrElse(Nil)

  /** Manifest location recorded by snapshot `snap` (manifest names are
    * writer-unique; the committed metadata is the source of truth).
    */
  private[graft] def manifestDir(dir: String, snap: Long): String =
    metaJson(dir, snap).flatMap(metaStr(_, "manifest"))
      .map(rel => s"$dir/$rel")
      .getOrElse(s"$dir/manifests/snap-$snap")

  /** The commit point: create v<snap>.json with create-new semantics
    * (the CAS — fails if another writer already committed this id),
    * then move the best-effort hint pointer forward.
    */
  private def commitCas(dir: String, snap: Long, operation: String,
      parent: Long, schemaDdl: String, partitionBy: Seq[String],
      manifestRel: String, files: Long, rows: Long,
      idempotencyKey: String, statsCols: Seq[String]): Unit = {
    Files.createDirectories(Paths.get(dir, "metadata"))
    val json =
      s"""{"format_version":2,"snapshot_id":$snap,"parent_snapshot_id":$parent,
         |"operation":"$operation","schema":"${jsonEscape(schemaDdl)}",
         |"partition_spec":[${partitionBy.map(c => s""""$c"""").mkString(",")}],
         |"stats_cols":[${statsCols.map(c => s""""$c"""").mkString(",")}],
         |"idempotency_key":"${jsonEscape(idempotencyKey)}",
         |"manifest":"${jsonEscape(manifestRel)}","data_files":$files,"rows":$rows}"""
        .stripMargin.replace("\n", "")
    // CREATE_NEW: atomically fails when a concurrent writer won this id
    Files.writeString(versionPath(dir, snap), json, StandardOpenOption.CREATE_NEW)
    // key index entry (O(1) exactly-once probe), written atomically via
    // tmp+move so a crash can never leave a torn marker; a crash BEFORE
    // this line is covered by snapshotWithKey's bounded fallback scan
    if (idempotencyKey.nonEmpty) {
      ensureKeyIndex(dir)
      writeKeyMarker(dir, idempotencyKey, snap)
    }
    // best-effort pointer (readers forward-scan past staleness); only
    // move it forward so a slow loser never regresses a newer commit
    val cur = hintPath(dir)
    val curVal = if (Files.exists(cur)) Files.readString(cur).trim.toLong else 0L
    if (snap > curVal) replaceAtomically(cur, snap.toString)
  }

  /** Replace `target` with `content`: written to a temp file beside it
    * and renamed over it, so a reader sees the old file or the whole new
    * one, never a torn write. A plain create keeps the umask's
    * permissions (createTempFile's are 0600).
    */
  private[graft] def replaceAtomically(target: Path, content: String): Unit = {
    val tmp = Files.createDirectories(target.getParent)
      .resolve(s"${target.getFileName}.${java.util.UUID.randomUUID}.tmp")
    Files.writeString(tmp, content)
    Files.move(tmp, target, StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
  }

  /** Key-index marker path: every commit with a key also creates
    * `metadata/keys/k-<md5(key)>` containing its snapshot id, making
    * the exactly-once probe one file read instead of a history scan —
    * without the index, a long streaming append sequence (every write
    * probes its key) is O(n²) in metadata reads. Markers of expired
    * snapshots are reclaimed by expireSnapshots.
    */
  private def keyMarkerPath(dir: String, idempotencyKey: String) = {
    val h = java.security.MessageDigest.getInstance("MD5")
      .digest(idempotencyKey.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    Paths.get(dir, "metadata", "keys", s"k-$h")
  }

  private def writeKeyMarker(dir: String, idempotencyKey: String, snap: Long): Unit =
    replaceAtomically(keyMarkerPath(dir, idempotencyKey), snap.toString)

  /** Sentinel recording that the key index covers ALL retained
    * snapshots, not just those committed after the index appeared. The
    * bounded marker-miss window is only sound when this file exists; a
    * partially-backfilled index (crash mid-backfill) lacks it and keeps
    * the whole-retained-history scan.
    */
  private def keyIndexSentinel(dir: String) =
    Paths.get(dir, "metadata", "keys", ".complete")

  /** Create the key index if missing — and, critically, BACKFILL markers
    * for every retained snapshot's key first, so keys committed by a
    * pre-index writer version (or before a crash wiped a marker) stay
    * visible to the O(1) probe forever, not just for [[KeyScanWindow]]
    * snapshots. Idempotent and concurrency-safe: marker writes are
    * atomic per-key moves and two backfillers write identical content.
    */
  private def ensureKeyIndex(dir: String): Unit = {
    if (Files.exists(keyIndexSentinel(dir))) return
    history(dir).foreach { s =>
      committedKey(dir, s.id).foreach(k => writeKeyMarker(dir, k, s.id))
    }
    replaceAtomically(keyIndexSentinel(dir), "1")
  }

  /** How far back the marker-miss fallback scans. A marker can only be
    * missing for a committed key if the committer crashed in the
    * instant between metadata creation and marker creation; the
    * caller's retry is the committer's own next operation, so the
    * original commit is at worst a handful of snapshots behind by then.
    */
  private val KeyScanWindow = 64

  /** Snapshot (within the retained history) that committed
    * `idempotencyKey`, if any — the exactly-once probe. O(1) via the
    * key index (marker verified against the snapshot's own metadata);
    * a marker miss falls back to scanning the newest [[KeyScanWindow]]
    * snapshots — covering the crashed-marker window — and self-heals
    * the marker on a hit.
    */
  def snapshotWithKey(dir: String, idempotencyKey: String): Option[Long] =
    if (idempotencyKey.isEmpty) None
    else {
      val marker = keyMarkerPath(dir, idempotencyKey)
      val viaIndex =
        if (!Files.exists(marker)) None
        else scala.util.Try(Files.readString(marker).trim.toLong).toOption
          .filter(s => committedKey(dir, s).contains(idempotencyKey))
      viaIndex.orElse {
        val cur = currentSnapshot(dir)
        // the bounded crashed-marker window is only sound when the index
        // provably covers all retained snapshots (backfill sentinel) —
        // a pre-index or partially-backfilled table keeps the original
        // whole-retained-history guarantee
        val floor =
          if (Files.exists(keyIndexSentinel(dir)))
            math.max(1L, cur - KeyScanWindow + 1)
          else 1L
        val found = (cur to floor by -1L)
          .find(s => committedKey(dir, s).contains(idempotencyKey))
        found.foreach { s =>
          try writeKeyMarker(dir, idempotencyKey, s)
          catch { case _: java.io.IOException => () }
        }
        found
      }
    }

  // ---- the commit path ---------------------------------------------------

  /** (entries, rows) of an entry set: summed on the driver, or one
    * aggregate job over a plan.
    */
  private def totals(e: EntrySet): (Long, Long) = e match {
    case Right((rows, schema)) =>
      val at = schema.fieldIndex("rows")
      (rows.length.toLong, rows.map(_.getLong(at)).sum)
    case Left(df) =>
      val r = df.agg(count(lit(1)), coalesce(sum(col("rows")), lit(0L))).head()
      (r.getLong(0), r.getLong(1))
  }

  /** (data_files, rows) recorded by snapshot `snap`. */
  private def recordedTotals(dir: String, snap: Long): (Long, Long) =
    metaCounts(dir, snap).getOrElse(throw new IllegalStateException(
      s"no data_files/rows recorded for $dir@$snap"))

  /** What a staged attempt's manifest keeps of earlier snapshots. */
  private sealed trait Kept
  /** Nothing: the manifest lists only the new files (overwrite). */
  private case object KeepNone extends Kept
  /** Every entry of snapshot `snap`, at its recorded totals: the parent's
    * under an append. With no new files the manifest is a byte copy of
    * `snap`'s, original `snapshot_id` stamps preserved (a rollback).
    */
  private case class KeepAll(snap: Long) extends Kept
  /** The parent entries a rewrite left untouched. */
  private case class KeepSome(entries: EntrySet) extends Kept

  /** One commit attempt staged on top of a parent snapshot: the schema,
    * partition spec and stats columns to record, the entries kept, and
    * the entries of the files it wrote under `data/w-<token>` (None:
    * nothing written). `fromParent`: those files were derived from the
    * parent's data, so a lost CAS discards them and the next attempt
    * restages from the winner.
    */
  private case class Staged(schemaDdl: String, partitionBy: Seq[String],
      statsCols: Seq[String], kept: Kept, fresh: Option[EntrySet],
      token: String, fromParent: Boolean)

  /** Names one writer's data dir (`data/w-<token>`) and manifest attempts. */
  private def newToken(): String = java.util.UUID.randomUUID.toString.take(12)

  /** How often a commit may lose the CAS before it gives up. */
  private val MaxCommitAttempts = 100

  /** The one commit path of every mutation. A key already committed
    * returns its snapshot. Each attempt stages on top of the current
    * snapshot, writes the manifest `manifests/snap-<id>-<token>`, takes
    * the totals from the entries in hand, re-probes the key (a racer
    * that committed it wins: this attempt's files are reclaimed) and
    * creates `v<id>.json` — the CAS. Only a won CAS primes the manifest
    * cache. A lost one reclaims the attempt's manifest, and its data
    * when staged from the parent, then retries on top of the winner.
    */
  private def commit(spark: SparkSession, dir: String, operation: String,
      idempotencyKey: String)(stage: Long => Staged): Long = {
    val already = snapshotWithKey(dir, idempotencyKey)
    if (already.isDefined) return already.get
    var attempt = 0
    while (true) {
      val parent = currentSnapshot(dir)
      val s = stage(parent)
      val snap = parent + 1
      val manifestRel = s"manifests/snap-$snap-${s.token}"
      val mdir = s"$dir/$manifestRel"
      val (written, files, rows) =
        try writeAttempt(spark, dir, mdir, snap, s)
        finally s.fresh.foreach(_.left.foreach(_.unpersist()))
      def reclaim(data: Boolean): Unit = {
        deleteRecursively(Paths.get(mdir))
        if (data) deleteRecursively(Paths.get(dir, "data", s"w-${s.token}"))
      }
      val racedKey = snapshotWithKey(dir, idempotencyKey)
      if (racedKey.isDefined) {
        reclaim(data = true)
        return racedKey.get
      }
      try {
        commitCas(dir, snap, operation, parent, s.schemaDdl, s.partitionBy,
          manifestRel, files, rows, idempotencyKey, s.statsCols)
        written.foreach(cachePut(mdir, _))
        return snap
      } catch {
        case _: FileAlreadyExistsException =>
          reclaim(data = s.fromParent)
          attempt += 1
          require(attempt < MaxCommitAttempts, s"$operation contention on $dir")
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** Write attempt `s`'s manifest into `mdir` as snapshot `snap`'s and
    * take its totals: the kept entries' (recorded, for a whole snapshot)
    * plus the new entries'. Returns the entries to cache once the CAS
    * wins; None when Spark wrote them or the manifest is a copy.
    */
  private def writeAttempt(spark: SparkSession, dir: String, mdir: String,
      snap: Long, s: Staged): (Option[Entries], Long, Long) =
    (s.kept, s.fresh) match {
      case (KeepAll(from), None) =>
        import scala.jdk.CollectionConverters._
        val dst = Files.createDirectories(Paths.get(mdir))
        val stream = Files.list(Paths.get(manifestDir(dir, from)))
        try stream.iterator().asScala.filter(Files.isRegularFile(_)).foreach(f =>
          Files.copy(f, dst.resolve(f.getFileName.toString),
            StandardCopyOption.REPLACE_EXISTING))
        finally stream.close()
        val (f, r) = recordedTotals(dir, from)
        (None, f, r)
      case (kept, Some(added)) =>
        val fresh = added.fold(
          df => Left(df.withColumn("snapshot_id", lit(snap))),
          e => Right((e._1.map(r => Row.fromSeq(r.toSeq :+ snap)),
            e._2.add("snapshot_id", org.apache.spark.sql.types.LongType, false))))
        val (old, (keptFiles, keptRows)) = kept match {
          case KeepNone => (None, (0L, 0L))
          case KeepAll(from) => (Some(manifestSet(spark, dir, from)), recordedTotals(dir, from))
          case KeepSome(e) => (Some(e), totals(e))
        }
        // an aggregate's totals job also materializes the persisted entries
        val (newFiles, newRows) = totals(fresh)
        // allowMissingColumns: entries written before (or after) a
        // stats-column change carry null bounds — readers treat null as
        // "unknown, cannot skip", so mixed manifests stay correct
        val manifest = old.fold(fresh)(o => (o, fresh) match {
          case (Right(a), Right(b)) => Right(unionEntries(a, b))
          case _ => Left(frame(spark, o).unionByName(frame(spark, fresh),
            allowMissingColumns = true))
        })
        (writeManifest(spark, mdir, manifest), keptFiles + newFiles, keptRows + newRows)
      case (kept, None) =>
        throw new IllegalArgumentException(s"nothing to commit over $kept")
    }

  /** Manifest entries of the data files just written under `dataDir`,
    * one per non-empty file: path, rows, `min_<c>`/`max_<c>` per stats
    * column (strings, compared after casting back to the column's type),
    * base, and a `bloom_<c>` per bloom column.
    *
    * With no bloom columns and integral stats columns (the stats-free
    * streaming append is the common case) they come from the parquet
    * FOOTERS on the driver — metadata-sized work that replaces a Spark
    * re-read of the data just written (one scheduler round-trip per
    * commit, the dominant cost of the fixture/state-table builds). Footer
    * INT statistics are exact and string-format-identical to the
    * distributed min/max cast. String/fractional stats columns and bloom
    * indexes keep the distributed aggregate, which must see the rows, as
    * does a footer missing usable statistics. The aggregate comes back
    * persisted: the commit's totals and manifest write both read it.
    */
  private def newFileEntries(spark: SparkSession, dataDir: String,
      schema: StructType, statsCols: Seq[String],
      bloomCols: Seq[String] = Nil): EntrySet = {
    val footer =
      if (bloomCols.isEmpty && statsCols.forall(c => footerExactType(schema(c).dataType)))
        footerStatEntries(spark, dataDir, statsCols)
      else None
    footer.map { files =>
      val ddl = (Seq("path STRING", "rows BIGINT") ++
        statsCols.flatMap(c => Seq(s"min_$c STRING", s"max_$c STRING")) ++
        Seq("base STRING")).mkString(", ")
      // zero-row part files list no entry, as in groupBy(input_file_name)
      Right((files.filter(_._2 > 0).map { case (p, r, bounds) =>
          Row.fromSeq(Seq(p, r) ++ bounds.flatMap(b => Seq(b._1, b._2)) :+ dataDir)
        }.toArray, StructType.fromDDL(ddl))): EntrySet
    }.getOrElse {
      // the recorded schema also reads a dir a delete left without part files
      val data = spark.read.schema(schema).parquet(dataDir)
      val plain = data.groupBy(input_file_name().as("path"))
        .agg(count(lit(1)).as("rows"), statsCols.flatMap(c => Seq(
          min(col(c)).cast("string").as(s"min_$c"),
          max(col(c)).cast("string").as(s"max_$c"))): _*)
        .withColumn("base", lit(dataDir))
      // per-file BLOOM INDEX (the Iceberg/Delta file-bloom analogue):
      // the distinct set bit positions of a column's values per file —
      // ≤ BloomBits rows per file (the distinct caps the aggregation
      // state BEFORE collect_set), so building it is one extra bounded
      // pass over the just-written files. Point reads ([[readPoint]])
      // skip files whose bloom excludes the value — the lookup path for
      // a column the layout is NOT clustered on, where min/max bounds
      // cannot prune. Null blooms (other writers, merge rewrites) mean
      // "unknown, cannot skip", like null stats bounds.
      Left(bloomCols.foldLeft(plain) { (acc, c) =>
        val bits = data
          .select(input_file_name().as("path"),
            explode(array((0 until graft.ops.Sketches.BloomK).map(j =>
              graft.ops.Sketches.bloomBit(j, col(c).cast("string"))): _*))
              .as("bit"))
          .distinct()
          .groupBy(col("path"))
          .agg(sort_array(collect_set(col("bit"))).as(s"bloom_$c"))
        acc.join(bits, Seq("path"), "left")
      }.persist())
    }
  }

  /** Write a new snapshot. `mode` = "overwrite" (the new snapshot's
    * manifest lists only the new files) or "append" (parent manifest ∪
    * new files). Data files of previous snapshots are never touched —
    * time travel stays valid.
    *
    * Concurrency: data files land in a writer-unique `data/w-<token>`
    * dir, so concurrent writers never clobber each other's files; the
    * commit is the v<id>.json CAS. On conflict the writer re-reads the
    * current snapshot and retries the (cheap) manifest + metadata step
    * — the data files are written exactly once. Both writers' rows
    * survive, and the history stays linear.
    *
    * `idempotencyKey` makes the publish exactly-once under replays: a
    * streaming foreachBatch that re-delivers a batch after a failure
    * passes the batch id here, and a key already recorded by ANY
    * retained snapshot short-circuits to that snapshot instead of
    * appending a duplicate.
    *
    * `statsCols`: record per-file min/max for these columns in the
    * manifest (`min_<c>`/`max_<c>`, stored as strings and compared
    * after casting back to the column's type) — the Iceberg
    * lower/upper-bounds analogue that lets [[readRange]] and
    * [[merge]]'s affected-file detection SKIP files whose range
    * provably excludes the predicate, without opening them. When
    * empty, the table's existing stats columns (if any) are inherited,
    * so appends and compaction keep the coverage the table declared.
    */
  def write(df: DataFrame, dir: String, mode: String = "overwrite",
      partitionBy: Seq[String] = Nil, idempotencyKey: String = "",
      statsCols: Seq[String] = Nil, bloomCols: Seq[String] = Nil): Long = {
    val spark = df.sparkSession
    val token = newToken()
    // forced by the first attempt, after the key probe: the data files
    // land once, and a lost CAS retries only the manifest and metadata
    lazy val (effStats, fresh) = {
      // add-column schema evolution: an append may WIDEN the schema (new
      // columns — old files read as null via the recorded-schema scan in
      // [[assemble]]) but never drop a column or change a type; those
      // need an overwrite, which rewrites the file list anyway
      if (mode == "append") {
        val p = currentSnapshot(dir)
        if (p > 0) schemaDdl(dir, p).foreach { ddl =>
          StructType.fromDDL(ddl).fields.foreach { f =>
            val i = df.schema.fieldNames.indexOf(f.name)
            require(i >= 0,
              s"append drops column ${f.name}; schema can only widen on append")
            // catalogString comparison: nullability (incl. nested
            // containsNull) is NOT a type change — parquet round-trips
            // and DDL reconstitution flip it routinely
            require(df.schema(i).dataType.catalogString == f.dataType.catalogString,
              s"append changes ${f.name}: ${f.dataType.catalogString} -> " +
                df.schema(i).dataType.catalogString)
          }
        }
      }
      // inherit the table's declared stats columns (schema evolution may
      // drop one — stats only ever cover columns this write actually has)
      val effStats = {
        val base = if (statsCols.nonEmpty) statsCols
          else { val p = currentSnapshot(dir); if (p > 0) statsColumns(dir, p) else Nil }
        base.filter(df.columns.contains)
      }
      require(effStats.intersect(partitionBy).isEmpty,
        s"statsCols must not be partition columns: ${effStats.intersect(partitionBy)}")
      require(bloomCols.forall(df.columns.contains),
        s"bloomCols not in df: ${bloomCols.filterNot(df.columns.contains)}")
      require(bloomCols.intersect(partitionBy).isEmpty,
        s"bloomCols must not be partition columns")
      val dataDir = s"$dir/data/w-$token"
      val writer = df.write.mode("overwrite")
      (if (partitionBy.nonEmpty) writer.partitionBy(partitionBy: _*) else writer)
        .parquet(dataDir)
      // an empty DataFrame lists zero entries (its schema-only part file
      // has no rows) — a legal snapshot; readers reconstitute the schema
      // from the metadata DDL
      (effStats, newFileEntries(spark, dataDir, df.schema, effStats, bloomCols))
    }
    commit(spark, dir, mode, idempotencyKey) { parent =>
      Staged(df.schema.toDDL, partitionBy, effStats,
        if (mode == "append" && parent > 0) KeepAll(parent) else KeepNone,
        Some(fresh), token, fromParent = false)
    }
  }

  /** Statistics columns whose per-file min/max can be read EXACTLY
    * from parquet footers: integral primitives only. INT32/INT64
    * footer statistics are never truncated and their decimal string
    * form equals Spark's cast-to-string; binary (string) footer stats
    * may be truncated and fractional types format differently, so
    * those keep the distributed aggregate.
    */
  private def footerExactType(dt: org.apache.spark.sql.types.DataType): Boolean =
    dt match {
      case org.apache.spark.sql.types.LongType |
           org.apache.spark.sql.types.IntegerType |
           org.apache.spark.sql.types.ShortType |
           org.apache.spark.sql.types.ByteType => true
      case _ => false
    }

  /** Per-file (path, rows, min/max strings per stats column) read from
    * the parquet footers ON THE DRIVER (metadata-sized, no Spark job):
    * a snapshot commit with integral stats columns needs no Spark
    * re-read of the data it just wrote, because the footers already
    * carry exact per-row-group min/max, and a pipeline stage takes its
    * per-file row counts here (no stats columns). Paths use the file://
    * URI spelling input_file_name() produces; every part file is
    * listed, zero-row (schema-only) ones included. Returns None
    * (caller falls back to the distributed aggregate) if any
    * non-empty file lacks usable statistics for a requested column —
    * correctness never depends on footers being present. All-null
    * columns yield null bounds, matching min/max over nulls.
    */
  private[graft] def footerStatEntries(spark: SparkSession, dataDir: String,
      statsCols: Seq[String]): Option[Seq[(String, Long, Seq[(String, String)])]] = {
    import scala.jdk.CollectionConverters._
    val conf = spark.sessionState.newHadoopConf()
    var usable = true
    val out = footerFiles(dataDir).map { p =>
      val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(p.toUri), conf)
      val reader = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      try {
        val blocks = reader.getFooter.getBlocks.asScala.toSeq
        val rows = blocks.map(_.getRowCount.toLong).sum
        val bounds = if (rows == 0) Nil else statsCols.map { c =>
          var lo = Long.MaxValue
          var hi = Long.MinValue
          var seen = false
          blocks.foreach { b =>
            b.getColumns.asScala.find(_.getPath.toDotString == c) match {
              case Some(chunk) =>
                val s = chunk.getStatistics
                if (s == null) usable = false
                else if (s.hasNonNullValue) {
                  (s.genericGetMin, s.genericGetMax) match {
                    case (mn: Number, mx: Number) =>
                      if (mn.longValue < lo) lo = mn.longValue
                      if (mx.longValue > hi) hi = mx.longValue
                      seen = true
                    case _ => usable = false
                  }
                } else if (!s.isNumNullsSet ||
                    s.getNumNulls != b.getRowCount) {
                  // not an all-null chunk, yet min/max absent: stats
                  // were not written — cannot commit from metadata
                  usable = false
                }
              case None => usable = false
            }
          }
          if (seen) (lo.toString, hi.toString)
          else (null: String, null: String)
        }
        ("file://" + p.toAbsolutePath, rows, bounds)
      } finally reader.close()
    }
    if (usable) Some(out) else None
  }

  /** Data files of a freshly-written dir, sorted. */
  private def footerFiles(dataDir: String): Seq[java.nio.file.Path] = {
    import scala.jdk.CollectionConverters._
    val stream = Files.walk(Paths.get(dataDir))
    try stream.iterator().asScala.filter { p =>
      val n = p.getFileName.toString
      Files.isRegularFile(p) && n.endsWith(".parquet") &&
        !n.startsWith(".") && !n.startsWith("_")
    }.toSeq.sortBy(_.toString)
    finally stream.close()
  }

  /** ROLLBACK: revert the table to the logical content of snapshot
    * `to`, as a NEW commit (the Iceberg rollback analogue) — the
    * bad-ingest undo: nothing is deleted, the new snapshot simply
    * references `to`'s manifest entries (original `snapshot_id` stamps
    * preserved, so [[readDelta]] correctly reports an EMPTY delta for
    * a rollback — no file is newer than the parent), history keeps
    * both the bad commit and the `operation = "rollback"` audit row,
    * and the schema / partition spec / stats columns revert with the
    * data (undoing a schema evolution restores the pre-evolution
    * DDL). The manifest is a byte copy of `to`'s on the driver, and the
    * totals are `to`'s recorded ones: no Spark job. Refuses if `to`'s
    * manifest has been expired. Exactly-once under replays via
    * `idempotencyKey`.
    */
  def rollback(spark: SparkSession, dir: String, to: Long,
      idempotencyKey: String = ""): Long =
    commit(spark, dir, "rollback", idempotencyKey) { parent =>
      require(parent > 0, s"no snapshot in $dir to roll back")
      require(to >= 1 && to <= parent, s"no snapshot $to in $dir")
      require(Files.exists(Paths.get(manifestDir(dir, to))),
        s"snapshot $to of $dir has been expired; cannot roll back to it")
      Staged(schemaDdl(dir, to).get, partitionSpec(dir, to), statsColumns(dir, to),
        KeepAll(to), None, newToken(), fromParent = false)
    }

  /** Partition tuple of a manifest entry, parsed from the hive path
    * segments between `base` and the file name (`col=value` dirs, in
    * partition-spec order). Constraint shared with the writer: values
    * must not need hive path escaping (alphanumeric plus `-_.`);
    * the overwrite-partitions API enforces it at the boundary.
    */
  private def entryPartition(path: String, base: String,
      partitionBy: Seq[String]): Seq[String] = {
    val rel = path.stripPrefix(base).stripPrefix("/")
    val dirs = rel.split("/").dropRight(1)
    partitionBy.map { c =>
      dirs.collectFirst { case d if d.startsWith(s"$c=") =>
        d.substring(c.length + 1) }
        .getOrElse(throw new IllegalStateException(
          s"no $c= segment in $path (base $base)"))
    }
  }

  /** Dynamic partition overwrite (the `INSERT OVERWRITE ... PARTITION`
    * analogue): replace EXACTLY the hive partitions present in `df` —
    * every file of an affected partition is dropped from the new
    * manifest, `df`'s rows land as its new content, and every other
    * partition's files are carried verbatim. Copy-on-write at
    * partition granularity: the daily re-ingest primitive — re-landing
    * one day of a date-partitioned event table rewrites that day, not
    * the corpus, and `readDelta(sinceSnapshot = parent)` shows exactly
    * the re-landed rows. An affected partition absent from the parent
    * is simply created; overwriting with zero rows for a partition is
    * impossible by construction (a partition is "present in df" only
    * via its rows) — use [[delete]] to empty one. Partition values
    * must be hive-path-safe (alphanumeric plus `-_.`), checked here.
    * Same CAS discipline as [[merge]]: a lost race recomputes from
    * detection; exactly-once under replays via `idempotencyKey`.
    */
  def overwritePartitions(df: DataFrame, dir: String,
      idempotencyKey: String = ""): Long = {
    val spark = df.sparkSession
    commit(spark, dir, "overwrite_partitions", idempotencyKey) { parent =>
      require(parent > 0, s"no snapshot in $dir to overwrite into")
      val partitionBy = partitionSpec(dir, parent)
      require(partitionBy.nonEmpty,
        "overwritePartitions needs a partitioned table (use write(mode=overwrite))")
      val schema = StructType.fromDDL(schemaDdl(dir, parent).get)
      val cols = schema.fieldNames.toSeq
      require(cols.forall(df.columns.contains),
        s"df missing columns: ${cols.filterNot(df.columns.contains)}")
      val sel = df.select(cols.map(col): _*)
      val affected = sel.select(partitionBy.map(col): _*).distinct()
        .collect().map { r =>
          require(partitionBy.indices.forall(!r.isNullAt(_)),
            "null partition values are unsupported in overwritePartitions")
          partitionBy.indices.map(i => String.valueOf(r.get(i))).toList
        }.toSet
      val safe = "[A-Za-z0-9._-]+".r
      affected.flatten.foreach(v => require(safe.matches(v),
        s"partition value needs hive escaping, unsupported here: '$v'"))
      // manifests are file-level metadata (one coalesced file; the
      // merge path collects them the same way) — driver-side filter
      val (parentRows, parentSchema) = manifestSet(spark, dir, parent)
        .fold(m => (m.collect(), m.schema), identity)
      val Seq(pathAt, baseAt) = Seq("path", "base").map(parentSchema.fieldIndex)
      val keep = parentRows.filter { r =>
        !affected.contains(
          entryPartition(r.getString(pathAt), r.getString(baseAt), partitionBy).toList)
      }
      val token = newToken()
      val dataDir = s"$dir/data/w-$token"
      sel.write.mode("overwrite").partitionBy(partitionBy: _*).parquet(dataDir)
      val effStats = statsColumns(dir, parent).filter(cols.contains)
      Staged(schema.toDDL, partitionBy, effStats, KeepSome(Right((keep, parentSchema))),
        Some(newFileEntries(spark, dataDir, schema, effStats)), token, fromParent = true)
    }
  }

  /** Copy-on-write MERGE (the Iceberg MERGE INTO analogue): upsert
    * `updates` into the table by `keyCols`, newest-wins — existing rows
    * whose key appears in `updates` are replaced, new keys are
    * inserted. Only data files CONTAINING an updated key are rewritten;
    * every unaffected file is carried into the new manifest untouched
    * (verbatim path + original snapshot_id). That file-level
    * copy-on-write is the property that matters at 10^12 rows: a
    * 1000-row upsert rewrites a handful of files, not the table — and
    * `readDelta(sinceSnapshot = parent)` returns exactly the rewritten
    * rows, so incremental consumers see the merge as a delta.
    *
    * Affected-file detection reads ONLY the key columns plus
    * `input_file_name()` (a key-column scan, not a full-width one) and
    * joins against the distinct update keys — AQE broadcasts the
    * typical small update set. When the table carries manifest min/max
    * stats on a key column ([[write]]'s `statsCols`), the detection
    * scan is first PRUNED to the files whose key range intersects some
    * update key (a semi-join of per-file bounds against the update
    * keys): a clustered table upserting a narrow key range opens a
    * handful of files, not the table.
    *
    * Concurrency: same CAS discipline as [[write]], but a lost race
    * RECOMPUTES from detection (the rewrite was derived from the old
    * parent's data — retrying just the commit could drop a racer's
    * rows). `updates` must be key-distinct (enforced); schema must
    * cover the table's columns. Exactly-once under replays via
    * `idempotencyKey`, like every other commit here.
    */
  def merge(spark: SparkSession, dir: String, updates: DataFrame,
      keyCols: Seq[String], idempotencyKey: String = ""): Long =
    rewriteByKeys(spark, dir, Some(updates), updates, keyCols, "merge",
      idempotencyKey)

  /** Row-level DELETE by key — the takedown / right-to-be-forgotten
    * primitive a training corpus needs: remove every row whose
    * `keyCols` tuple appears in `keys`, as a new snapshot, with the
    * same file-level copy-on-write as [[merge]] — only data files
    * CONTAINING a doomed key are rewritten (stats-pruned detection
    * when the table carries min/max bounds on a key column); every
    * unaffected file is carried into the new manifest verbatim. Keys
    * absent from the table are no-ops, not errors. Old snapshots stay
    * time-travelable until [[expireSnapshots]] reclaims their files —
    * a compliance delete is physically complete once expiry runs, and
    * the `operation = "delete"` history row is the audit trail.
    * Exactly-once under replays via `idempotencyKey`; a lost CAS race
    * recomputes from detection, like merge.
    */
  def delete(spark: SparkSession, dir: String, keys: DataFrame,
      keyCols: Seq[String], idempotencyKey: String = ""): Long =
    rewriteByKeys(spark, dir, None, keys, keyCols, "delete", idempotencyKey)

  /** Shared copy-on-write core of [[merge]] and [[delete]]: rewrite
    * only the data files whose rows match a key in `keys`, union the
    * upsert rows back in when `upsert` is present, carry every other
    * file verbatim. */
  private def rewriteByKeys(spark: SparkSession, dir: String,
      upsert: Option[DataFrame], keys: DataFrame, keyCols: Seq[String],
      operation: String, idempotencyKey: String): Long = {
    require(keyCols.nonEmpty, s"$operation needs at least one key column")
    commit(spark, dir, operation, idempotencyKey) { parent =>
      require(parent > 0, s"no snapshot in $dir to $operation into")
      val schema = StructType.fromDDL(schemaDdl(dir, parent).get)
      val cols = schema.fieldNames.toSeq
      require(keyCols.forall(cols.contains), s"key not in table: $keyCols")
      val upd = upsert.map { u =>
        require(cols.forall(u.columns.contains),
          s"updates missing columns: ${cols.filterNot(u.columns.contains)}")
        val sel = u.select(cols.map(col): _*).persist()
        require(sel.groupBy(keyCols.map(col): _*).count()
          .filter(col("count") > 1).isEmpty,
          "updates must be key-distinct (newest-wins is ambiguous)")
        sel
      }
      require(keyCols.forall(keys.columns.contains),
        s"keys missing columns: ${keyCols.filterNot(keys.columns.contains)}")
      val updKeys = upd.getOrElse(keys).select(keyCols.map(col): _*).distinct()
      val parentEntries = manifestSet(spark, dir, parent)
      val manifestDf = frame(spark, parentEntries)
      val allEntries = entryPaths(manifestDf)
      // stats-pruned detection: files whose [min,max] bounds on a
      // stats-covered key column intersect NO update key cannot be
      // affected — skip scanning them entirely. Null/absent bounds are
      // always candidates (unknown, not empty). O(#files × #updKeys)
      // worst-case on the bounds semi-join — #files rows vs a typically
      // small upsert batch.
      val statKey = statsColumns(dir, parent).find(c =>
        keyCols.contains(c) && manifestDf.columns.contains(s"min_$c"))
      val candEntries = statKey match {
        case Some(c) =>
          val dt = schema(c).dataType
          val ranged = manifestDf.select(col("path"),
            col(s"min_$c").cast(dt).as("_lo"), col(s"max_$c").cast(dt).as("_hi"))
          val hit = ranged.filter(col("_lo").isNotNull && col("_hi").isNotNull)
            .join(updKeys.select(col(c).cast(dt).as("_k")),
              col("_k") >= col("_lo") && col("_k") <= col("_hi"), "left_semi")
          val cand = hit.select(col("path"))
            .union(ranged.filter(col("_lo").isNull || col("_hi").isNull)
              .select(col("path")))
            .collect().map(_.getString(0)).toSet
          allEntries.filter(e => cand.contains(e._1))
        case None => allEntries
      }
      val cur = assemble(spark, dir, parent, candEntries)
        .withColumn("_file", input_file_name())
      val affected = cur
        .select((keyCols.map(col) :+ col("_file")): _*)
        .join(updKeys, keyCols)
        .select(col("_file")).distinct()
        .collect().map(_.getString(0)).toSeq
      import spark.implicits._
      val affectedDf = affected.toDF("path")
      val survivors = cur
        .join(affectedDf.withColumnRenamed("path", "_file"), Seq("_file"))
        .drop("_file")
        .join(updKeys, keyCols, "left_anti")
      val rewritten = upd.fold(survivors)(survivors.unionByName(_))
      val partitionBy = partitionSpec(dir, parent)
      val token = newToken()
      val dataDir = s"$dir/data/w-$token"
      val writer = rewritten.write.mode("overwrite")
      try (if (partitionBy.nonEmpty) writer.partitionBy(partitionBy: _*) else writer)
        .parquet(dataDir)
      finally upd.foreach(_.unpersist())
      // rewritten files carry the same stats coverage the table
      // declared, so a merged table keeps pruning
      val mergeStats = statsColumns(dir, parent).filter(cols.contains)
        .filterNot(partitionBy.contains)
      val affectedSet = affected.toSet
      val kept = parentEntries.fold(
        _ => Left(manifestDf.join(affectedDf, Seq("path"), "left_anti")),
        { case (rows, s) =>
          val at = s.fieldIndex("path")
          Right((rows.filterNot(r => affectedSet.contains(r.getString(at))), s))
        })
      Staged(schema.toDDL, partitionBy, mergeStats, KeepSome(kept),
        Some(newFileEntries(spark, dataDir, schema, mergeStats)), token, fromParent = true)
    }
  }

  private def deleteRecursively(p: java.nio.file.Path): Unit =
    if (Files.exists(p)) {
      import scala.jdk.CollectionConverters._
      val stream = Files.walk(p)
      try stream.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists(_))
      finally stream.close()
    }

  private def emptyOf(spark: SparkSession, dir: String, snap: Long): DataFrame = {
    val ddl = schemaDdl(dir, snap).getOrElse(
      throw new IllegalStateException(s"no schema recorded for $dir@$snap"))
    spark.createDataFrame(spark.sparkContext.emptyRDD[Row], StructType.fromDDL(ddl))
  }

  /** Assemble a DataFrame from manifest entries. Unpartitioned tables
    * (the streaming-append case) read ALL files in ONE scan relation —
    * the plan stays O(1) in the number of snapshots, not O(#appends).
    * Partitioned tables need hive-style partition reconstitution, which
    * requires one read per distinct data dir (basePath) — bounded by
    * the number of OVERWRITE generations, not appends, and compaction
    * collapses it to one.
    *
    * Every read uses the snapshot's RECORDED schema, never footer
    * inference — that is what makes add-column SCHEMA EVOLUTION work:
    * files written before the column was added simply lack it, and the
    * parquet reader null-fills requested-but-absent columns. Footer
    * inference over a mixed-schema file list would instead pick
    * whichever file it sampled first.
    */
  private def assemble(spark: SparkSession, dir: String, snap: Long,
      entries: Array[(String, String)]): DataFrame = {
    if (entries.isEmpty) return emptyOf(spark, dir, snap)
    val schemaOpt = schemaDdl(dir, snap).map(StructType.fromDDL)
    def reader = schemaOpt.fold(spark.read)(s => spark.read.schema(s))
    if (partitionSpec(dir, snap).isEmpty)
      reader.parquet(entries.map(_._1).toSeq: _*)
    else
      entries.groupBy(_._2).toSeq.sortBy(_._1)
        .map { case (base, fs) =>
          reader.option("basePath", base).parquet(fs.map(_._1).toSeq: _*)
        }
        .reduce(_.unionByName(_))
  }

  /** Read the table at a snapshot (default: latest). The file list comes
    * from the snapshot's manifest, so concurrent new snapshots never
    * change what an in-flight read sees. An empty snapshot reads as an
    * empty DataFrame with the recorded schema.
    */
  def read(spark: SparkSession, dir: String,
      snapshot: Option[Long] = None): DataFrame = {
    val snap = snapshot.getOrElse(currentSnapshot(dir))
    require(snap > 0, s"no snapshot in $dir")
    assemble(spark, dir, snap, entryPaths(manifestFrame(spark, dir, snap)))
  }

  /** Manifest entries of `snap` that could hold a row with
    * `lo <= keyCol <= hi`, judged by the per-file min/max bounds —
    * plus the total entry count, so callers can report the skip ratio.
    * Entries without bounds (written before stats, or a file whose
    * key column is all-null) are never skipped: null bounds mean
    * "unknown", not "empty".
    */
  private[graft] def pruneEntries(spark: SparkSession, dir: String,
      snap: Long, keyCol: String, lo: String, hi: String): (Array[(String, String)], Long) = {
    val m = manifestFrame(spark, dir, snap)
    val keep =
      if (!statsColumns(dir, snap).contains(keyCol) ||
          !m.columns.contains(s"min_$keyCol")) lit(true)
      else {
        val dt = StructType.fromDDL(schemaDdl(dir, snap).get)(keyCol).dataType
        val mn = col(s"min_$keyCol").cast(dt)
        val mx = col(s"max_$keyCol").cast(dt)
        mn.isNull || mx.isNull || !(mx < lit(lo).cast(dt) || mn > lit(hi).cast(dt))
      }
    // the recorded data_files count is the manifest's entry count
    (entryPaths(m, keep), recordedTotals(dir, snap)._1)
  }

  /** Read the rows with `lo <= keyCol <= hi` (bounds as strings, cast
    * to the column's type on both the skip test and the row filter),
    * SKIPPING every data file whose manifest bounds prove it cannot
    * match — file-level skipping on top of parquet's own row-group
    * pruning: at 10^12 rows a selective key range opens a handful of
    * files instead of listing-and-footer-reading the whole table.
    * Result ≡ `read(...).filter(keyCol between lo and hi)` by
    * construction (bounds are conservative; null bounds never skip).
    */
  def readRange(spark: SparkSession, dir: String, keyCol: String,
      lo: String, hi: String, snapshot: Option[Long] = None): DataFrame = {
    val snap = snapshot.getOrElse(currentSnapshot(dir))
    require(snap > 0, s"no snapshot in $dir")
    val (kept, _) = pruneEntries(spark, dir, snap, keyCol, lo, hi)
    val dt = StructType.fromDDL(schemaDdl(dir, snap).get)(keyCol).dataType
    assemble(spark, dir, snap, kept)
      .filter(col(keyCol) >= lit(lo).cast(dt) && col(keyCol) <= lit(hi).cast(dt))
  }

  /** Multi-column box read: rows satisfying EVERY `(col, lo, hi)`
    * range, skipping data files whose bounds exclude ANY of them —
    * the 2-D (and higher) companion to [[readRange]]. On a z-ordered
    * layout (`ops.ZOrder.cluster` + `statsCols` on both columns) a
    * narrow box prunes on both dimensions at once; on a single-column
    * sort it degrades gracefully to that column's pruning. Result ≡
    * `read(...)` filtered by all ranges.
    */
  def readBox(spark: SparkSession, dir: String,
      preds: Seq[(String, String, String)],
      snapshot: Option[Long] = None): DataFrame = {
    require(preds.nonEmpty, "readBox needs at least one (col, lo, hi)")
    val snap = snapshot.getOrElse(currentSnapshot(dir))
    require(snap > 0, s"no snapshot in $dir")
    val keptPaths = preds
      .map { case (c, lo, hi) =>
        pruneEntries(spark, dir, snap, c, lo, hi)._1.map(_._1).toSet }
      .reduce(_ intersect _)
    // entry (path, base) pairs restored from the first column's scan
    val (first, _) = pruneEntries(spark, dir, snap,
      preds.head._1, preds.head._2, preds.head._3)
    val schema = StructType.fromDDL(schemaDdl(dir, snap).get)
    val filters = preds.map { case (c, lo, hi) =>
      val dt = schema(c).dataType
      col(c) >= lit(lo).cast(dt) && col(c) <= lit(hi).cast(dt)
    }.reduce(_ && _)
    assemble(spark, dir, snap, first.filter(e => keptPaths.contains(e._1)))
      .filter(filters)
  }

  /** Point lookup with BLOOM file skipping: rows where `keyCol`'s
    * string form equals `value`, opening only the files whose per-file
    * bloom (written via `write(bloomCols = ...)`) might contain it —
    * at 10^12 rows a point probe on a NON-clustered column (where
    * min/max bounds prune nothing) opens the handful of
    * bloom-positive files instead of the table. One-sided guarantee:
    * the bloom never skips a file that holds the value (no false
    * negatives — spec-swept); false positives only cost an extra file
    * open. Entries without a bloom (older writers, merge rewrites)
    * are never skipped. Result ≡ `read(...).filter(keyCol = value)`.
    */
  def readPoint(spark: SparkSession, dir: String, keyCol: String,
      value: String, snapshot: Option[Long] = None): DataFrame = {
    val snap = snapshot.getOrElse(currentSnapshot(dir))
    require(snap > 0, s"no snapshot in $dir")
    val m = manifestFrame(spark, dir, snap)
    val bloomCol = s"bloom_$keyCol"
    val keep =
      if (!m.columns.contains(bloomCol)) lit(true)
      else {
        val pos = graft.ops.Sketches.bloomPositions(value)
        col(bloomCol).isNull ||
          size(array_intersect(col(bloomCol),
            array(pos.map(lit(_)): _*))) === pos.size
      }
    val kept = entryPaths(m, keep)
    val dt = StructType.fromDDL(schemaDdl(dir, snap).get)(keyCol).dataType
    assemble(spark, dir, snap, kept)
      .filter(col(keyCol) === lit(value).cast(dt))
  }

  /** METADATA-ONLY aggregates: `(n_rows, min_<keyCol>, max_<keyCol>)`
    * computed purely from the manifest (per-file row counts + min/max
    * bounds) — O(#files) metadata, ZERO data scanned: the `SELECT
    * COUNT(*), MIN(k), MAX(k)` a 10^12-row table should answer without
    * a job per file. Refuses (IllegalStateException) when any
    * non-empty file lacks bounds on `keyCol` — null bounds mean
    * "unknown", and a metadata answer built on unknowns would be a
    * silent lie; callers fall back to the scan. Empty files count
    * toward n_rows (zero) but never poison min/max.
    */
  def metadataAggs(spark: SparkSession, dir: String, keyCol: String,
      snapshot: Option[Long] = None): DataFrame = {
    val snap = snapshot.getOrElse(currentSnapshot(dir))
    require(snap > 0, s"no snapshot in $dir")
    require(statsColumns(dir, snap).contains(keyCol),
      s"no recorded stats on $keyCol for $dir@$snap")
    val dt = StructType.fromDDL(schemaDdl(dir, snap).get)(keyCol).dataType
    val m = manifestFrame(spark, dir, snap)
    val unknown =
      if (!m.columns.contains(s"min_$keyCol")) m.filter(col("rows") > 0)
      else m.filter(col("rows") > 0 &&
        (col(s"min_$keyCol").isNull || col(s"max_$keyCol").isNull))
    if (unknown.limit(1).count() > 0)
      throw new IllegalStateException(
        s"files without $keyCol bounds in $dir@$snap: metadata-only " +
          "aggregates would be unsound; scan instead")
    // an all-empty table may have no bounds columns at all — its
    // metadata answer is (0, null, null), still sound
    val (mn, mx) =
      if (m.columns.contains(s"min_$keyCol"))
        (col(s"min_$keyCol").cast(dt), col(s"max_$keyCol").cast(dt))
      else (lit(null).cast(dt), lit(null).cast(dt))
    m.agg(coalesce(sum(col("rows")), lit(0L)).as("n_rows"),
      min(mn).as(s"min_$keyCol"), max(mx).as(s"max_$keyCol"))
  }

  /** Incremental read: only the data files ADDED after `sinceSnapshot`
    * (manifest entries keep the snapshot that wrote them), up to
    * `snapshot` (default latest). The incremental-maintenance primitive:
    * at 10^12 docs a new snapshot's delta is read without touching the
    * accumulated corpus files. A delta that added no files (all-
    * duplicate content) reads as an empty DataFrame, not an error.
    */
  def readDelta(spark: SparkSession, dir: String, sinceSnapshot: Long,
      snapshot: Option[Long] = None): DataFrame = {
    val snap = snapshot.getOrElse(currentSnapshot(dir))
    require(snap > sinceSnapshot, s"no delta: $snap <= $sinceSnapshot")
    assemble(spark, dir, snap, entryPaths(manifestFrame(spark, dir, snap),
      col("snapshot_id") > sinceSnapshot))
  }

  /** Row-level change-data-feed between two snapshots: every row
    * inserted or deleted going `fromSnapshot` → `snapshot` (default
    * latest), tagged by a `_change` column (`insert` / `delete`; an
    * UPDATE surfaces as its delete+insert pair, and a no-op upsert —
    * new row identical to the old — surfaces as NOTHING). Because
    * every commit here is file-level copy-on-write, the two manifests
    * share untouched files verbatim, so only the SYMMETRIC DIFFERENCE
    * of the file sets is ever read: at 10^12 rows a CDC consumer of a
    * small merge/delete scans the handful of rewritten files, never
    * the corpus. Survivor rows that a rewrite merely carried into a
    * new file appear on both sides and cancel (multiset `EXCEPT ALL`
    * on the changed-file rows only); an append-only delta reads the
    * new files with no shuffle at all. Both sides are aligned to the
    * DESTINATION snapshot's schema (added columns null-fill on the
    * old side), so the feed is directly applyable to a downstream
    * replica of the destination schema.
    */
  def changes(spark: SparkSession, dir: String, fromSnapshot: Long,
      snapshot: Option[Long] = None): DataFrame = {
    val to = snapshot.getOrElse(currentSnapshot(dir))
    require(fromSnapshot >= 1, s"no snapshot $fromSnapshot in $dir")
    require(to >= fromSnapshot, s"changes needs from <= to: $fromSnapshot > $to")
    val fromE = entryPaths(manifestFrame(spark, dir, fromSnapshot))
    val toE = entryPaths(manifestFrame(spark, dir, to))
    val fromPaths = fromE.map(_._1).toSet
    val toPaths = toE.map(_._1).toSet
    val added = toE.filterNot(e => fromPaths.contains(e._1))
    val removed = fromE.filterNot(e => toPaths.contains(e._1))
    val toSchema = StructType.fromDDL(schemaDdl(dir, to).get)
    // removed files read under the SOURCE snapshot (its schema and
    // partition layout), then aligned to the destination schema —
    // columns added in between null-fill, like the read path's own
    // schema-evolution rule
    val delRaw = assemble(spark, dir, fromSnapshot, removed)
    val del0 = delRaw.select(toSchema.fields.toSeq.map(f =>
      if (delRaw.columns.contains(f.name)) col(f.name)
      else lit(null).cast(f.dataType).as(f.name)): _*)
    val ins0 = assemble(spark, dir, to, added)
    val (ins, del) =
      if (removed.isEmpty) (ins0, emptyOf(spark, dir, to))
      else if (added.isEmpty) (emptyOf(spark, dir, to), del0)
      else (ins0.exceptAll(del0), del0.exceptAll(ins0))
    ins.withColumn("_change", lit("insert"))
      .unionByName(del.withColumn("_change", lit("delete")))
  }

  /** Incremental MATERIALIZED-VIEW maintenance from a [[changes]]
    * feed: update a count-by-key view (`keyCols…, n`) with a feed's
    * deltas — inserts +1, deletes −1 per row — without touching the
    * base table. The classic MV-maintenance identity: folding the
    * feeds of every commit over the initial view reproduces
    * `read(head).groupBy(key).count()` exactly (driver-gated), at cost
    * proportional to the CHANGED rows per commit, not the corpus.
    * Keys whose count reaches zero leave the view.
    */
  def applyCountDelta(view: DataFrame, feed: DataFrame,
      keyCols: Seq[String]): DataFrame = {
    require(keyCols.nonEmpty, "count view needs at least one key column")
    val delta = feed.groupBy(keyCols.map(col): _*)
      .agg(sum(when(col("_change") === "insert", 1L).otherwise(-1L)).as("n"))
    view.unionByName(delta)
      .groupBy(keyCols.map(col): _*)
      .agg(sum(col("n")).as("n"))
      .filter(col("n") > 0)
  }

  /** Apply a [[changes]] feed to a downstream replica: remove the
    * feed's `delete` rows (multiset semantics — one removal per feed
    * row, matching the one-insertion-per-feed-row on the other side),
    * add its `insert` rows. `applyChanges(read(from), changes(from, to))`
    * reproduces `read(to)` exactly — the replica-maintenance loop a
    * CDC consumer runs per snapshot, with cost proportional to the
    * CHANGED rows, not the replica. A replica behind on schema
    * evolution null-fills columns the feed added, the same alignment
    * rule the feed itself uses for its old side.
    */
  def applyChanges(replica: DataFrame, feed: DataFrame): DataFrame = {
    val cols = feed.columns.filterNot(_ == "_change").toSeq
    val aligned = replica.select(cols.map(c =>
      if (replica.columns.contains(c)) col(c)
      else lit(null).cast(feed.schema(c).dataType).as(c)): _*)
    val del = feed.filter(col("_change") === "delete").select(cols.map(col): _*)
    val ins = feed.filter(col("_change") === "insert").select(cols.map(col): _*)
    aligned.exceptAll(del).unionByName(ins)
  }

  /** Table maintenance: rewrite the current snapshot's (possibly many
    * small) data files into `numFiles` files as a new snapshot with
    * identical logical content — the small-file compaction a streaming
    * append workload needs (each micro-batch appends its own files;
    * unmaintained, scans degrade to millions of tiny reads). Old
    * snapshots stay time-travelable until expireSnapshots reclaims
    * them. Returns the new snapshot id.
    */
  def compact(spark: SparkSession, dir: String, numFiles: Int,
      partitionBy: Seq[String] = Nil): Long = {
    val current = read(spark, dir)
    // mode "replace": file-list semantics of an overwrite, but the
    // recorded operation says the LOGICAL content is unchanged — so
    // downstream rebuild detectors (incremental canonical maintenance
    // watches for overwrites in the raw history) don't mistake routine
    // compaction for a content rewrite
    write(
      if (partitionBy.nonEmpty)
        current.repartition(numFiles, partitionBy.map(col): _*)
      else current.repartition(numFiles),
      dir, mode = "replace", partitionBy = partitionBy,
      idempotencyKey = s"compact-of-${currentSnapshot(dir)}")
  }

  /** Table maintenance: expire all snapshots except the newest
    * `keepLast`, deleting data files no retained manifest references
    * (the Iceberg expire-snapshots analogue — at 100 TB the orphaned
    * files of superseded overwrites are the storage cost that grows
    * without this). Returns (expired snapshot ids, deleted data files).
    */
  // ---- named refs (Iceberg-style tags + movable branch pointers) -------
  //
  // A ref is a named pointer at a snapshot: `metadata/refs/<name>.json`.
  // createRef has CREATE-NEW semantics (an existing name throws — the
  // tag discipline); updateRef atomically repoints (the branch/
  // fast-forward discipline, with an optional compare-and-set floor).
  // expireSnapshots honors refs: a ref'd snapshot is never expired, so
  // a tag pins its snapshot's files exactly like Iceberg tag retention.
  // This is what the write–audit–publish (WAP) pattern composes from:
  // stage a commit, point an `audit` ref at it, validate through the
  // ref, then fast-forward `main` (or roll back and restage) — readers
  // of the governed ref never see unaudited data.

  private def refPath(dir: String, name: String) = {
    require(name.matches("[A-Za-z0-9._-]{1,64}"), s"bad ref name '$name'")
    Paths.get(dir, "metadata", "refs", s"$name.json")
  }

  /** Create ref `name` at `snap`; throws if the name exists. */
  def createRef(dir: String, name: String, snap: Long): Unit = {
    require(Files.exists(versionPath(dir, snap)),
      s"snapshot $snap is not a retained snapshot of $dir")
    val p = refPath(dir, name)
    Files.createDirectories(p.getParent)
    Files.write(p, s"""{"snapshot":$snap}""".getBytes("UTF-8"),
      StandardOpenOption.CREATE_NEW)
  }

  /** Per-ref intra-process monitors: two threads of one JVM racing the
    * same ref serialize here (an OS file lock alone would throw
    * OverlappingFileLockException intra-process, not block).
    */
  private val refLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()

  /** Runs `body` under the per-ref monitor plus the OS file lock on the
    * `<name>.lock` file beside the ref, so it excludes updaters in this
    * JVM and in other processes.
    */
  private def withRefLock[A](p: Path, name: String)(body: => A): A =
    refLocks.computeIfAbsent(p.toString, _ => new Object).synchronized {
      val ch = java.nio.channels.FileChannel.open(p.resolveSibling(s"$name.lock"),
        StandardOpenOption.CREATE, StandardOpenOption.WRITE)
      try {
        val lock = ch.lock()
        try body finally lock.release()
      } finally ch.close()
    }

  /** Atomically repoint ref `name` to `snap`. `expectedFrom` makes the
    * move a compare-and-set (fast-forward discipline): the update
    * refuses when the ref no longer points where the caller audited.
    * The expectedFrom check and the move are serialized under
    * [[withRefLock]], so two racing updaters can no longer both observe
    * the expected floor and silently last-write-win (ADVICE r05: the
    * read-check + separate move was a TOCTOU weaker than the CAS the
    * docstring advertises). The ref's existence is re-checked under the
    * lock: an updater that waited through a [[dropRef]] refuses instead
    * of recreating the ref.
    */
  def updateRef(dir: String, name: String, snap: Long,
      expectedFrom: Option[Long] = None): Unit = {
    require(Files.exists(versionPath(dir, snap)),
      s"snapshot $snap is not a retained snapshot of $dir")
    val p = refPath(dir, name)
    require(Files.exists(p), s"ref '$name' does not exist in $dir")
    withRefLock(p, name) {
      require(Files.exists(p), s"ref '$name' was dropped from $dir")
      expectedFrom.foreach { e =>
        val cur = refSnapshot(dir, name)
        require(cur == e, s"ref '$name' moved: expected $e, found $cur")
      }
      replaceAtomically(p, s"""{"snapshot":$snap}""")
    }
  }

  /** Snapshot a ref points at (throws on unknown ref). */
  def refSnapshot(dir: String, name: String): Long = {
    val p = refPath(dir, name)
    require(Files.exists(p), s"ref '$name' does not exist in $dir")
    """"snapshot"\s*:\s*(\d+)""".r.findFirstMatchIn(Files.readString(p))
      .map(_.group(1).toLong)
      .getOrElse(throw new IllegalStateException(s"corrupt ref file $p"))
  }

  /** Drop ref `name` together with the `<name>.lock` file updateRef
    * leaves beside it, both deleted while holding [[withRefLock]]. An
    * updater already waiting on that lock then finds the ref gone and
    * refuses. Updaters in other processes must not run while a ref is
    * dropped and recreated under the same name: one still holding the
    * unlinked lock file and one locking the new file would not exclude
    * each other.
    */
  def dropRef(dir: String, name: String): Unit = {
    val p = refPath(dir, name)
    if (Files.exists(p.getParent)) withRefLock(p, name) {
      Files.deleteIfExists(p)
      Files.deleteIfExists(p.resolveSibling(s"$name.lock"))
    }
  }

  def listRefs(dir: String): Seq[(String, Long)] = {
    val d = Paths.get(dir, "metadata", "refs")
    if (!Files.exists(d)) Nil
    else {
      import scala.jdk.CollectionConverters._
      Files.list(d).iterator().asScala
        .filter(_.getFileName.toString.endsWith(".json"))
        .map { p =>
          val name = p.getFileName.toString.stripSuffix(".json")
          name -> refSnapshot(dir, name)
        }.toSeq.sortBy(_._1)
    }
  }

  /** Read the table through a named ref — the governed read path. */
  def readRef(spark: SparkSession, dir: String, name: String): DataFrame =
    read(spark, dir, Some(refSnapshot(dir, name)))

  def expireSnapshots(spark: SparkSession, dir: String,
      keepLast: Int = 1, sweepOrphansOlderThanMs: Long = 259200000L): (Seq[Long], Long) = {
    val all = history(dir).map(_.id)
    // refs pin their snapshots (Iceberg tag/branch retention)
    val keep = all.takeRight(math.max(keepLast, 1)).toSet ++
      (listRefs(dir).map(_._2).toSet & all.toSet)
    val expire = all.filterNot(keep)
    def files(snaps: Iterable[Long]): Set[String] =
      snaps.toSeq.flatMap { s =>
        val m = manifestDir(dir, s)
        if (!Files.exists(Paths.get(m))) Nil
        else entryPaths(manifestFrame(spark, dir, s)).map(_._1).toSeq
      }.toSet
    val retained = files(keep)
    val orphans = files(expire) -- retained
    orphans.foreach { f =>
      val p = if (f.startsWith("file:")) Paths.get(new java.net.URI(f))
              else Paths.get(f)
      Files.deleteIfExists(p)
    }
    expire.foreach { s =>
      deleteRecursively(Paths.get(manifestDir(dir, s)))
      Files.deleteIfExists(versionPath(dir, s))
    }
    sweepOrphans(spark, dir, keep, retained, sweepOrphansOlderThanMs)
    // reclaim key-index markers pointing at expired snapshots
    val keysDir = Paths.get(dir, "metadata", "keys")
    if (Files.exists(keysDir)) {
      import scala.jdk.CollectionConverters._
      val expired = expire.toSet
      val stream = Files.list(keysDir)
      try stream.iterator().asScala.toSeq
        .filter(_.getFileName.toString.startsWith("k-"))
        .foreach { p =>
          val snap = scala.util.Try(Files.readString(p).trim.toLong).toOption
          if (snap.exists(expired.contains)) Files.deleteIfExists(p)
        } finally stream.close()
    }
    (expire, orphans.size.toLong)
  }

  /** Orphan sweep (the `remove_orphan_files` analogue): delete
    * writer data dirs (`data/w-...`) and manifest dirs that NO retained
    * snapshot references — the residue of lost CAS races, raced
    * idempotent writers, and crashes between data write and commit. The age guard
    * (`olderThanMs` since last modification) protects an in-flight
    * writer whose files exist but whose commit hasn't landed yet — the
    * same reason Iceberg's remove_orphan_files defaults to 3 days.
    */
  private def sweepOrphans(spark: SparkSession, dir: String,
      keep: Set[Long], retainedFiles: Set[String], olderThanMs: Long): Unit = {
    import scala.jdk.CollectionConverters._
    val cutoff = System.currentTimeMillis() - math.max(olderThanMs, 0L)
    def oldEnough(p: java.nio.file.Path): Boolean =
      scala.util.Try(Files.getLastModifiedTime(p).toMillis).toOption.exists(_ <= cutoff)
    def toAbs(f: String): String =
      (if (f.startsWith("file:")) Paths.get(new java.net.URI(f)) else Paths.get(f))
        .toAbsolutePath.normalize.toString
    val retainedAbs = retainedFiles.map(toAbs)
    val retainedManifests =
      keep.map(s => Paths.get(manifestDir(dir, s)).toAbsolutePath.normalize.toString)
    def subdirs(root: java.nio.file.Path): Seq[java.nio.file.Path] =
      if (!Files.exists(root)) Nil
      else {
        val stream = Files.list(root)
        try stream.iterator().asScala.filter(Files.isDirectory(_)).toSeq
        finally stream.close()
      }
    subdirs(Paths.get(dir, "manifests"))
      .filterNot(p => retainedManifests.contains(p.toAbsolutePath.normalize.toString))
      .filter(oldEnough)
      .foreach(deleteRecursively)
    subdirs(Paths.get(dir, "data"))
      .filter(_.getFileName.toString.startsWith("w-"))
      .filterNot { d =>
        val prefix = d.toAbsolutePath.normalize.toString + "/"
        retainedAbs.exists(_.startsWith(prefix))
      }
      .filter(oldEnough)
      .foreach(deleteRecursively)
  }

  /** Snapshot history from the versioned metadata. */
  def history(dir: String): Seq[Snapshot] = {
    val meta = Paths.get(dir, "metadata")
    if (!Files.exists(meta)) return Nil
    import scala.jdk.CollectionConverters._
    val stream = Files.list(meta)
    val files =
      try stream.iterator().asScala
        .filter(_.getFileName.toString.matches("v\\d+\\.json")).toSeq
      finally stream.close()
    files
      .map { p =>
        val j = Files.readString(p)
        def long(k: String) =
          s""""$k":(-?\\d+)""".r.findFirstMatchIn(j).map(_.group(1).toLong).getOrElse(0L)
        Snapshot(long("snapshot_id"), metaStr(j, "operation").getOrElse(""),
          long("parent_snapshot_id"), long("data_files"), long("rows"))
      }
      .sortBy(_.id)
  }
}
