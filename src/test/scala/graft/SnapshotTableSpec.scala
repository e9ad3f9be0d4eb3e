package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.sources.SnapshotTable
import graft.kg.{DataGen, Extract}

/** Iceberg-layout table substitute: snapshot isolation, append vs
  * overwrite, time travel, manifest stats, and the document-corpus
  * input contract (the pipeline reads the interleaved doc table from a
  * snapshot exactly as it would from Iceberg).
  */
class SnapshotTableSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("write/append/overwrite snapshots with time travel") {
    val dir = java.nio.file.Files.createTempDirectory("snaptab").toString + "/t"
    val docs1 = DataGen.corpus(spark, 40, 2).toDF()
    val s1 = SnapshotTable.write(docs1, dir)
    assert(s1 == 1L)
    assert(SnapshotTable.read(spark, dir).count() == 40)

    // append: new snapshot sees old ∪ new, snapshot 1 is untouched
    val docs2 = DataGen.corpus(spark, 60, 2).toDF().filter(col("doc_id") > "DOC-000000039")
    val s2 = SnapshotTable.write(docs2, dir, mode = "append")
    assert(s2 == 2L)
    assert(SnapshotTable.read(spark, dir).count() == 60)
    assert(SnapshotTable.read(spark, dir, Some(1L)).count() == 40)

    // overwrite: snapshot 3 replaces the file list, 1 and 2 still valid
    val s3 = SnapshotTable.write(docs1.limit(10), dir, mode = "overwrite")
    assert(s3 == 3L)
    assert(SnapshotTable.read(spark, dir).count() == 10)
    assert(SnapshotTable.read(spark, dir, Some(2L)).count() == 60)

    val hist = SnapshotTable.history(dir)
    assert(hist.map(_.id) == Seq(1L, 2L, 3L))
    assert(hist.map(_.operation) == Seq("overwrite", "append", "overwrite"))
    assert(hist(1).rows == 60 && hist(1).parent == 1L)
  }

  test("refs: create-new tags, CAS fast-forward, expire honors refs") {
    import org.apache.spark.sql.functions.col
    val dir = java.nio.file.Files.createTempDirectory("snapref").toString + "/t"
    val s1 = SnapshotTable.write(DataGen.corpus(spark, 30, 2).toDF(), dir)
    val s2 = SnapshotTable.write(DataGen.corpus(spark, 50, 2).toDF()
      .filter(col("doc_id") > "DOC-000000029"), dir, mode = "append")
    // tag discipline: create-new throws on an existing name
    SnapshotTable.createRef(dir, "v1.0", s1)
    intercept[java.nio.file.FileAlreadyExistsException] {
      SnapshotTable.createRef(dir, "v1.0", s2)
    }
    // ref read == time travel
    assert(SnapshotTable.readRef(spark, dir, "v1.0").count() ==
      SnapshotTable.read(spark, dir, Some(s1)).count())
    // branch fast-forward with CAS: wrong floor refuses, right one moves
    SnapshotTable.createRef(dir, "main", s1)
    intercept[IllegalArgumentException] {
      SnapshotTable.updateRef(dir, "main", s2, expectedFrom = Some(99L))
    }
    SnapshotTable.updateRef(dir, "main", s2, expectedFrom = Some(s1))
    assert(SnapshotTable.refSnapshot(dir, "main") == s2)
    // CAS is race-proof: N threads fast-forwarding from the same audited
    // floor — exactly ONE wins, every loser refuses (the check+move is
    // serialized, not a read-then-move TOCTOU)
    val s3 = SnapshotTable.write(DataGen.corpus(spark, 10, 1).toDF(), dir,
      mode = "append", idempotencyKey = "ref-race-s3")
    val wins = new java.util.concurrent.atomic.AtomicInteger(0)
    val losers = new java.util.concurrent.atomic.AtomicInteger(0)
    val ths = (1 to 4).map(_ => new Thread(() =>
      try { SnapshotTable.updateRef(dir, "main", s3, Some(s2)); wins.incrementAndGet(); () }
      catch { case _: IllegalArgumentException => losers.incrementAndGet(); () }))
    ths.foreach(_.start()); ths.foreach(_.join())
    assert(wins.get() == 1 && losers.get() == 3,
      s"CAS race: ${wins.get()} winners / ${losers.get()} losers")
    assert(SnapshotTable.refSnapshot(dir, "main") == s3)
    SnapshotTable.updateRef(dir, "main", s2, expectedFrom = Some(s3))
    assert(SnapshotTable.listRefs(dir).toMap ==
      Map("v1.0" -> s1, "main" -> s2))
    // refs pin snapshots: keepLast=1 would expire s1, but the tag holds
    val (expired, _) = SnapshotTable.expireSnapshots(spark, dir, keepLast = 1)
    assert(!expired.contains(s1), s"tagged snapshot expired: $expired")
    assert(SnapshotTable.readRef(spark, dir, "v1.0").count() == 30)
    // dropping the tag releases it on the next expire
    SnapshotTable.dropRef(dir, "v1.0")
    val (expired2, _) = SnapshotTable.expireSnapshots(spark, dir, keepLast = 1)
    assert(expired2.contains(s1))
    // dropping the CAS-updated branch leaves no ref file and no lock file
    SnapshotTable.dropRef(dir, "main")
    val refsDir = new java.io.File(s"$dir/metadata/refs")
    assert(refsDir.list().isEmpty, refsDir.list().mkString(", "))
    // refs to unretained snapshots refuse at create time
    intercept[IllegalArgumentException] {
      SnapshotTable.createRef(dir, "stale", s1)
    }
  }

  test("pipeline reads the interleaved doc corpus from a snapshot") {
    val dir = java.nio.file.Files.createTempDirectory("snapdocs").toString + "/docs"
    SnapshotTable.write(DataGen.corpus(spark, 50, 4).toDF(), dir)
    val records = Extract.records(SnapshotTable.read(spark, dir))
    assert(records.count() == 50)
    // schema contract survives the round trip (input_hint shape)
    val schema = SnapshotTable.read(spark, dir).schema.toDDL
    assert(schema.contains("spans") && schema.contains("media_ref"))
  }

  test("idempotency key makes replayed publishes exactly-once") {
    val dir = java.nio.file.Files.createTempDirectory("snapidem").toString + "/t"
    val df = (0 until 20).map(i => (s"id$i", i)).toDF("id", "v")
    val s1 = SnapshotTable.write(df, dir, mode = "append", idempotencyKey = "batch-0")
    // a foreachBatch replay of the same batch id must not append again
    val s2 = SnapshotTable.write(df, dir, mode = "append", idempotencyKey = "batch-0")
    assert(s1 == 1L && s2 == 1L)
    assert(SnapshotTable.read(spark, dir).count() == 20)
    val s3 = SnapshotTable.write(df, dir, mode = "append", idempotencyKey = "batch-1")
    assert(s3 == 2L)
    assert(SnapshotTable.read(spark, dir).count() == 40)
  }

  test("compaction rewrites small files without changing content") {
    val dir = java.nio.file.Files.createTempDirectory("snapcomp").toString + "/t"
    // simulate a streaming append workload: 5 tiny snapshots
    (0 until 5).foreach { b =>
      SnapshotTable.write(
        (0 until 20).map(i => (s"b$b-r$i", i)).toDF("id", "v")
          .repartition(4),
        dir, mode = "append", idempotencyKey = s"b$b")
    }
    val before = SnapshotTable.read(spark, dir)
    val beforeRows = before.collect().map(_.toSeq).toSet
    val beforeFiles = before.select(input_file_name()).distinct().count()
    assert(beforeFiles >= 10)
    val snap = SnapshotTable.compact(spark, dir, numFiles = 2)
    val after = SnapshotTable.read(spark, dir)
    assert(after.collect().map(_.toSeq).toSet == beforeRows)
    assert(after.select(input_file_name()).distinct().count() <= 2)
    // compaction is idempotent via its key
    assert(SnapshotTable.compact(spark, dir, 2) == snap + 1) // new current ⇒ new key
    // expire everything but the latest: the table is now 2 files total on disk
    SnapshotTable.expireSnapshots(spark, dir, keepLast = 1)
    assert(SnapshotTable.read(spark, dir).collect().map(_.toSeq).toSet == beforeRows)
  }

  test("expireSnapshots deletes orphaned files, keeps retained reads valid") {
    val dir = java.nio.file.Files.createTempDirectory("snapexp").toString + "/t"
    val a = (0 until 30).map(i => (s"a$i", i)).toDF("id", "v")
    val b = (0 until 50).map(i => (s"b$i", i)).toDF("id", "v")
    SnapshotTable.write(a, dir) // snap 1
    SnapshotTable.write(b, dir, mode = "append") // snap 2: a ∪ b
    SnapshotTable.write(b, dir) // snap 3: only b's NEW files
    val (expired, deleted) = SnapshotTable.expireSnapshots(spark, dir, keepLast = 1)
    assert(expired == Seq(1L, 2L))
    assert(deleted > 0) // snap-1 and snap-2's unreferenced files are gone
    assert(SnapshotTable.read(spark, dir).count() == 50)
    assert(SnapshotTable.history(dir).map(_.id) == Seq(3L))
  }

  test("table-native pipeline: snapshot in, predicate-partitioned graph snapshot out") {
    import graft.kg.Pipeline
    val base = java.nio.file.Files.createTempDirectory("snappipe").toString
    val docsDir = s"$base/docs"; val graphDir = s"$base/graph"
    SnapshotTable.write(DataGen.corpus(spark, 60, 4).toDF(), docsDir)
    val (report, snap) = Pipeline.runFromTable(spark, docsDir,
      s"$base/stages", graphDir, partitions = 4)
    assert(report.canonicalTriples > 0 && snap == 1L)
    val graph = SnapshotTable.read(spark, graphDir)
    assert(graph.count() == report.canonicalTriples)
    assert(graph.columns.contains("predicate"))
    // a second corpus snapshot does not disturb the published graph read
    SnapshotTable.write(DataGen.corpus(spark, 80, 4).toDF(), docsDir,
      mode = "overwrite")
    assert(SnapshotTable.read(spark, graphDir).count() == report.canonicalTriples)
  }

  test("incremental maintenance equals the full rebuild (raw triple set)") {
    import graft.kg.{Pipeline, Extract, Link, Materialize, DataGen, Model}
    val base = java.nio.file.Files.createTempDirectory("snapincr").toString
    val docsDir = s"$base/docs"; val graphDir = s"$base/graph"
    val all = DataGen.corpus(spark, 100, 4).toDF()
    // snapshot 1: first 60 docs; incremental run 1
    SnapshotTable.write(all.filter(col("doc_id") < "DOC-000000060"), docsDir)
    val r1 = Pipeline.incrementalFromTable(spark, docsDir, graphDir)
    assert(r1.processedDocsSnapshot == 1L && r1.graphSnapshot == 1L &&
      r1.rowsWritten > 0 && r1.mode == "append")
    // snapshot 2: append the remaining 40; the stale-emission detector
    // decides append-vs-rebuild; either way the RESULT must equal a full
    // rebuild (the dup-name dictionary keys in this corpus are exactly
    // the case where naive delta-dicts diverge)
    SnapshotTable.write(all.filter(col("doc_id") >= "DOC-000000060"), docsDir,
      mode = "append")
    val r2 = Pipeline.incrementalFromTable(spark, docsDir, graphDir)
    assert(r2.processedDocsSnapshot == 2L && r2.graphSnapshot == 2L &&
      r2.rowsWritten > 0)
    // re-invocation without new data is a no-op
    val r3 = Pipeline.incrementalFromTable(spark, docsDir, graphDir)
    assert(r3.mode == "noop" && r3.graphSnapshot == 2L && r3.rowsWritten == 0L)

    val got = SnapshotTable.read(spark, graphDir)
      .as[Model.Triple].collect().toSet
    // full rebuild over the complete corpus
    val records = Extract.records(all)
    val matched = Link.matchTaxa(records, DataGen.wdSparql(spark),
      DataGen.wdLineage(spark))
    val (dictId, dictName) = Materialize.wdMapDicts(matched)
    val mm = Extract.mediaMentions(records, DataGen.mediaMeta(spark))
    val want = Materialize.globiTriplesFused(records, dictId, dictName, Some(mm))
      .as[Model.Triple].collect().toSet
    val missing = want -- got; val extra = got -- want
    assert(missing.isEmpty && extra.isEmpty,
      s"missing=${missing.size}${missing.take(3)} extra=${extra.size}${extra.take(3)}")
    // and the appended rows carry no duplicates (exact set semantics)
    assert(SnapshotTable.read(spark, graphDir).count() == got.size)
  }

  test("incremental CANONICAL maintenance equals the full canonical rebuild") {
    import graft.kg.{Pipeline, Extract, Link, Materialize, Canonical, DataGen, Model}
    val base = java.nio.file.Files.createTempDirectory("snapcanon").toString
    val docsDir = s"$base/docs"; val rawDir = s"$base/raw"; val canonDir = s"$base/canon"
    val all = DataGen.corpus(spark, 100, 4).toDF()
    SnapshotTable.write(all.filter(col("doc_id") < "DOC-000000060"), docsDir)
    val c1 = Pipeline.incrementalCanonicalFromTable(spark, docsDir, rawDir, canonDir)
    assert(c1.rowsWritten > 0)
    SnapshotTable.write(all.filter(col("doc_id") >= "DOC-000000060"), docsDir,
      mode = "append")
    val c2 = Pipeline.incrementalCanonicalFromTable(spark, docsDir, rawDir, canonDir)
    assert(c2.rowsWritten > 0)
    val c3 = Pipeline.incrementalCanonicalFromTable(spark, docsDir, rawDir, canonDir)
    assert(c3.mode == "noop")

    val got = SnapshotTable.read(spark, canonDir).as[Model.Triple].collect().toSet
    // full canonical rebuild over the complete corpus
    val records = Extract.records(all)
    val matched = Link.matchTaxa(records, DataGen.wdSparql(spark),
      DataGen.wdLineage(spark))
    val (dictId, dictName) = Materialize.wdMapDicts(matched)
    val mm = Extract.mediaMentions(records, DataGen.mediaMeta(spark))
    val triples = Materialize.globiTriplesFused(records, dictId, dictName, Some(mm))
    val mapping = Canonical.connectedComponents(Canonical.equivalenceEdges(matched))
    val want = Canonical.canonicalizeTriples(triples, mapping)
      .as[Model.Triple].collect().toSet
    val missing = want -- got; val extra = got -- want
    assert(missing.isEmpty && extra.isEmpty,
      s"missing=${missing.size}${missing.take(3)} extra=${extra.size}${extra.take(3)}")
    assert(SnapshotTable.read(spark, canonDir).count() == got.size)
  }

  test("incremental fast path: dictionary-stable appends never rebuild") {
    import graft.kg.{Pipeline, DataGen, Model}
    val base = java.nio.file.Files.createTempDirectory("snapfast").toString
    val docsDir = s"$base/docs"; val graphDir = s"$base/graph"
    // handcrafted records whose mentions repeat across snapshots: the
    // final dictionaries never change, so increment 2 must take the
    // append path (no rebuild)
    def doc(i: Long): Model.Document = {
      def side(k: Int) = (s"EOL:${k * 100 + 1}", DataGen.taxonName(k))
      val (sid, sn) = side(1); val (tid, tn) = side(2)
      val l1 = DataGen.lineage(1); val l2 = DataGen.lineage(2)
      val r = Model.VerbatimRecord(
        doc_id = f"DOC-$i%09d", recNum = i,
        sourceTaxonId = sid, sourceTaxonName = sn,
        sourceTaxonPathNames = s"${l1.kingdom}|${l1.family}",
        sourceTaxonPathRankNames = "kingdom|family",
        targetTaxonId = tid, targetTaxonName = tn,
        targetTaxonPathNames = s"${l2.kingdom}|${l2.family}",
        targetTaxonPathRankNames = "kingdom|family",
        interactionTypeName = "eats",
        interactionTypeId = "http://purl.obolibrary.org/obo/RO_0002470",
        localityName = "", referenceDoi = "", sourceDOI = "",
        decimalLatitude = "", decimalLongitude = "",
        sourceBodyPartName = "leaf", sourceBodyPartId = "PO:0025034",
        sourceLifeStageName = "adult", sourceLifeStageId = "",
        targetBodyPartName = "", targetBodyPartId = "",
        targetLifeStageName = "", targetLifeStageId = "",
        sourceSexName = "male", targetSexName = "",
        mediaRefs = Nil)
      Model.Document(r.doc_id, DataGen.renderSpans(r))
    }
    SnapshotTable.write((0L until 10L).map(doc).toDF(), docsDir)
    val r1 = Pipeline.incrementalFromTable(spark, docsDir, graphDir)
    assert(r1.mode == "append" && r1.rowsWritten > 0)
    SnapshotTable.write((10L until 20L).map(doc).toDF(), docsDir, mode = "append")
    val r2 = Pipeline.incrementalFromTable(spark, docsDir, graphDir)
    assert(r2.mode == "append", s"expected fast path, got ${r2.mode}")
    // record-scoped triples for the 10 new docs + zero re-emitted shared
    val graph = SnapshotTable.read(spark, graphDir)
    assert(graph.count() == graph.distinct().count()) // exact set semantics
    assert(graph.filter(col("subj") === "https://w3id.org/emi/abox#inRec15").count() > 0)
  }

  test("model check: random append/overwrite/compact sequence matches an in-memory model") {
    val rnd = new scala.util.Random(20260816L)
    val dir = java.nio.file.Files.createTempDirectory("snapmodel").toString + "/t"
    var model = Map.empty[Long, Set[(String, Int)]] // snapshot → expected content
    var current = Set.empty[(String, Int)]
    var nextRow = 0
    (0 until 12).foreach { _ =>
      val batch = (0 until 5 + rnd.nextInt(20)).map { _ =>
        nextRow += 1; (s"r$nextRow", rnd.nextInt(1000))
      }.toSet
      rnd.nextInt(3) match {
        case 0 =>
          val s = SnapshotTable.write(batch.toSeq.toDF("id", "v"), dir,
            mode = "append")
          current = current ++ batch; model += s -> current
        case 1 =>
          val s = SnapshotTable.write(batch.toSeq.toDF("id", "v"), dir,
            mode = "overwrite")
          current = batch; model += s -> current
        case 2 if model.nonEmpty =>
          val s = SnapshotTable.compact(spark, dir, numFiles = 2)
          model += s -> current
        case _ => ()
      }
    }
    // every retained snapshot time-travels to exactly its model content
    model.foreach { case (snap, want) =>
      val got = SnapshotTable.read(spark, dir, Some(snap))
        .collect().map(r => (r.getString(0), r.getInt(1))).toSet
      assert(got == want, s"snapshot $snap: got ${got.size} want ${want.size}")
    }
    assert(SnapshotTable.history(dir).map(_.id) == model.keys.toSeq.sorted)
  }

  test("empty snapshots and empty deltas read as schema-typed empty frames") {
    val dir = java.nio.file.Files.createTempDirectory("snapempty").toString + "/t"
    val df = (0 until 10).map(i => (s"id$i", i)).toDF("id", "v")
    val empty = df.filter(col("v") < 0)
    // an empty OVERWRITE is a legal first snapshot
    SnapshotTable.write(empty, dir)
    val back = SnapshotTable.read(spark, dir)
    assert(back.count() == 0 && back.schema.fieldNames.toSeq == Seq("id", "v"))
    // an empty APPEND onto data keeps the data and yields an empty delta
    SnapshotTable.write(df, dir, mode = "overwrite")
    SnapshotTable.write(empty, dir, mode = "append")
    assert(SnapshotTable.read(spark, dir).count() == 10)
    val delta = SnapshotTable.readDelta(spark, dir, 2L)
    assert(delta.count() == 0 && delta.schema.fieldNames.toSeq == Seq("id", "v"))
  }

  test("concurrent writers: CAS commit loses no snapshot, history stays linear") {
    import java.util.concurrent.{CountDownLatch, Executors}
    val dir = java.nio.file.Files.createTempDirectory("snapcas").toString + "/t"
    val nWriters = 4
    val latch = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(nWriters)
    val futures = (0 until nWriters).map { w =>
      pool.submit(new java.util.concurrent.Callable[Long] {
        def call(): Long = {
          val batch = (0 until 25).map(i => (s"w$w-r$i", i)).toDF("id", "v")
          latch.await()
          SnapshotTable.write(batch, dir, mode = "append")
        }
      })
    }
    latch.countDown()
    val snaps = futures.map(_.get()).sorted
    pool.shutdown()
    // every writer got its own snapshot id, no clobbering
    assert(snaps == (1L to nWriters.toLong), snaps.toString)
    assert(SnapshotTable.read(spark, dir).count() == nWriters * 25L)
    val hist = SnapshotTable.history(dir)
    assert(hist.map(_.id) == (1L to nWriters.toLong))
    // linear parent chain
    assert(hist.map(_.parent) == (0L until nWriters.toLong))
    // the head snapshot's manifest sees every writer's rows
    val ids = SnapshotTable.read(spark, dir).select(col("id"))
      .collect().map(_.getString(0)).toSet
    (0 until nWriters).foreach(w => assert(ids.contains(s"w$w-r0")))
  }

  test("many-append read plan stays one scan relation (no per-snapshot union)") {
    val dir = java.nio.file.Files.createTempDirectory("snapflat").toString + "/t"
    (0 until 50).foreach { b =>
      SnapshotTable.write((0 until 4).map(i => (s"b$b-r$i", i)).toDF("id", "v"),
        dir, mode = "append", idempotencyKey = s"b$b")
    }
    val df = SnapshotTable.read(spark, dir)
    assert(df.count() == 200)
    // unpartitioned tables must assemble ONE parquet relation over all
    // manifest files — a unionByName per snapshot would give Catalyst a
    // 50-arm plan to re-analyze on every query
    val plan = df.queryExecution.optimizedPlan.toString
    assert(!plan.contains("Union"), plan.take(2000))
    // delta reads see exactly the files added after the cutoff
    assert(SnapshotTable.readDelta(spark, dir, 45L).count() == 20)
  }

  test("lost state tables trigger a correctness-first rebuild, staying exact") {
    import graft.kg.{Pipeline, Extract, Link, Materialize, DataGen, Model}
    val base = java.nio.file.Files.createTempDirectory("snaploss").toString
    val docsDir = s"$base/docs"; val graphDir = s"$base/graph"
    val all = DataGen.corpus(spark, 80, 4).toDF()
    SnapshotTable.write(all.filter(col("doc_id") < "DOC-000000050"), docsDir)
    val r1 = Pipeline.incrementalFromTable(spark, docsDir, graphDir)
    assert(r1.mode == "append")
    // simulate state loss (expired/foreign state dirs): the anchored
    // old view is unrecoverable, so the next increment must REBUILD
    import scala.jdk.CollectionConverters._
    val stateRoot = java.nio.file.Paths.get(s"$graphDir-state")
    java.nio.file.Files.walk(stateRoot).iterator().asScala.toSeq.reverse
      .foreach(java.nio.file.Files.deleteIfExists(_))
    SnapshotTable.write(all.filter(col("doc_id") >= "DOC-000000050"), docsDir,
      mode = "append")
    val r2 = Pipeline.incrementalFromTable(spark, docsDir, graphDir)
    assert(r2.mode == "rebuild", s"expected rebuild on lost state, got ${r2.mode}")
    val got = SnapshotTable.read(spark, graphDir).as[Model.Triple].collect().toSet
    val records = Extract.records(all)
    val matched = Link.matchTaxa(records, DataGen.wdSparql(spark),
      DataGen.wdLineage(spark))
    val (dictId, dictName) = Materialize.wdMapDicts(matched)
    val mm = Extract.mediaMentions(records, DataGen.mediaMeta(spark))
    val want = Materialize.globiTriplesFused(records, dictId, dictName, Some(mm))
      .as[Model.Triple].collect().toSet
    assert(got == want, s"missing=${(want -- got).size} extra=${(got -- want).size}")
  }

  test("corpus-scale probe cardinality: per-record-unique ids stay exact and distributed") {
    import graft.kg.{Pipeline, Extract, Link, Materialize, DataGen, Model}
    val base = java.nio.file.Files.createTempDirectory("snapprobe").toString
    val docsDir = s"$base/docs"; val graphDir = s"$base/graph"
    // every record carries UNIQUE (never-resolvable) taxon ids — on real
    // GloBI data verbatim ids approach per-record cardinality, so the
    // probe state is corpus-scale; resolution happens via the repeating
    // names. The stale-probe check must stay green (names resolve the
    // same under both dictionary versions) WITHOUT collecting the probe
    // table.
    def doc(i: Long): Model.Document = {
      val sk = (i % 4).toInt; val tk = (i % 4).toInt + 4
      val l1 = DataGen.lineage(sk); val l2 = DataGen.lineage(tk)
      val r = Model.VerbatimRecord(
        doc_id = f"DOC-$i%09d", recNum = i,
        sourceTaxonId = s"UNIQ:${100000 + i * 2}",
        sourceTaxonName = DataGen.taxonName(sk),
        sourceTaxonPathNames = s"${l1.kingdom}|${l1.family}",
        sourceTaxonPathRankNames = "kingdom|family",
        targetTaxonId = s"UNIQ:${100001 + i * 2}",
        targetTaxonName = DataGen.taxonName(tk),
        targetTaxonPathNames = s"${l2.kingdom}|${l2.family}",
        targetTaxonPathRankNames = "kingdom|family",
        interactionTypeName = "eats",
        interactionTypeId = "http://purl.obolibrary.org/obo/RO_0002470",
        localityName = "", referenceDoi = "", sourceDOI = "",
        decimalLatitude = "", decimalLongitude = "",
        sourceBodyPartName = "", sourceBodyPartId = "",
        sourceLifeStageName = "", sourceLifeStageId = "",
        targetBodyPartName = "", targetBodyPartId = "",
        targetLifeStageName = "", targetLifeStageId = "",
        sourceSexName = "", targetSexName = "",
        mediaRefs = Nil)
      Model.Document(r.doc_id, DataGen.renderSpans(r))
    }
    SnapshotTable.write((0L until 30L).map(doc).toDF(), docsDir)
    val r1 = Pipeline.incrementalFromTable(spark, docsDir, graphDir)
    assert(r1.mode == "append" && r1.rowsWritten > 0)
    SnapshotTable.write((30L until 60L).map(doc).toDF(), docsDir, mode = "append")
    val r2 = Pipeline.incrementalFromTable(spark, docsDir, graphDir)
    // name resolutions are stable ⇒ the (distributed) probe check takes
    // the fast append path even though probe cardinality == 2×corpus
    assert(r2.mode == "append", s"expected fast path, got ${r2.mode}")
    // probe state really is per-record-scale and append-only
    val probes = SnapshotTable.read(spark, s"$graphDir-state/probes")
    assert(probes.count() == 120) // 2 unique ids × 60 docs
    // exactness vs a full rebuild
    val all = (0L until 60L).map(doc).toDF()
    val records = Extract.records(all)
    val matched = Link.matchTaxa(records, DataGen.wdSparql(spark),
      DataGen.wdLineage(spark))
    val (dictId, dictName) = Materialize.wdMapDicts(matched)
    val mm = Extract.mediaMentions(records, DataGen.mediaMeta(spark))
    val want = Materialize.globiTriplesFused(records, dictId, dictName, Some(mm))
      .as[Model.Triple].collect().toSet
    val got = SnapshotTable.read(spark, graphDir).as[Model.Triple].collect().toSet
    assert(got == want, s"missing=${(want -- got).size} extra=${(got -- want).size}")
  }

  test("incremental maintenance stays exact on the fully DISTRIBUTED dictionary path") {
    import graft.kg.{Pipeline, Extract, Link, Materialize, Canonical, DataGen, Model}
    val base = java.nio.file.Files.createTempDirectory("snapdist").toString
    val docsDir = s"$base/docs"; val rawDir = s"$base/raw"; val canonDir = s"$base/canon"
    val all = DataGen.corpus(spark, 100, 4).toDF()
    // maxDriverRows = 0: dictionaries derive from the distributed
    // matcher over the accumulated taxa state, emission runs through
    // resolve + split (zero driver-side dictionary work), and the
    // probe check joins the distributed dict DataFrames — the
    // beyond-driver-memory production configuration, end to end,
    // INCLUDING the canonical layer
    SnapshotTable.write(all.filter(col("doc_id") < "DOC-000000060"), docsDir)
    val c1 = Pipeline.incrementalCanonicalFromTable(spark, docsDir, rawDir,
      canonDir, maxDriverRows = 0L)
    assert(c1.rowsWritten > 0)
    SnapshotTable.write(all.filter(col("doc_id") >= "DOC-000000060"), docsDir,
      mode = "append")
    val c2 = Pipeline.incrementalCanonicalFromTable(spark, docsDir, rawDir,
      canonDir, maxDriverRows = 0L)
    assert(c2.rowsWritten > 0)

    // raw table equals the full rebuild
    val records = Extract.records(all)
    val matched = Link.matchTaxa(records, DataGen.wdSparql(spark),
      DataGen.wdLineage(spark))
    val (dictId, dictName) = Materialize.wdMapDicts(matched)
    val mm = Extract.mediaMentions(records, DataGen.mediaMeta(spark))
    val triples = Materialize.globiTriplesFused(records, dictId, dictName, Some(mm))
    val gotRaw = SnapshotTable.read(spark, rawDir).as[Model.Triple].collect().toSet
    val wantRaw = triples.as[Model.Triple].collect().toSet
    assert(gotRaw == wantRaw,
      s"raw: missing=${(wantRaw -- gotRaw).size} extra=${(gotRaw -- wantRaw).size}")
    // canonical table equals the full canonical rebuild
    val mapping = Canonical.connectedComponents(Canonical.equivalenceEdges(matched))
    val wantCanon = Canonical.canonicalizeTriples(triples, mapping)
      .as[Model.Triple].collect().toSet
    val gotCanon = SnapshotTable.read(spark, canonDir).as[Model.Triple].collect().toSet
    assert(gotCanon == wantCanon,
      s"canon: missing=${(wantCanon -- gotCanon).size} extra=${(gotCanon -- wantCanon).size}")
  }

  test("canonical repair after a crashed raw REBUILD removes stale rows") {
    import graft.kg.{Pipeline, Extract, Link, Materialize, Canonical, DataGen, Model}
    val base = java.nio.file.Files.createTempDirectory("snapcrash").toString
    val docsDir = s"$base/docs"; val rawDir = s"$base/raw"; val canonDir = s"$base/canon"
    // crafted so increment 2 flips the "Taxon 1" name-dict winner
    // Q1004 → Q1001 (raw REBUILD: the empty-id doc's sample URIs embed
    // the wd and change) while the CC mapping stays IDENTICAL (Q1001
    // and Q1004 are already equivalent via the shared name in
    // increment 1) — so only the raw-history overwrite detection can
    // tell the canonical layer its published rows are stale.
    def mkDoc(i: Long, sid: String, sn: String, spath: String = "",
        srank: String = ""): Model.Document = {
      val lt = DataGen.lineage(2)
      val r = Model.VerbatimRecord(
        doc_id = f"DOC-$i%09d", recNum = i,
        sourceTaxonId = sid, sourceTaxonName = sn,
        sourceTaxonPathNames = spath, sourceTaxonPathRankNames = srank,
        targetTaxonId = "EOL:201", targetTaxonName = DataGen.taxonName(2),
        targetTaxonPathNames = s"${lt.kingdom}|${lt.family}",
        targetTaxonPathRankNames = "kingdom|family",
        interactionTypeName = "eats",
        interactionTypeId = "http://purl.obolibrary.org/obo/RO_0002470",
        localityName = "", referenceDoi = "", sourceDOI = "",
        decimalLatitude = "", decimalLongitude = "",
        sourceBodyPartName = "", sourceBodyPartId = "",
        sourceLifeStageName = "", sourceLifeStageId = "",
        targetBodyPartName = "", targetBodyPartId = "",
        targetLifeStageName = "", targetLifeStageId = "",
        sourceSexName = "", targetSexName = "", mediaRefs = Nil)
      Model.Document(r.doc_id, DataGen.renderSpans(r))
    }
    val n1 = DataGen.taxonName(1)
    val inc1 = Seq(
      mkDoc(0, "", n1),        // empty id ⇒ resolves via the NAME dict winner
      mkDoc(1, "EOL:101", n1), // name → Q1001
      mkDoc(2, "EOL:401", n1)) // name → Q1004, last ordinal ⇒ winner
    // a NEW distinct mention tuple (different path) at a later global
    // ordinal — re-mentioning an existing tuple would dedupe to its
    // first-occurrence ordinal and change nothing (keep-first semantics)
    val inc2 = Seq(mkDoc(10, "EOL:101", n1, "Animalia", "kingdom"))

    SnapshotTable.write(inc1.toDF(), docsDir)
    val c1 = Pipeline.incrementalCanonicalFromTable(spark, docsDir, rawDir, canonDir)
    assert(c1.rowsWritten > 0)
    // the crash window: the raw increment COMMITS (a rebuild — the
    // empty-id doc's resolution changed), the canonical update never runs
    SnapshotTable.write(inc2.toDF(), docsDir, mode = "append")
    val r2 = Pipeline.incrementalFromTable(spark, docsDir, rawDir)
    assert(r2.mode == "rebuild", s"precondition: winner flip must rebuild, got ${r2.mode}")

    // the retry: raw reads noop, the mapping is unchanged — only the
    // overwrite in the raw history says the canonical rows are stale
    val c2 = Pipeline.incrementalCanonicalFromTable(spark, docsDir, rawDir, canonDir)
    assert(c2.mode == "rebuild", s"expected re-canonicalization, got ${c2.mode}")
    val got = SnapshotTable.read(spark, canonDir).as[Model.Triple].collect().toSet
    val all = (inc1 ++ inc2).toDF()
    val records = Extract.records(all)
    val matched = Link.matchTaxa(records, DataGen.wdSparql(spark),
      DataGen.wdLineage(spark))
    val (dictId, dictName) = Materialize.wdMapDicts(matched)
    val mm = Extract.mediaMentions(records, DataGen.mediaMeta(spark))
    val triples = Materialize.globiTriplesFused(records, dictId, dictName, Some(mm))
    val mapping = Canonical.connectedComponents(Canonical.equivalenceEdges(matched))
    val want = Canonical.canonicalizeTriples(triples, mapping)
      .as[Model.Triple].collect().toSet
    assert(got == want,
      s"stale rows survived: missing=${(want -- got).size} extra=${(got -- want).size} " +
        s"${(got -- want).take(3)}")
  }

  test("crashed probe append followed by further docs keeps the probe state distinct") {
    import graft.kg.{Pipeline, DataGen}
    val base = java.nio.file.Files.createTempDirectory("snapprobedup").toString
    val docsDir = s"$base/docs"; val graphDir = s"$base/graph"
    val all = DataGen.corpus(spark, 90, 3).toDF()
    SnapshotTable.write(all.filter(col("doc_id") < "DOC-000000030"), docsDir)
    Pipeline.incrementalFromTable(spark, docsDir, graphDir)
    val probesDir = s"$graphDir-state/probes"

    // simulate a run over docs snapshot 2 that committed its probe
    // append but crashed before the graph commit: the crashed run's
    // probes write is exactly probesOf(delta 30..59) minus the head
    val delta2 = all.filter(col("doc_id") >= "DOC-000000030" &&
      col("doc_id") < "DOC-000000060")
    SnapshotTable.write(delta2, docsDir, mode = "append") // docs snap 2
    val recs2 = graft.kg.Extract.records(delta2)
    val crashProbes = recs2.select(explode(array(
        struct(col("sourceTaxonId").as("id"), col("sourceTaxonName").as("name")),
        struct(col("targetTaxonId").as("id"), col("targetTaxonName").as("name"))))
        .as("p")).select(col("p.id"), col("p.name")).distinct()
      .join(SnapshotTable.read(spark, probesDir), Seq("id", "name"), "left_anti")
    SnapshotTable.write(crashProbes, probesDir, mode = "append",
      idempotencyKey = "docs-snap-2")

    // docs advance FURTHER before the retry; the retry processes the
    // combined delta (30..89) — its probe append must dedupe against
    // the HEAD (which already holds 30..59), not just the anchor
    SnapshotTable.write(all.filter(col("doc_id") >= "DOC-000000060"), docsDir,
      mode = "append") // docs snap 3
    Pipeline.incrementalFromTable(spark, docsDir, graphDir)
    val probes = SnapshotTable.read(spark, probesDir)
    assert(probes.count() == probes.distinct().count(),
      s"duplicate probes: ${probes.count()} vs ${probes.distinct().count()}")
  }

  test("crash sweep: a crash after ANY commit point repairs to the exact full rebuild") {
    import graft.kg.{Pipeline, Extract, Link, Materialize, Canonical, DataGen, Model}
    case class Crash(at: String) extends RuntimeException(at)
    val all = DataGen.corpus(spark, 60, 4).toDF()
    // the truth the repaired pipeline must reach, whatever the crash
    val records = Extract.records(all)
    val matched = Link.matchTaxa(records, DataGen.wdSparql(spark),
      DataGen.wdLineage(spark))
    val (dictId, dictName) = Materialize.wdMapDicts(matched)
    val mm = Extract.mediaMentions(records, DataGen.mediaMeta(spark))
    val triples = Materialize.globiTriplesFused(records, dictId, dictName, Some(mm))
    val mapping = Canonical.connectedComponents(Canonical.equivalenceEdges(matched))
    val want = Canonical.canonicalizeTriples(triples, mapping)
      .as[Model.Triple].collect().toSet

    for (crashAt <- Seq("taxa-state", "probes-state", "raw-graph", "mapping-state")) {
      val base = java.nio.file.Files.createTempDirectory(s"crash-$crashAt").toString
      val docsDir = s"$base/docs"; val rawDir = s"$base/raw"; val canonDir = s"$base/canon"
      SnapshotTable.write(all.filter(col("doc_id") < "DOC-000000040"), docsDir)
      val c1 = Pipeline.incrementalCanonicalFromTable(spark, docsDir, rawDir, canonDir)
      assert(c1.rowsWritten > 0)
      SnapshotTable.write(all.filter(col("doc_id") >= "DOC-000000040"), docsDir,
        mode = "append")
      // increment 2 dies right after the chosen commit …
      intercept[Crash] {
        Pipeline.incrementalCanonicalFromTable(spark, docsDir, rawDir, canonDir,
          failpoint = p => if (p == crashAt) throw Crash(p))
      }
      // … and the plain retry must land on exactly the full rebuild
      val r = Pipeline.incrementalCanonicalFromTable(spark, docsDir, rawDir, canonDir)
      assert(r.graphSnapshot > 0, s"$crashAt: retry did not publish")
      val got = SnapshotTable.read(spark, canonDir).as[Model.Triple].collect().toSet
      assert(got == want, s"crash at $crashAt diverged: " +
        s"missing=${(want -- got).size} extra=${(got -- want).size}")
      // probe state stayed an exact distinct set through the crash
      val probes = SnapshotTable.read(spark, s"$rawDir-state/probes")
      assert(probes.count() == probes.distinct().count(), s"$crashAt: dup probes")
    }
  }

  test("partitioned snapshot write keeps partition columns readable") {
    val dir = java.nio.file.Files.createTempDirectory("snappart").toString + "/t"
    val df = (0 until 100).map(i => (s"id$i", s"p${i % 3}", i)).toDF("id", "p", "v")
    SnapshotTable.write(df, dir, partitionBy = Seq("p"))
    val back = SnapshotTable.read(spark, dir)
    assert(back.count() == 100)
    assert(back.select("p").distinct().count() == 3)
  }

  test("stale regressed hint naming an expired snapshot still finds the head") {
    import java.nio.file.{Files, Paths}
    val dir = Files.createTempDirectory("snaphint").toString + "/t"
    val df = (0 until 10).map(i => (s"r$i", i)).toDF("id", "v")
    (0 until 5).foreach(_ => SnapshotTable.write(df, dir, mode = "append"))
    SnapshotTable.expireSnapshots(spark, dir, keepLast = 1)
    assert(SnapshotTable.history(dir).map(_.id) == Seq(5L))
    // the documented writer race: the best-effort hint regressed to a
    // snapshot that expiry has since deleted — the forward scan's floor
    // (v2.json, and v3.json after it) no longer exists
    Files.writeString(Paths.get(dir, "metadata", "version-hint.text"), "2")
    assert(SnapshotTable.currentSnapshot(dir) == 5L)
    assert(SnapshotTable.read(spark, dir).count() == 50)
  }

  test("key-index backfill keeps pre-index keys exactly-once visible") {
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    val dir = Files.createTempDirectory("snapback").toString + "/t"
    val df = (0 until 10).map(i => (s"r$i", i)).toDF("id", "v")
    (0 until 3).foreach(i =>
      SnapshotTable.write(df, dir, mode = "append", idempotencyKey = s"pre-$i"))
    // simulate a table written by a pre-index version: no key index
    val keysDir = Paths.get(dir, "metadata", "keys")
    Files.walk(keysDir).iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists(_))
    assert(!Files.exists(keysDir))
    // indexless probes keep the whole-retained-history guarantee
    assert(SnapshotTable.snapshotWithKey(dir, "pre-0").contains(1L))
    // the next keyed commit creates the index and BACKFILLS all retained
    // keys (completeness sentinel last, so a backfill crash can never
    // silently enable the bounded probe window)
    SnapshotTable.write(df, dir, mode = "append", idempotencyKey = "post-0")
    val names = {
      val s = Files.list(keysDir)
      try s.iterator().asScala.map(_.getFileName.toString).toSet finally s.close()
    }
    assert(names.contains(".complete"), names.toString)
    assert(names.count(_.startsWith("k-")) == 4, names.toString)
    // a replayed pre-index publish short-circuits instead of duplicating
    assert(SnapshotTable.write(df, dir, mode = "append", idempotencyKey = "pre-1") == 2L)
    assert(SnapshotTable.currentSnapshot(dir) == 4L)
    assert(SnapshotTable.read(spark, dir).count() == 40)
  }

  test("raced writers and crash residue leave no permanent orphan dirs") {
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    val dir = Files.createTempDirectory("snaporph").toString + "/t"
    val df = (0 until 10).map(i => (s"r$i", i)).toDF("id", "v")
    // two writers race the SAME idempotency key: exactly one commits,
    // and the loser must reclaim its own never-referenced data dir
    val latch = new java.util.concurrent.CountDownLatch(1)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    val futures = (0 until 2).map { _ =>
      pool.submit(new java.util.concurrent.Callable[Long] {
        def call(): Long = { latch.await(); SnapshotTable.write(df, dir, mode = "append", idempotencyKey = "same-key") }
      })
    }
    latch.countDown()
    val snaps = futures.map(_.get())
    pool.shutdown()
    assert(snaps.toSet == Set(1L), snaps.toString)
    def subdirs(p: java.nio.file.Path): Set[String] =
      if (!Files.exists(p)) Set.empty
      else { val s = Files.list(p); try s.iterator().asScala.map(_.getFileName.toString).toSet finally s.close() }
    assert(subdirs(Paths.get(dir, "data")).size == 1,
      s"loser's data dir not reclaimed: ${subdirs(Paths.get(dir, "data"))}")
    // crash residue: a data dir + manifest attempt no snapshot references
    Files.createDirectories(Paths.get(dir, "data", "w-crashed"))
    Files.writeString(Paths.get(dir, "data", "w-crashed", "part-0.parquet"), "junk")
    Files.createDirectories(Paths.get(dir, "manifests", "snap-99-crashed"))
    Files.writeString(Paths.get(dir, "manifests", "snap-99-crashed", "part-0.parquet"), "junk")
    // fresh orphans survive the default sweep (in-flight writer guard)
    SnapshotTable.expireSnapshots(spark, dir, keepLast = 1)
    assert(Files.exists(Paths.get(dir, "data", "w-crashed")))
    // and are reclaimed once past the age threshold
    SnapshotTable.expireSnapshots(spark, dir, keepLast = 1, sweepOrphansOlderThanMs = 0L)
    assert(!Files.exists(Paths.get(dir, "data", "w-crashed")))
    assert(!Files.exists(Paths.get(dir, "manifests", "snap-99-crashed")))
    // the retained snapshot is untouched
    assert(SnapshotTable.read(spark, dir).count() == 10)
    assert(subdirs(Paths.get(dir, "data")).size == 1)
    assert(subdirs(Paths.get(dir, "manifests")).size == 1)
  }

  test("merge: copy-on-write upsert rewrites ONLY affected files, newest wins") {
    val dir = java.nio.file.Files.createTempDirectory("snapmerge").toString + "/t"
    // 200 rows across 8 files — keys 0..199, value = old
    val base = spark.range(0, 200, 1, 8)
      .select(col("id"), concat(lit("old-"), col("id")).as("v"))
    SnapshotTable.write(base, dir)
    // append 100 more in 4 files so the manifest spans two snapshots
    SnapshotTable.write(
      spark.range(200, 300, 1, 4)
        .select(col("id"), concat(lit("old-"), col("id")).as("v")),
      dir, mode = "append")
    val parentManifest = SnapshotTable.read(spark, dir)
      .withColumn("f", input_file_name())
      .select("f").distinct().collect().map(_.getString(0)).toSet
    // upsert: replace 5 existing keys (landing in few files) + 3 new keys
    val updates = (Seq(7L, 8L, 9L, 205L, 206L).map(k => (k, s"new-$k")) ++
      Seq(1000L, 1001L, 1002L).map(k => (k, s"ins-$k"))).toDF("id", "v")
    val parent = SnapshotTable.currentSnapshot(dir)
    val snap = SnapshotTable.merge(spark, dir, updates, Seq("id"), "m-1")
    assert(snap == parent + 1)
    // content equals the brute newest-wins rewrite
    val got = SnapshotTable.read(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val want = (0L until 300L).map(k => k -> s"old-$k").toMap ++
      Seq(7L, 8L, 9L, 205L, 206L).map(k => k -> s"new-$k").toMap ++
      Seq(1000L, 1001L, 1002L).map(k => k -> s"ins-$k").toMap
    assert(got == want)
    // copy-on-write: unaffected files carried VERBATIM (same paths),
    // affected ones gone from the live file set
    val mergedFiles = SnapshotTable.read(spark, dir)
      .withColumn("f", input_file_name())
      .select("f").distinct().collect().map(_.getString(0)).toSet
    val carried = mergedFiles.intersect(parentManifest)
    assert(carried.nonEmpty, "no files carried — merge rewrote the table")
    assert(mergedFiles != parentManifest, "no files rewritten — vacuous")
    // the 5 updated keys span ≤ 5 files; at least 12 - 5 - ... most of
    // the 12 base files must survive untouched
    assert(carried.size >= 7, s"only ${carried.size} of 12 files carried")
    // readDelta since the parent returns exactly the rewritten rows
    val delta = SnapshotTable.readDelta(spark, dir, sinceSnapshot = parent)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(Seq(7L, 205L, 1000L).forall(delta.contains))
    assert(delta.forall { case (k, v) => want(k) == v })
    // an unaffected key in an untouched file is NOT part of the delta
    assert(!delta.contains(50L))
    // time travel: the parent snapshot still reads the pre-merge rows
    val old = SnapshotTable.read(spark, dir, Some(parent)).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(old(7L) == "old-7" && !old.contains(1000L))
    // idempotency: replaying the same merge key is a no-op
    val again = SnapshotTable.merge(spark, dir, updates, Seq("id"), "m-1")
    assert(again == snap)
    assert(SnapshotTable.read(spark, dir).count() == 303)
    // key-ambiguous updates refuse loudly
    val dup = Seq((7L, "a"), (7L, "b")).toDF("id", "v")
    intercept[IllegalArgumentException] {
      SnapshotTable.merge(spark, dir, dup, Seq("id"))
    }
    // compaction after a merge preserves the merged content
    SnapshotTable.compact(spark, dir, numFiles = 2)
    val compacted = SnapshotTable.read(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(compacted == want)
  }

  test("delete: copy-on-write removal rewrites ONLY affected files") {
    val dir = java.nio.file.Files.createTempDirectory("snapdel").toString + "/t"
    // 200 rows across 8 contiguous range files so stats prune detection
    val base = spark.range(0, 200, 1, 1)
      .select(col("id"), concat(lit("v-"), col("id")).as("v"))
      .repartitionByRange(8, col("id"))
    SnapshotTable.write(base, dir, statsCols = Seq("id"))
    val parent = SnapshotTable.currentSnapshot(dir)
    val parentFiles = SnapshotTable.read(spark, dir)
      .withColumn("f", input_file_name())
      .select("f").distinct().collect().map(_.getString(0)).toSet
    // doom a narrow key range (hits few files) + absent keys (no-ops)
    val doomed = (Seq(10L, 11L, 12L) ++ Seq(-5L, 9999L)).toDF("id")
    val snap = SnapshotTable.delete(spark, dir, doomed, Seq("id"), "d-1")
    assert(snap == parent + 1)
    val got = SnapshotTable.read(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val want = (0L until 200L).filterNot(Seq(10L, 11L, 12L).contains)
      .map(k => k -> s"v-$k").toMap
    assert(got == want)
    // copy-on-write: the narrow range lives in 1 of 8 range files —
    // at least 7 files must be carried verbatim
    val afterFiles = SnapshotTable.read(spark, dir)
      .withColumn("f", input_file_name())
      .select("f").distinct().collect().map(_.getString(0)).toSet
    assert(afterFiles.intersect(parentFiles).size >= 7,
      s"only ${afterFiles.intersect(parentFiles).size} of 8 files carried")
    // history records the audit row; time travel still sees the rows
    assert(SnapshotTable.history(dir).find(_.id == snap)
      .exists(_.operation == "delete"))
    val old = SnapshotTable.read(spark, dir, Some(parent)).collect()
      .map(_.getLong(0)).toSet
    assert(old.contains(10L))
    // idempotency: replaying the delete key is a no-op
    assert(SnapshotTable.delete(spark, dir, doomed, Seq("id"), "d-1") == snap)
    assert(SnapshotTable.read(spark, dir).count() == 197)
    // delete-to-empty: dooming every key leaves a readable empty table
    val all = spark.range(0, 200).select(col("id"))
    SnapshotTable.delete(spark, dir, all, Seq("id"), "d-all")
    val empty = SnapshotTable.read(spark, dir)
    assert(empty.count() == 0 && empty.columns.toSeq == Seq("id", "v"))
  }

  test("bloom point reads: files skip, no false negative across every key") {
    val dir = java.nio.file.Files.createTempDirectory("snapbloom").toString + "/t"
    // files clustered by a DIFFERENT key (v-hash), so id min/max
    // bounds are useless — exactly the case the bloom index serves
    val base = spark.range(0, 400, 1, 1)
      .select(col("id"), concat(lit("v-"), col("id") % 7).as("v"))
      .repartition(8, col("v"))
    SnapshotTable.write(base, dir, statsCols = Seq("id"),
      bloomCols = Seq("id"))
    val total = SnapshotTable.read(spark, dir)
      .withColumn("f", input_file_name())
      .select("f").distinct().count()
    // a present key: exactly its row, from FEWER files than the table
    val hit = SnapshotTable.readPoint(spark, dir, "id", "123")
    assert(hit.collect().map(r => (r.getLong(0), r.getString(1))).toList ==
      List((123L, s"v-${123 % 7}")))
    val opened = hit.withColumn("f", input_file_name())
      .select("f").distinct().count()
    assert(opened < total, s"bloom skipped nothing: $opened of $total")
    // absent keys: empty, typically zero files opened
    assert(SnapshotTable.readPoint(spark, dir, "id", "9999").count() == 0)
    // no-false-negative sweep: every key is found
    (0L until 400L by 13L).foreach { k =>
      assert(SnapshotTable.readPoint(spark, dir, "id", k.toString)
        .count() == 1, s"false negative on $k")
    }
    // a merge rewrite leaves null blooms on rewritten files — they are
    // never skipped, so the point read stays exact
    SnapshotTable.merge(spark, dir,
      Seq((123L, "REWRITTEN")).toDF("id", "v"), Seq("id"), "m-1")
    assert(SnapshotTable.readPoint(spark, dir, "id", "123")
      .head().getString(1) == "REWRITTEN")
  }

  test("metadataAggs: count/min/max from the manifest alone, unsound refuses") {
    val dir = java.nio.file.Files.createTempDirectory("snapmeta").toString + "/t"
    val base = spark.range(5, 905, 1, 1).select(col("id"),
      concat(lit("v"), col("id")).as("v")).repartitionByRange(6, col("id"))
    SnapshotTable.write(base, dir, statsCols = Seq("id"))
    val row = SnapshotTable.metadataAggs(spark, dir, "id").head()
    assert((row.getLong(0), row.getLong(1), row.getLong(2)) == ((900L, 5L, 904L)))
    // a delete narrows the extremes; the metadata answer follows
    SnapshotTable.delete(spark,
      dir, Seq(5L, 904L).toDF("id"), Seq("id"), "d-1")
    val after = SnapshotTable.metadataAggs(spark, dir, "id").head()
    assert((after.getLong(0), after.getLong(1), after.getLong(2)) ==
      ((898L, 6L, 903L)))
    // an append WITHOUT stats coverage poisons soundness → refuse
    val noStatsDir = java.nio.file.Files
      .createTempDirectory("snapmeta2").toString + "/t"
    SnapshotTable.write(base, noStatsDir)  // no statsCols recorded
    assertThrows[IllegalArgumentException] {
      SnapshotTable.metadataAggs(spark, noStatsDir, "id")
    }
  }

  test("rollback: reverts content, schema, and stats as a new audited commit") {
    val dir = java.nio.file.Files.createTempDirectory("snaprb").toString + "/t"
    val base = spark.range(0, 50, 1, 1)
      .select(col("id"), concat(lit("v-"), col("id")).as("v"))
    SnapshotTable.write(base, dir, statsCols = Seq("id"))
    // a "bad" merge + a schema evolution on top
    SnapshotTable.merge(spark, dir,
      Seq((10L, "BAD")).toDF("id", "v"), Seq("id"), "m-bad")
    SnapshotTable.write(Seq((100L, "v-100", 1)).toDF("id", "v", "w"),
      dir, mode = "append", idempotencyKey = "evo")
    val snap = SnapshotTable.rollback(spark, dir, 1L, "rb-1")
    assert(snap == 4L)
    // content, schema, and stats columns all revert to snapshot 1
    val got = SnapshotTable.read(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == (0L until 50L).map(k => k -> s"v-$k").toMap)
    assert(SnapshotTable.read(spark, dir).columns.toSeq == Seq("id", "v"))
    assert(SnapshotTable.statsColumns(dir, snap) == Seq("id"))
    // audit trail: the bad commits stay time-travelable
    assert(SnapshotTable.history(dir).find(_.id == snap)
      .exists(_.operation == "rollback"))
    assert(SnapshotTable.read(spark, dir, Some(2L)).collect()
      .exists(_.getString(1) == "BAD"))
    // a rollback adds no files: the delta since the parent is empty
    assert(SnapshotTable.readDelta(spark, dir, 3L).count() == 0)
    // the CDF across the rollback is the exact inverse of the bad
    // merge + evolution append — and it carries the DESTINATION
    // (reverted, w-less) schema, so the evolved column projects away
    val feedDf = SnapshotTable.changes(spark, dir, 3L, Some(snap))
    assert(feedDf.columns.toSeq == Seq("id", "v", "_change"))
    val feed = feedDf.collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    assert(feed == Set((10L, "BAD", "delete"), (10L, "v-10", "insert"),
      (100L, "v-100", "delete")))
    // idempotent replay; expired target refuses
    assert(SnapshotTable.rollback(spark, dir, 1L, "rb-1") == snap)
    SnapshotTable.expireSnapshots(spark, dir, keepLast = 1,
      sweepOrphansOlderThanMs = 0L)
    assertThrows[IllegalArgumentException] {
      SnapshotTable.rollback(spark, dir, 2L, "rb-2")
    }
    // post-expiry the table still reads the rolled-back content
    assert(SnapshotTable.read(spark, dir).count() == 50)
  }

  test("overwritePartitions: replaces touched partitions, carries the rest") {
    val dir = java.nio.file.Files.createTempDirectory("snapowp").toString + "/t"
    val base = spark.range(0, 100, 1, 1)
      .select(col("id"), concat(lit("p"), col("id") % 4).as("part"),
        lit("orig").as("v"))
    SnapshotTable.write(base, dir, partitionBy = Seq("part"),
      statsCols = Seq("id"))
    val parent = SnapshotTable.currentSnapshot(dir)
    val parentFiles = SnapshotTable.read(spark, dir)
      .withColumn("f", input_file_name())
      .filter(col("part") =!= "p1")
      .select("f").distinct().collect().map(_.getString(0)).toSet
    // re-land p1 with entirely new content + create a new partition p9
    val reland = Seq((1000L, "p1", "new"), (1001L, "p1", "new"),
      (2000L, "p9", "fresh")).toDF("id", "part", "v")
    val snap = SnapshotTable.overwritePartitions(reland, dir, "ow-1")
    assert(snap == parent + 1)
    val got = SnapshotTable.read(spark, dir).select("id", "part", "v")
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    val wantKept = (0L until 100L).filter(_ % 4 != 1)
      .map(i => (i, s"p${i % 4}", "orig")).toSet
    assert(got == wantKept ++ Set((1000L, "p1", "new"), (1001L, "p1", "new"),
      (2000L, "p9", "fresh")))
    // untouched partitions carried VERBATIM (same physical files)
    val afterFiles = SnapshotTable.read(spark, dir)
      .withColumn("f", input_file_name())
      .filter(col("part") =!= "p1" && col("part") =!= "p9")
      .select("f").distinct().collect().map(_.getString(0)).toSet
    assert(afterFiles == parentFiles, "untouched partitions must not rewrite")
    // the delta is exactly the re-landed rows; time travel sees old p1
    val delta = SnapshotTable.readDelta(spark, dir, parent)
      .select("id", "part", "v").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    assert(delta == Set((1000L, "p1", "new"), (1001L, "p1", "new"),
      (2000L, "p9", "fresh")))
    assert(SnapshotTable.read(spark, dir, Some(parent))
      .filter(col("part") === "p1").count() == 25)
    // idempotent replay; audit row; unsafe partition values refuse
    assert(SnapshotTable.overwritePartitions(reland, dir, "ow-1") == snap)
    assert(SnapshotTable.history(dir).find(_.id == snap)
      .exists(_.operation == "overwrite_partitions"))
    val bad = Seq((1L, "has space", "x")).toDF("id", "part", "v")
    assertThrows[IllegalArgumentException] {
      SnapshotTable.overwritePartitions(bad, dir, "ow-bad")
    }
  }

  test("compliance: delete + expire physically removes the doomed rows") {
    import java.nio.file.{Files, Paths}
    val dir = java.nio.file.Files.createTempDirectory("snapgdpr").toString + "/t"
    val base = spark.range(0, 100, 1, 1)
      .select(col("id"), concat(lit("v-"), col("id")).as("v"))
      .repartitionByRange(4, col("id"))
    SnapshotTable.write(base, dir, statsCols = Seq("id"))
    def pathOf(uri: String) =
      if (uri.startsWith("file:")) Paths.get(new java.net.URI(uri))
      else Paths.get(uri)
    val fileOf10 = SnapshotTable.read(spark, dir)
      .withColumn("f", input_file_name())
      .filter(col("id") === 10L).select("f").head().getString(0)
    SnapshotTable.delete(spark, dir, Seq(10L).toDF("id"), Seq("id"), "d-1")
    // pre-expiry: the old file must SURVIVE (time travel still works)
    assert(Files.exists(pathOf(fileOf10)))
    SnapshotTable.expireSnapshots(spark, dir, keepLast = 1,
      sweepOrphansOlderThanMs = 0L)
    // post-expiry: the rewritten-away file is physically gone, the
    // table reads complete minus the key, and NO parquet file left
    // anywhere under the table root still holds the doomed row
    assert(!Files.exists(pathOf(fileOf10)))
    assert(SnapshotTable.read(spark, dir).count() == 99)
    import scala.jdk.CollectionConverters._
    val leftovers = Files.walk(Paths.get(dir)).iterator().asScala
      .filter(p => p.toString.endsWith(".parquet") && Files.isRegularFile(p))
      .map(_.toString).toSeq
    assert(leftovers.nonEmpty)
    val residual = spark.read.schema("id BIGINT, v STRING")
      .parquet(leftovers: _*).filter(col("id") === 10L).count()
    assert(residual == 0, s"doomed row still on disk in $leftovers")
  }

  test("changes: row-level CDF across append, merge, delete, evolution") {
    val dir = java.nio.file.Files.createTempDirectory("snapcdf").toString + "/t"
    val base = spark.range(0, 100, 1, 1)
      .select(col("id"), concat(lit("v-"), col("id")).as("v"))
      .repartitionByRange(4, col("id"))
    SnapshotTable.write(base, dir, statsCols = Seq("id"))
    // append-only delta: pure inserts, no deletes
    SnapshotTable.write(
      Seq((100L, "v-100"), (101L, "v-101")).toDF("id", "v"), dir,
      mode = "append", idempotencyKey = "a-1")
    val afterAppend = SnapshotTable.changes(spark, dir, 1L, Some(2L))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    assert(afterAppend.toSet ==
      Set((100L, "v-100", "insert"), (101L, "v-101", "insert")))
    // merge: one genuine update, one no-op upsert, one fresh insert —
    // the no-op and every carried survivor must cancel exactly
    val up = Seq((10L, "v-NEW"), (11L, "v-11"), (200L, "v-200"))
      .toDF("id", "v")
    SnapshotTable.merge(spark, dir, up, Seq("id"), "m-1")
    val afterMerge = SnapshotTable.changes(spark, dir, 2L, Some(3L))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    assert(afterMerge.toSet == Set(
      (10L, "v-NEW", "insert"), (10L, "v-10", "delete"),
      (200L, "v-200", "insert")))
    // delete: pure deletes
    SnapshotTable.delete(spark, dir, Seq(5L, 6L).toDF("id"), Seq("id"), "d-1")
    val afterDelete = SnapshotTable.changes(spark, dir, 3L, Some(4L))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    assert(afterDelete.toSet ==
      Set((5L, "v-5", "delete"), (6L, "v-6", "delete")))
    // add-column evolution between the endpoints (a widening append):
    // pre-evolution rows null-fill the new column on BOTH feed sides;
    // the feed carries the DESTINATION schema. The 5/6 deletes and
    // 10/200 inserts span 2 -> 5 too, plus the evolution row itself.
    SnapshotTable.write(Seq((300L, "v-300", 7)).toDF("id", "v", "w"),
      dir, mode = "append", idempotencyKey = "e-1")
    val span = SnapshotTable.changes(spark, dir, 2L, Some(5L))
    assert(span.columns.toSeq == Seq("id", "v", "w", "_change"))
    val spanRows = span.collect()
      .map(r => (r.getLong(0), r.getString(1),
        if (r.isNullAt(2)) None else Some(r.getInt(2)), r.getString(3)))
    assert(spanRows.toSet == Set(
      (10L, "v-NEW", None, "insert"), (10L, "v-10", None, "delete"),
      (200L, "v-200", None, "insert"),
      (5L, "v-5", None, "delete"), (6L, "v-6", None, "delete"),
      (300L, "v-300", Some(7), "insert")))
    // from == to: empty feed, destination schema
    assert(SnapshotTable.changes(spark, dir, 5L, Some(5L)).count() == 0)
    // replica maintenance: applying the 2 -> 5 feed to the snapshot-2
    // read (old schema — w null-fills) reproduces snapshot 5 exactly
    val replayed = SnapshotTable.applyChanges(
      SnapshotTable.read(spark, dir, Some(2L)), span)
    val want5 = SnapshotTable.read(spark, dir, Some(5L))
    assert(replayed.exceptAll(want5).isEmpty && want5.exceptAll(replayed).isEmpty)
  }

  test("manifest min/max stats: readRange skips files, equals the plain filter") {
    val dir = java.nio.file.Files.createTempDirectory("snapstats").toString + "/t"
    // 1000 rows in 10 range-clustered files (range partitions are
    // contiguous id blocks — the layout a clustered 100 TB table has)
    val base = spark.range(0, 1000, 1, 10)
      .select(col("id"), concat(lit("v"), col("id")).as("v"))
    SnapshotTable.write(base, dir, statsCols = Seq("id"))
    assert(SnapshotTable.statsColumns(dir, 1L) == Seq("id"))
    // skip proof: a one-block range keeps ~1 of 10 files
    val (kept, total) = SnapshotTable.pruneEntries(spark, dir, 1L, "id", "150", "160")
    assert(total == 10L && kept.length < 4, s"kept ${kept.length}/$total")
    // result identity vs the unpruned filter
    val got = SnapshotTable.readRange(spark, dir, "id", "150", "160")
      .collect().map(_.getLong(0)).sorted
    assert(got.toSeq == (150L to 160L))

    // append WITHOUT naming statsCols inherits the table's coverage
    SnapshotTable.write(
      spark.range(1000, 1200, 1, 2)
        .select(col("id"), concat(lit("v"), col("id")).as("v")),
      dir, mode = "append")
    assert(SnapshotTable.statsColumns(dir, 2L) == Seq("id"))
    val (kept2, total2) = SnapshotTable.pruneEntries(spark, dir, 2L, "id", "1050", "1060")
    assert(total2 == 12L && kept2.length < 4, s"kept ${kept2.length}/$total2")
    assert(SnapshotTable.readRange(spark, dir, "id", "1050", "1060").count() == 11)

    // compaction keeps the declared stats coverage
    SnapshotTable.compact(spark, dir, numFiles = 3)
    val head = SnapshotTable.currentSnapshot(dir)
    assert(SnapshotTable.statsColumns(dir, head) == Seq("id"))
    assert(SnapshotTable.readRange(spark, dir, "id", "0", "5").count() == 6)
  }

  test("footer-stats commit: bounds equal the distributed aggregate, incl nulls") {
    // integral stats columns commit from parquet footers (no Spark
    // re-read); the recorded bounds must be byte-identical to the
    // distributed min/max cast-to-string formulation, including a
    // partly-null and an ALL-null stats column file
    val dir = java.nio.file.Files.createTempDirectory("snapfoot").toString + "/t"
    val base = spark.range(0, 300, 1, 3)
      .select(
        when(col("id") < 100, col("id") * 7 - 50)          // file 1: mixed
          .when(col("id") < 200, lit(null).cast("long"))   // file 2: all-null
          .otherwise(col("id")).as("k"),
        col("id").as("id"), concat(lit("v"), col("id")).as("v"))
    SnapshotTable.write(base, dir, statsCols = Seq("k"), idempotencyKey = "f-1")
    val manifest = spark.read.parquet(
      java.nio.file.Files.list(java.nio.file.Paths.get(dir, "manifests"))
        .iterator().next().toString)
    val want = spark.read.parquet(s"$dir/data/w-*")
      .groupBy(input_file_name().as("path"))
      .agg(count(lit(1)).as("rows"),
        min(col("k")).cast("string").as("min_k"),
        max(col("k")).cast("string").as("max_k"))
      .collect().map(r => (r.getString(0), r.getLong(1),
        r.getString(2), r.getString(3))).toSet
    val got = manifest.select("path", "rows", "min_k", "max_k")
      .collect().map(r => (r.getString(0), r.getLong(1),
        r.getString(2), r.getString(3))).toSet
    assert(got == want)
    assert(got.exists(e => e._3 == null && e._4 == null), "all-null file bounds")
    assert(got.exists(e => e._3 != null && e._3.toLong < 0), "negative min kept")
    // a STRING stats column must fall back to the distributed pass and
    // still record exact (untruncated) bounds
    val sdir = java.nio.file.Files.createTempDirectory("snapfootS").toString + "/t"
    val longVal = "z" * 100
    SnapshotTable.write(
      spark.range(0, 10, 1, 1).select(col("id"),
        concat(lit(longVal), col("id")).as("s")),
      sdir, statsCols = Seq("s"), idempotencyKey = "f-2")
    val smanifest = spark.read.parquet(
      java.nio.file.Files.list(java.nio.file.Paths.get(sdir, "manifests"))
        .iterator().next().toString)
    val srow = smanifest.select("min_s", "max_s").head()
    assert(srow.getString(0) == longVal + "0" && srow.getString(1) == longVal + "9")
  }

  test("mixed manifests: null bounds never skip; merge keeps stats pruning") {
    val dir = java.nio.file.Files.createTempDirectory("snapstatsmix").toString + "/t"
    // snapshot 1 predates stats — its entries carry NO bounds
    SnapshotTable.write(
      spark.range(0, 100, 1, 4).select(col("id"), lit("old").as("v")), dir)
    // stats arrive with a later append: old entries get null bounds
    SnapshotTable.write(
      spark.range(100, 500, 1, 4).select(col("id"), lit("old").as("v")),
      dir, mode = "append", statsCols = Seq("id"))
    // a range inside the UNSTATTED files must still return its rows
    // (null bounds = unknown, not skippable)
    assert(SnapshotTable.readRange(spark, dir, "id", "10", "20").count() == 11)
    val (kept, total) = SnapshotTable.pruneEntries(spark, dir, 2L, "id", "10", "20")
    // the 4 unstatted files all survive pruning; the 4 statted ones drop
    assert(total == 8L && kept.length == 4, s"kept ${kept.length}/$total")

    // merge: stats prune the affected-file detection AND the rewritten
    // files keep coverage — content must equal brute newest-wins
    import spark.implicits._
    val updates = (Seq(150L, 151L).map(k => (k, s"new-$k")) ++
      Seq(9000L).map(k => (k, s"ins-$k"))).toDF("id", "v")
    SnapshotTable.merge(spark, dir, updates, Seq("id"), "sm-1")
    val head = SnapshotTable.currentSnapshot(dir)
    assert(SnapshotTable.statsColumns(dir, head) == Seq("id"))
    val got = SnapshotTable.read(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val want = (0L until 500L).map(k => k -> "old").toMap ++
      Map(150L -> "new-150", 151L -> "new-151", 9000L -> "ins-9000")
    assert(got == want)
    // post-merge range read over the rewritten region stays pruned+exact
    assert(SnapshotTable.readRange(spark, dir, "id", "149", "152")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap ==
      Map(149L -> "old", 150L -> "new-150", 151L -> "new-151", 152L -> "old"))
  }

  test("z-order box reads: Morton layout prunes both dims, equals plain filter") {
    import graft.ops.ZOrder
    // interleave golden: a=3 (011), b=5 (101) → bits 1,1,1,0,0,1 = 39
    val z = spark.range(1).select(ZOrder.zvalue(lit(3L), lit(5L), 3))
      .head().getLong(0)
    assert(z == 39L, s"zvalue(3,5)=$z")
    // 64×64 grid of (x, y) points, 16 files each layout
    val grid = spark.range(0, 64 * 64, 1, 4)
      .select((col("id") % 64).as("x"), (col("id") / 64).cast("long").as("y"))
    val zdir = java.nio.file.Files.createTempDirectory("snapz").toString + "/t"
    SnapshotTable.write(ZOrder.cluster(grid, "x", "y", 16, bits = 6), zdir,
      statsCols = Seq("x", "y"))
    val ldir = java.nio.file.Files.createTempDirectory("snapl").toString + "/t"
    SnapshotTable.write(grid.repartitionByRange(16, col("x")), ldir,
      statsCols = Seq("x", "y"))
    // a box narrow in BOTH dims: z-layout must skip strictly more
    // files than the x-sorted layout (which prunes only x)
    def boxFiles(dir: String): Int = {
      val xs = SnapshotTable.pruneEntries(spark, dir, 1L, "x", "8", "15")._1
        .map(_._1).toSet
      val ys = SnapshotTable.pruneEntries(spark, dir, 1L, "y", "8", "15")._1
        .map(_._1).toSet
      (xs intersect ys).size
    }
    val (zf, lf) = (boxFiles(zdir), boxFiles(ldir))
    assert(zf < lf, s"z kept $zf files, 1-D kept $lf — z must prune harder")
    assert(zf <= 4, s"8x8 box of a 64x64 grid over 16 z-files kept $zf")
    // result identity on both layouts
    val want = (8 to 15).flatMap(x => (8 to 15).map(y => (x.toLong, y.toLong))).toSet
    Seq(zdir, ldir).foreach { d =>
      val got = SnapshotTable.readBox(spark, d,
          Seq(("x", "8", "15"), ("y", "8", "15")))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == want, s"$d box content")
    }
  }

  test("schema evolution: appends widen, old files null-fill, drops refuse") {
    val dir = java.nio.file.Files.createTempDirectory("snapevo").toString + "/t"
    SnapshotTable.write(
      spark.range(0, 50, 1, 2).select(col("id"), lit("a").as("v")), dir)
    // widened append: the new column arrives with the new files
    SnapshotTable.write(
      spark.range(50, 80, 1, 2)
        .select(col("id"), lit("b").as("v"), lit(9L).as("extra")),
      dir, mode = "append")
    val cur = SnapshotTable.read(spark, dir)
    assert(cur.schema.fieldNames.toSeq == Seq("id", "v", "extra"))
    // pre-evolution rows read as null, post-evolution rows keep values
    assert(cur.filter(col("extra").isNull).count() == 50)
    assert(cur.filter(col("extra") === 9L).count() == 30)
    // time travel: the old snapshot still reads with the OLD schema
    assert(SnapshotTable.read(spark, dir, Some(1L))
      .schema.fieldNames.toSeq == Seq("id", "v"))
    // delta read carries the widened schema
    assert(SnapshotTable.readDelta(spark, dir, sinceSnapshot = 1L)
      .filter(col("extra") === 9L).count() == 30)
    // dropping a column on append refuses loudly
    intercept[IllegalArgumentException] {
      SnapshotTable.write(spark.range(80, 90).select(col("id")),
        dir, mode = "append")
    }
    // type change refuses loudly
    intercept[IllegalArgumentException] {
      SnapshotTable.write(
        spark.range(80, 90).select(col("id"), lit(1).as("v"), lit(9L).as("extra")),
        dir, mode = "append")
    }
    // merge over the evolved table: unaffected pre-evolution files
    // still null-fill, updates land with the full schema
    import spark.implicits._
    val updates = Seq((3L, "up", 7L), (900L, "ins", 8L)).toDF("id", "v", "extra")
    SnapshotTable.merge(spark, dir, updates, Seq("id"), "evo-m1")
    val merged = SnapshotTable.read(spark, dir)
    assert(merged.count() == 81)
    assert(merged.filter(col("id") === 3L).select("extra").head().getLong(0) == 7L)
    assert(merged.filter(col("id") === 10L).select("extra").head().isNullAt(0) ||
      merged.filter(col("id") === 10L).select("extra").head().get(0) == null)
    // compaction collapses the mixed-schema files into uniform ones
    SnapshotTable.compact(spark, dir, numFiles = 2)
    assert(SnapshotTable.read(spark, dir).filter(col("extra").isNull).count() == 49)
  }

  test("merge on a partitioned table keeps partition reconstitution") {
    val dir = java.nio.file.Files.createTempDirectory("snapmergep").toString + "/t"
    // alpha partition values: hive partition-dir inference keeps them
    // strings (numeric dir names would re-infer as int — a pre-existing
    // trait of partition reconstitution, not of merge)
    val base = spark.range(0, 100, 1, 4)
      .select(col("id"), concat(lit("p"), col("id") % 3).as("p"),
        lit("old").as("v"))
    SnapshotTable.write(base, dir, partitionBy = Seq("p"))
    val updates = Seq((5L, "p2", "new"), (500L, "p1", "ins"))
      .toDF("id", "p", "v")
    SnapshotTable.merge(spark, dir, updates, Seq("id"), "pm-1")
    val got = SnapshotTable.read(spark, dir)
    assert(got.count() == 101)
    assert(got.filter(col("id") === 5L).select("v").head().getString(0) == "new")
    assert(got.filter(col("id") === 5L).select("p").head().getString(0) == "p2")
    assert(got.filter(col("id") === 500L).select("p").head().getString(0) == "p1")
    // partition column still prunes (hive reconstitution intact)
    assert(got.filter(col("p") === "p1").count() ===
      base.filter(col("p") === "p1").count() + 1)
  }
}
