package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.streaming.Streaming
import graft.ops.Multimodal

class StreamingSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("incremental extraction stream equals batch pipeline output") {
    // the canonical-layer twin of "streaming micro-batches drive exact
    // incremental KG maintenance": stream → docs snapshot append → one
    // incremental canonical update per micro-batch, and the final table
    // is EXACTLY the full build's graph over the same docs table
    import graft.sources.SnapshotTable
    import graft.kg.{DataGen, Model, Pipeline}
    val tmp = java.nio.file.Files.createTempDirectory("stream").toString
    val inDir = s"$tmp/in"; val docsDir = s"$tmp/docs"; val cp = s"$tmp/cp"
    val canonDir = s"$tmp/canonical"
    val docs = DataGen.corpus(spark, 120, 2).toDF()
    docs.write.mode("overwrite").parquet(inDir)
    val cachedBefore = spark.sparkContext.getPersistentRDDs.keySet
    val q = spark.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", "1").parquet(inDir)
      .writeStream
      .option("checkpointLocation", cp)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
        SnapshotTable.write(batch, docsDir, mode = "append",
          idempotencyKey = s"docs-batch-$id")
        Pipeline.incrementalCanonicalFromTable(spark, docsDir, s"$tmp/raw",
          canonDir): Unit
      }
      .start()
    q.awaitTermination()
    // every table a micro-batch persists is released after its write
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- cachedBefore
    assert(leaked.isEmpty, s"micro-batches left cached RDDs: $leaked")
    assert(SnapshotTable.history(docsDir).count(_.operation == "append") >= 2,
      "the stream drained in fewer than two micro-batches")
    val got = SnapshotTable.read(spark, canonDir).as[Model.Triple].collect().toSet
    Pipeline.runFromTable(spark, docsDir, s"$tmp/build", s"$tmp/graph")
    val want = SnapshotTable.read(spark, s"$tmp/graph").as[Model.Triple].collect().toSet
    assert(want.nonEmpty)
    assert(got == want, s"missing=${(want -- got).size} extra=${(got -- want).size}")
  }

  test("watermarked windowed aggregation over event stream (memory sink)") {
    val events = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
      .withColumn("ts", col("ts").cast("timestamp")) // NTZ → event-time type
    val tmp = java.nio.file.Files.createTempDirectory("evs").toString
    events.write.mode("overwrite").parquet(s"$tmp/in")
    val stream = spark.readStream.schema(events.schema).parquet(s"$tmp/in")
    val q = Streaming.windowedCounts(stream).writeStream
      .outputMode("complete")
      .option("checkpointLocation", s"$tmp/cp")
      .format("memory").queryName("win_counts")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val streamed = spark.sql("SELECT sum(n) FROM win_counts").head().getLong(0)
    assert(streamed == events.count())
  }

  test("streaming hopping windows equal the batch ev_hopping_window counts") {
    val events = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
      .withColumn("ts", col("ts").cast("timestamp"))
    val tmp = java.nio.file.Files.createTempDirectory("hop").toString
    events.write.mode("overwrite").parquet(s"$tmp/in")
    val stream = spark.readStream.schema(events.schema).parquet(s"$tmp/in")
    val q = Streaming.hoppingCounts(stream).writeStream
      .outputMode("complete")
      .option("checkpointLocation", s"$tmp/cp")
      .format("memory").queryName("hop_counts")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    // every event lands in exactly two sliding windows
    assert(spark.sql("SELECT sum(n) FROM hop_counts").head().getLong(0)
      == 2 * events.count())
    // per-(window, type) counts equal the batch query's explode-based
    // formulation (window.start as epoch seconds == batch win_start)
    val streamed = spark.sql(
      """SELECT unix_timestamp(window.start) AS win_start, event_type, n
         FROM hop_counts""").collect()
      .map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
    val batch = SparkEntry.queries("ev_hopping_window")(
        spark, "/root/testdata/sf0.001").collect()
      .map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(streamed == batch,
      s"streamed=${streamed.size} batch=${batch.size} keys differ")
  }

  test("stream-stream interval join equals the batch inequality join") {
    val events = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
      .withColumn("ts", col("ts").cast("timestamp"))
    val tmp = java.nio.file.Files.createTempDirectory("ssj").toString
    events.filter(col("event_type") === "click")
      .write.mode("overwrite").parquet(s"$tmp/clicks")
    events.filter(col("event_type") === "view")
      .write.mode("overwrite").parquet(s"$tmp/views")
    val schema = events.schema
    val q = Streaming.clickViewJoin(
        spark.readStream.schema(schema).parquet(s"$tmp/clicks"),
        spark.readStream.schema(schema).parquet(s"$tmp/views"))
      .writeStream
      .outputMode("append")
      .option("checkpointLocation", s"$tmp/cp")
      .format("memory").queryName("ssj_pairs")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val got = spark.sql("SELECT user_id, click_id, view_id FROM ssj_pairs")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // batch twin: plain inequality join over the same two slices
    val c = events.filter(col("event_type") === "click")
      .select(col("user_id"), col("event_id").as("click_id"), col("ts").as("cts"))
    val v = events.filter(col("event_type") === "view")
      .select(col("user_id"), col("event_id").as("view_id"), col("ts").as("vts"))
    val want = c.join(v, Seq("user_id"))
      .filter(col("vts") > col("cts") &&
        col("vts") <= col("cts") + expr("INTERVAL 1 HOUR"))
      .select(col("user_id"), col("click_id"), col("view_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == want,
      s"missing=${(want -- got).size} extra=${(got -- want).size}")
    assert(got.nonEmpty, "no pairs matched — test is vacuous")
  }

  test("left-outer stream-stream join emits watermark-final unmatched clicks") {
    val tmp = java.nio.file.Files.createTempDirectory("ssjl").toString
    val events = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
      .withColumn("ts", col("ts").cast("timestamp"))
    events.filter(col("event_type") === "click")
      .write.mode("overwrite").parquet(s"$tmp/clicks")
    events.filter(col("event_type") === "view")
      .write.mode("overwrite").parquet(s"$tmp/views")
    val schema = events.schema
    val q = Streaming.clickViewJoinLeft(
        spark.readStream.schema(schema).parquet(s"$tmp/clicks"),
        spark.readStream.schema(schema).parquet(s"$tmp/views"))
      .writeStream
      .outputMode("append")
      .option("checkpointLocation", s"$tmp/cp")
      .format("memory").queryName("ssjl_pairs")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val got = spark.sql("SELECT user_id, click_id, view_id FROM ssjl_pairs")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), Option(r.get(2)))).toSet
    // batch twin: inner pairs always emit; an unmatched click emits a
    // NULL row iff the final global watermark (min over both sides'
    // max-ts − delay) cleared its cts + 1 h; later unmatched clicks
    // stay buffered and emit NOTHING — the documented outer-join
    // finality rule this test pins.
    val c = events.filter(col("event_type") === "click")
      .select(col("user_id"), col("event_id").as("click_id"), col("ts").as("cts"))
    val v = events.filter(col("event_type") === "view")
      .select(col("user_id"), col("event_id").as("view_id"), col("ts").as("vts"))
    val gwm = math.min(
      c.agg(max(unix_timestamp(col("cts")))).head().getLong(0) - 3600L,
      v.agg(max(unix_timestamp(col("vts")))).head().getLong(0) - 7200L)
    val inner = c.join(v, Seq("user_id"))
      .filter(col("vts") > col("cts") &&
        col("vts") <= col("cts") + expr("INTERVAL 1 HOUR"))
      .select(col("user_id"), col("click_id"), col("view_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1),
        Option(r.get(2)))).toSet
    val matchedClicks = inner.map(x => (x._1, x._2))
    val outer = c.collect()
      .map(r => (r.getLong(0), r.getLong(1),
        r.getTimestamp(2).getTime / 1000))
      .filter { case (u, cid, cs) =>
        !matchedClicks.contains((u, cid)) && cs + 3600 < gwm }
      .map { case (u, cid, _) => (u, cid, None: Option[Any]) }.toSet
    val want = inner ++ outer
    assert(got === want,
      s"missing=${(want -- got).size} extra=${(got -- want).size}")
    assert(outer.nonEmpty, "no unmatched clicks evicted — test is vacuous")
  }

  test("stateful sessionization (flatMapGroupsWithState) closes gap sessions") {
    val tmp = java.nio.file.Files.createTempDirectory("sess").toString
    val rows = Seq(
      (1L, "2024-01-01 00:00:00", 7L, "click", 1.0),
      (2L, "2024-01-01 00:10:00", 7L, "click", 1.0),
      (3L, "2024-01-01 02:00:00", 7L, "view", 1.0), // >30min gap → closes s1
      (4L, "2024-01-01 02:05:00", 7L, "view", 1.0))
      .toDF("event_id", "ts_s", "user_id", "event_type", "value")
      .withColumn("ts", to_timestamp(col("ts_s"))).drop("ts_s")
    rows.write.mode("overwrite").parquet(s"$tmp/in")
    val stream = spark.readStream.schema(rows.schema).parquet(s"$tmp/in")
      .as[Streaming.Event]
    val q = Streaming.sessionize(stream).writeStream
      .outputMode("append")
      .option("checkpointLocation", s"$tmp/cp")
      .format("memory").queryName("sessions")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val closed = spark.sql("SELECT * FROM sessions").collect()
    assert(closed.length == 1) // first session closed by the gap
    assert(closed.head.getAs[Int]("n_events") == 2)
  }

  test("streaming ingestion appends snapshots to the Iceberg-layout table") {
    import graft.sources.SnapshotTable
    val tmp = java.nio.file.Files.createTempDirectory("snapsink").toString
    val inDir = s"$tmp/in"; val tableDir = s"$tmp/table"; val cp = s"$tmp/cp"
    val docs = graft.kg.DataGen.corpus(spark, 90, 3).toDF()
    docs.write.mode("overwrite").parquet(inDir)
    // foreachBatch → one append snapshot per micro-batch: the streaming
    // checkpoint gives at-least-once batch delivery and the snapshot
    // commit (atomic version-hint swap) makes each batch's publish
    // all-or-nothing
    val q = spark.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", "1").parquet(inDir)
      .writeStream
      .option("checkpointLocation", cp)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
        // batch id as idempotency key: a replayed batch after a failure
        // short-circuits instead of double-appending (exactly-once publish)
        SnapshotTable.write(batch, tableDir, mode = "append",
          idempotencyKey = s"batch-$id"): Unit
      }
      .start()
    q.awaitTermination()
    assert(SnapshotTable.read(spark, tableDir).count() == 90)
    val hist = SnapshotTable.history(tableDir)
    assert(hist.nonEmpty && hist.last.rows == 90)
    assert(hist.tail.forall(_.operation == "append"))
  }

  test("streaming CDC sink: foreachBatch merge upserts, exactly-once under replay") {
    import graft.sources.SnapshotTable
    val tmp = java.nio.file.Files.createTempDirectory("cdcsink").toString
    val inDir = s"$tmp/in"; val tableDir = s"$tmp/table"; val cp = s"$tmp/cp"
    // base table: keys 0..99 at v0
    import spark.implicits._
    SnapshotTable.write(
      spark.range(0, 100, 1, 4).select(col("id"), lit("v0").as("v")),
      tableDir, idempotencyKey = "cdc-base")
    // the change stream: three micro-batch files, LATER files update
    // keys the earlier ones touched — merge order must be honored
    (0 until 3).foreach { b =>
      (b * 20 until b * 20 + 30).map(k => (k.toLong, s"b$b-$k"))
        .toDF("id", "v").coalesce(1)
        .write.mode("append").parquet(inDir)
      // the file source orders micro-batches by (modTime, path); keep
      // the write order unambiguous even on a coarse-mtime filesystem
      Thread.sleep(1100)
    }
    def runStream(): Unit = {
      val q = spark.readStream
        .schema(org.apache.spark.sql.types.StructType.fromDDL("id BIGINT, v STRING"))
        .option("maxFilesPerTrigger", "1").parquet(inDir)
        .writeStream.option("checkpointLocation", cp)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
          // the CDC upsert sink: batch id as the merge idempotency key,
          // so a replayed micro-batch is a no-op instead of a double
          // merge (exactly-once table content under at-least-once
          // batch delivery)
          SnapshotTable.merge(spark, tableDir, batch, Seq("id"),
            idempotencyKey = s"cdc-$id"): Unit
        }
        .start()
      q.awaitTermination()
    }
    runStream()
    val got = SnapshotTable.read(spark, tableDir).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    // file order is the micro-batch order (one file per trigger, named
    // part-...-b): later batches overwrite overlapping keys
    val want = (0L until 100L).map(k => k -> "v0").toMap ++
      (0 until 3).flatMap(b =>
        (b * 20 until b * 20 + 30).map(k => k.toLong -> s"b$b-$k")).toMap
    assert(got.size == want.size && got.keySet == want.keySet)
    // every batch-sourced value is some batch's write for that key; the
    // LAST batch's keys must hold exactly its values
    (40L until 70L).foreach(k => assert(got(k) == s"b2-$k", s"key $k: ${got(k)}"))
    // replaying the whole stream from a fresh checkpoint re-delivers all
    // batches — the idempotency keys make the replay a content no-op
    val snapBefore = SnapshotTable.currentSnapshot(tableDir)
    import scala.jdk.CollectionConverters._
    java.nio.file.Files.walk(java.nio.file.Paths.get(cp)).iterator().asScala
      .toSeq.reverse.foreach(java.nio.file.Files.deleteIfExists(_))
    runStream()
    assert(SnapshotTable.currentSnapshot(tableDir) == snapBefore,
      "replayed batches committed new snapshots")
    val replayed = SnapshotTable.read(spark, tableDir).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(replayed == got)
  }

  test("streaming quarantine sink: violators dead-letter, exactly-once under replay") {
    import graft.sources.SnapshotTable
    import graft.ops.Expectations
    val tmp = java.nio.file.Files.createTempDirectory("qsink").toString
    val inDir = s"$tmp/in"; val tableDir = s"$tmp/table"
    val quarDir = s"$tmp/quarantine"; val cp = s"$tmp/cp"
    val checks = Seq(
      "id_positive" -> (col("id") > 0),
      "v_nonempty" -> (length(col("v")) > 0))
    // three micro-batches; batches 0 and 2 carry violators
    val batches = Seq(
      Seq((1L, "a"), (-2L, "bad-id"), (3L, "")),
      Seq((4L, "d"), (5L, "e")),
      Seq((-6L, "")))
    batches.foreach { b =>
      b.toDF("id", "v").coalesce(1).write.mode("append").parquet(inDir)
      Thread.sleep(1100)
    }
    def runStream(): Unit = {
      val q = spark.readStream
        .schema(org.apache.spark.sql.types.StructType.fromDDL("id BIGINT, v STRING"))
        .option("maxFilesPerTrigger", "1").parquet(inDir)
        .writeStream.option("checkpointLocation", cp)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
          Expectations.quarantineSink(batch, id, checks, tableDir, quarDir)
        }
        .start()
      q.awaitTermination()
    }
    runStream()
    // main table: exactly the pass-all rows
    val good = SnapshotTable.read(spark, tableDir).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(good == Set((1L, "a"), (4L, "d"), (5L, "e")))
    // quarantine: every violator, tagged with its failed checks; the
    // batch ids partition them by arrival
    val bad = SnapshotTable.read(spark, quarDir).collect()
      .map(r => (r.getLong(0), r.getString(1),
        r.getSeq[String](2).toList, r.getLong(3))).toSet
    assert(bad.map(t => (t._1, t._3)) == Set(
      (-2L, List("id_positive")), (3L, List("v_nonempty")),
      (-6L, List("id_positive", "v_nonempty"))))
    assert(bad.count(_._4 == bad.map(_._4).max) == 1) // last batch: one row
    // replay from a fresh checkpoint: content no-op on BOTH tables
    val (s1, s2) = (SnapshotTable.currentSnapshot(tableDir),
      SnapshotTable.currentSnapshot(quarDir))
    import scala.jdk.CollectionConverters._
    java.nio.file.Files.walk(java.nio.file.Paths.get(cp)).iterator().asScala
      .toSeq.reverse.foreach(java.nio.file.Files.deleteIfExists(_))
    runStream()
    assert(SnapshotTable.currentSnapshot(tableDir) == s1)
    assert(SnapshotTable.currentSnapshot(quarDir) == s2)
  }

  test("streaming micro-batches drive exact incremental KG maintenance") {
    // the full composition: stream → docs snapshot append (exactly-once
    // via batch-id key) → incremental maintenance per micro-batch — and
    // the final graph is EXACTLY the full-rebuild triple set
    import graft.sources.SnapshotTable
    import graft.kg.{Pipeline, Extract, Link, Materialize, DataGen, Model}
    val tmp = java.nio.file.Files.createTempDirectory("streaminc").toString
    val inDir = s"$tmp/in"; val docsDir = s"$tmp/docs"
    val graphDir = s"$tmp/graph"; val cp = s"$tmp/cp"
    val docs = DataGen.corpus(spark, 90, 3).toDF()
    docs.write.mode("overwrite").parquet(inDir)
    val cachedBefore = spark.sparkContext.getPersistentRDDs.keySet
    val q = spark.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", "1").parquet(inDir)
      .writeStream
      .option("checkpointLocation", cp)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
        SnapshotTable.write(batch, docsDir, mode = "append",
          idempotencyKey = s"docs-batch-$id")
        Pipeline.incrementalFromTable(spark, docsDir, graphDir): Unit
      }
      .start()
    q.awaitTermination()
    // each increment releases every table it persisted
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- cachedBefore
    assert(leaked.isEmpty, s"increments left cached RDDs: $leaked")
    val got = SnapshotTable.read(spark, graphDir).as[Model.Triple].collect().toSet
    val records = Extract.records(docs)
    val matched = Link.matchTaxa(records, DataGen.wdSparql(spark),
      DataGen.wdLineage(spark))
    val (dictId, dictName) = Materialize.wdMapDicts(matched)
    val mm = Extract.mediaMentions(records, DataGen.mediaMeta(spark))
    val want = Materialize.globiTriplesFused(records, dictId, dictName, Some(mm))
      .as[Model.Triple].collect().toSet
    assert(got == want, s"missing=${(want -- got).size} extra=${(got -- want).size}")
    // exactly one graph snapshot per docs snapshot, keyed to it
    val graphHist = SnapshotTable.history(graphDir)
    assert(graphHist.nonEmpty)
    assert(SnapshotTable.committedKey(graphDir, graphHist.last.id)
      .exists(_.startsWith("docs-snap-")))
  }

  test("multimodal: feature extraction, resize, frame sampling") {
    val media = Multimodal.mediaBinary(spark, 60, 4)
    val feats = Multimodal.extractFeatures(media).collect()
    assert(feats.length == 60)
    assert(feats.forall(f => math.abs(f.features.sum - 1.0f) < 1e-3))
    // determinism across partitionings
    val feats1 = Multimodal.extractFeatures(Multimodal.mediaBinary(spark, 60, 1))
      .collect().map(f => f.media_ref -> f.features.toSeq).toMap
    assert(feats.forall(f => feats1(f.media_ref) == f.features.toSeq))
    val resized = Multimodal.resizeStub(media, 2).collect()
    assert(resized.forall(m => m.payload.length >= 256))
    val frames = Multimodal.frameSample(media, frameSize = 128, everyK = 2)
    assert(frames.count() > 0)
    // features flow into the similarity ops
    val ft = Multimodal.featureTable(media)
    val pairs = graft.ops.Similarity.blockedPairs(ft.withColumn("cell", col("kind")),
      "media_ref", "embedding", "cell", threshold = 0.99)
    assert(pairs.count() >= 0)
  }
}
