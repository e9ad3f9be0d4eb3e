package perfbench

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import graft.SparkEntry
import graft.kg._
import graft.queries.{CaseStudyQueries, KgQueries, Materialized}
import graft.sources.SnapshotTable

/** One benchmark JVM. perfbench/run.py launches it with the workload's
  * generated-input sizes and a work directory, reads `result.json` and
  * `spans.json` from that directory after the JVM prints
  * [[DoneMarker]], reads the JVM's memory high-water mark, and closes
  * the JVM's stdin to let it exit.
  *
  * Modes: `build_full`, `graph_queries`, and
  * `scaling_level` (one more parallelism level of `build_full` over an
  * existing docs table, in a JVM of its own).
  */
object Main {
  val DoneMarker = "PERFBENCH-DONE"

  final case class Args(kv: Map[String, String]) {
    def apply(k: String): String =
      kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    def int(k: String): Int = apply(k).toInt
    def long(k: String): Long = apply(k).toLong
    def mode: String = apply("mode")
    def work: String = apply("work")
    def seed: Long = long("seed")
    def seconds: Double = apply("seconds").toDouble
    def traced: Boolean = apply("trace") == "1"
    def cores: Int = int("cores")
  }

  def parse(argv: Array[String]): Args =
    Args(argv.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.stripPrefix("--") -> v
      case other => throw new IllegalArgumentException(
        s"bad argument ${other.mkString(" ")}")
    }.toMap)

  def session(a: Args): SparkSession = {
    val s = SparkSession.builder()
      .appName(s"perfbench-${a.mode}")
      .master(s"local[${a.cores}]")
      .config("spark.sql.shuffle.partitions", (a.cores * 4).toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", s"${a.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a.work}/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val spark = session(a)
    val trace = new Trace(spark.sparkContext, a.traced)
    val tally = new Tally
    val fields = a.mode match {
      case "build_full" => Workloads.buildFull(spark, trace, tally, a)
      case "scaling_level" => Workloads.scalingLevel(spark, tally, a)
      case "graph_queries" => Workloads.graphQueries(spark, trace, tally, a)
      case m => throw new IllegalArgumentException(s"unknown mode $m")
    }
    trace.writeJson(s"${a.work}/spans.json")
    Json.write(s"${a.work}/result.json", Json.Obj(fields ++ Seq(
      "attempted" -> tally.attempted, "failed" -> tally.failed,
      "checks" -> tally.checks.toSeq.map { case (k, v) => Json.obj("name" -> k, "ok" -> v) })))
    spark.stop()
    println(DoneMarker)
    System.out.flush()
    // hold the process until the harness has read its memory high-water mark
    while (System.in.read() >= 0) {}
  }
}

/** Counts attempted and failed operations and output checks. */
final class Tally {
  var attempted = 0
  var failed = 0
  val checks = mutable.LinkedHashMap[String, Boolean]()

  def op[T](what: String)(body: => T): Option[T] = {
    attempted += 1
    try Some(body)
    catch {
      case e: Exception =>
        failed += 1
        System.err.println(s"[perfbench] $what failed: $e")
        e.printStackTrace()
        None
    }
  }

  def check(name: String)(ok: => Boolean): Unit = {
    attempted += 1
    val r = try ok catch {
      case e: Exception =>
        System.err.println(s"[perfbench] check $name threw: $e")
        e.printStackTrace()
        false
    }
    if (!r) {
      failed += 1
      System.err.println(s"[perfbench] check $name FAILED")
    }
    checks(name) = checks.getOrElse(name, true) && r
  }
}

object Checks {
  val TripleCols: Seq[String] = Seq("subj", "pred", "obj", "objIsLiteral", "objDatatype")

  /** Order-independent multiset hash of a table: its row count and the
    * exact (decimal) sum of per-row xxhash64 over `cols`.
    */
  def tableHash(df: DataFrame, cols: Seq[String] = TripleCols): String = {
    val r = df.select(xxhash64(cols.map(col): _*).cast("decimal(38,0)").as("h"))
      .agg(count(lit(1)), sum(col("h"))).head()
    val s = if (r.isNullAt(1)) "0" else r.getDecimal(1).toPlainString
    s"${r.getLong(0)}:$s"
  }

  /** Order-independent hash of collected rows. */
  def rowsHash(rows: Array[Row]): Int =
    scala.util.hashing.MurmurHash3.unorderedHash(rows.toSeq.map(_.toString))
}

object Workloads {
  import Checks._
  import Main.Args

  private def now(): Double = System.nanoTime() / 1e9

  private def timed[T](body: => T): (T, Double) = {
    val t0 = now()
    val r = body
    (r, now() - t0)
  }

  /** Parquet data files of a snapshot table directory: every file under
    * its `data/` tree, of any snapshot, current or not.
    */
  def dataFiles(dir: String): Seq[Path] = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) Nil
    else {
      val walk = Files.walk(p)
      try walk.iterator().asScala.filter { f =>
        Files.isRegularFile(f) && f.getFileName.toString.endsWith(".parquet") &&
          p.relativize(f).iterator().asScala.exists(_.toString == "data")
      }.toList
      finally walk.close()
    }
  }

  def dataBytes(dir: String): Long = dataFiles(dir).map(Files.size).sum

  /** Documents [start, start + n) of the deterministic corpus; the seed
    * picks `start`.
    */
  def docsWindow(spark: SparkSession, start: Long, n: Long): DataFrame = {
    import spark.implicits._
    spark.range(start, start + n, 1, 8).map(DataGen.document(_)).toDF()
  }

  def windowStart(seed: Long, n: Long): Long = (math.abs(seed) % 1000) * n

  // ---- build_full ------------------------------------------------------

  /** `Pipeline.runFromTable`, restated through its public parts with a
    * span around each call, so the traced run attributes time and jobs
    * per stage. The untraced run calls `runFromTable` itself; a check
    * pins the two to the same graph.
    */
  def tracedBuild(spark: SparkSession, trace: Trace, layer: String,
      docsDir: String, outRoot: String, graphDir: String): Pipeline.RunReport =
    trace.span(s"$layer.build") {
      val snap = SnapshotTable.currentSnapshot(docsDir)
      val (docs, nDocs) = trace.span(s"$layer.00_read") {
        val d = SnapshotTable.read(spark, docsDir, Some(snap))
        (d, d.count())
      }
      val fp = s"table:$docsDir@$snap:docs:$nDocs:v1"
      def stage(name: String)(compute: => DataFrame) =
        trace.span(s"$layer.$name")(Pipeline.stage(spark, outRoot, name, fp)(compute))
      val (records, s1) = stage("10_extract")(Extract.records(docs))
      val (matched, s2) = stage("20_link") {
        Link.matchTaxaAdaptive(records, DataGen.wdSparqlRows, DataGen.lineageRows, nDocs)
      }
      val (triples, s3) = stage("30_triples") {
        val (dictId, dictName) = Materialize.wdMapDicts(matched)
        val mm = Extract.mediaMentions(records, DataGen.mediaMeta(spark))
        Materialize.globiTriplesFused(records, dictId, dictName, Some(mm))
      }
      val (canonical, s4) = stage("40_canonical") {
        val mapping = Canonical.connectedComponents(Canonical.equivalenceEdges(matched))
        Canonical.canonicalizeTriples(triples, mapping)
      }
      trace.span(s"$layer.graph_write") {
        SnapshotTable.write(
          canonical
            .withColumn("predicate", regexp_replace(col("pred"), "[^A-Za-z0-9]+", "_"))
            .repartitionByRange(32, col("predicate"), col("subj"))
            .sortWithinPartitions(col("predicate"), col("subj")),
          graphDir, mode = "overwrite", partitionBy = Seq("predicate"))
      }
      val (nTriples, nCanonical) = trace.span(s"$layer.90_counts") {
        (triples.count(), canonical.count())
      }
      Pipeline.RunReport(Seq(s1, s2, s3, s4), nTriples, nCanonical)
    }

  /** Mirrors the reference tables `Oracle.runCorpus` builds, for any
    * record window.
    */
  def oracleTriples(records: Seq[Model.VerbatimRecord]): Set[Model.Triple] = {
    val wdRows = (0 until DataGen.K).filter(DataGen.inWdMapping).map { k =>
      val ext = (1 to 15).map(c => if ((k + c) % 3 == 0) null else s"${k * 100 + c}")
      (s"http://www.wikidata.org/entity/${DataGen.qid(k)}" +: ext :+
        DataGen.taxonName(k)).toSeq
    }
    val lineageRows = (0 until DataGen.K).map { k =>
      val l = DataGen.lineage(k)
      Seq(s"http://www.wikidata.org/entity/${DataGen.qid(k)}", DataGen.taxonName(k),
        l.kingdom, l.phylum, l.clazz, l.order, l.family, l.genus, l.species)
    }
    val media = (0 until 24).map { m =>
      s"MEDIA-$m" -> (DataGen.qid((m * 3) % DataGen.K),
        s"Image $m of ${DataGen.taxonName((m * 3) % DataGen.K)}")
    }.toMap
    Oracle.run(records, wdRows, lineageRows, media)
  }

  /** Raw triples of a build (its `30_triples` stage) must equal the
    * driver-side oracle over the same documents exactly.
    */
  def oracleCheck(spark: SparkSession, tally: Tally, outRoot: String,
      start: Long, n: Long): Unit = {
    import spark.implicits._
    tally.check("raw_triples_equal_oracle") {
      val engine = spark.read.parquet(s"$outRoot/30_triples/data")
        .select(TripleCols.map(col): _*).as[Model.Triple].collect()
      val oracle = oracleTriples((start until start + n).map(DataGen.record))
      engine.nonEmpty && engine.length == engine.toSet.size && engine.toSet == oracle
    }
  }

  def graphHash(spark: SparkSession, graphDir: String): String =
    tableHash(SnapshotTable.read(spark, graphDir))

  def buildFull(spark: SparkSession, trace: Trace, tally: Tally, a: Args)
      : Seq[(String, Any)] = {
    val w = a.work
    val n = a.long("docs")
    val start = windowStart(a.seed, n)
    val setups = (0 until a.int("setups")).map { k =>
      timed(SnapshotTable.write(docsWindow(spark, start, n), s"$w/docs_$k"))._2
    }
    val docsDir = s"$w/docs_${setups.size - 1}"

    val hashes = mutable.LinkedHashSet[String]()
    val skipped = mutable.ArrayBuffer[Int]()
    var canonical = -1L
    def build(i: Int, viaTrace: Boolean): Option[Double] = {
      val (outRoot, graphDir) = (s"$w/out_$i", s"$w/graph_$i")
      tally.op(s"build $i") {
        timed {
          if (viaTrace) tracedBuild(spark, trace, "pipeline", docsDir, outRoot, graphDir)
          else Pipeline.runFromTable(spark, docsDir, outRoot, graphDir)._1
        }
      }.map { case (report, secs) =>
        canonical = report.canonicalTriples
        hashes += graphHash(spark, graphDir)
        secs
      }
    }
    // crash after link: the triples and canonical manifests are lost
    def resumeAfterLink(i: Int, viaTrace: Boolean): Option[Double] = {
      val (outRoot, graphDir) = (s"$w/out_$i", s"$w/graph_$i")
      Seq("30_triples", "40_canonical").foreach { s =>
        Files.deleteIfExists(Paths.get(outRoot, s, "_MANIFEST.json"))
      }
      tally.op(s"resume $i") {
        timed {
          if (viaTrace) tracedBuild(spark, trace, "resume", docsDir, outRoot, graphDir)
          else Pipeline.runFromTable(spark, docsDir, outRoot, graphDir)._1
        }
      }.map { case (report, secs) =>
        skipped += report.stages.count(_.skipped)
        hashes += graphHash(spark, graphDir)
        secs
      }
    }

    // The first build of a fresh JVM is the measured one: spark-submit
    // runs every build that way.
    val t0 = now()
    val cold = build(0, viaTrace = false)
    oracleCheck(spark, tally, s"$w/out_0", start, n)
    val builds = mutable.ArrayBuffer[Double]()
    val tracedBuilds = mutable.ArrayBuffer[Double]()
    val resumes = mutable.ArrayBuffer[Double]()
    if (!a.traced) {
      resumes ++= resumeAfterLink(0, viaTrace = false)
      var i = 1
      while (now() - t0 < a.seconds) { builds ++= build(i, viaTrace = false); i += 1 }
    } else {
      // a warm untraced build next to a warm traced one gives the
      // tracing overhead; the traced build is then resumed under trace
      builds ++= build(1, viaTrace = false)
      tracedBuilds ++= build(2, viaTrace = true)
      resumes ++= resumeAfterLink(2, viaTrace = true)
    }
    tally.check("canonical_hash_stable_across_builds_and_resume")(hashes.size == 1)
    Seq("setup_s" -> setups, "cold_build_s" -> cold, "build_s" -> builds.toSeq,
      "traced_build_s" -> tracedBuilds.toSeq, "resume_s" -> resumes.toSeq,
      "resume_skipped_stages" -> skipped.toSeq, "canonical_triples" -> canonical,
      "graph_hash" -> hashes.headOption.getOrElse(""), "docs_table" -> docsDir,
      "units" -> Json.obj("pipeline" -> tracedBuilds.size, "resume" -> resumes.size))
  }

  /** One more parallelism level over the docs table `build_full` wrote:
    * the first build of a fresh JVM, like the cold build it is compared to.
    */
  def scalingLevel(spark: SparkSession, tally: Tally, a: Args): Seq[(String, Any)] = {
    val (outRoot, graphDir) = (s"${a.work}/out", s"${a.work}/graph")
    tally.op("build") {
      timed(Pipeline.runFromTable(spark, a("docs_table"), outRoot, graphDir)._1)
    }.toSeq.flatMap { case (r, secs) =>
      Seq("cold_build_s" -> secs, "canonical_triples" -> r.canonicalTriples,
        "graph_hash" -> graphHash(spark, graphDir))
    }
  }

  // ---- incremental ingest (traced graph_queries runs) ---------------------

  private val IncrementIds = 900000000L

  /** A base table with its initial canonical build, then a few small
    * appends, each followed by incremental canonical maintenance.
    */
  def ingestPhase(spark: SparkSession, trace: Trace, tally: Tally, a: Args)
      : Seq[(String, Any)] = {
    import spark.implicits._
    val w = s"${a.work}/ingest"
    val base = a.long("ingest_docs")
    val start = windowStart(a.seed, base)
    val (docsDir, rawDir, canonDir) = (s"$w/docs", s"$w/raw", s"$w/canonical")
    SnapshotTable.write(docsWindow(spark, start, base), docsDir)
    tally.op("initial incremental build") {
      Pipeline.incrementalCanonicalFromTable(spark, docsDir, rawDir, canonDir)
    }
    val rnd = new scala.util.Random(a.seed)
    val delta = a.int("ingest_delta")
    val increments = mutable.ArrayBuffer[Double]()
    val modes = mutable.ArrayBuffer[String]()
    var deltaBytes = 0L
    for (i <- 0 until a.int("ingest_ops")) {
      // base records re-rendered under new doc ids: the taxa dimension is
      // already saturated, the production steady state (the record number
      // is parsed from the DOC-<n> id, so new ids continue past every
      // seed's window)
      val docs = (0 until delta).map { k =>
        val r = DataGen.record(start + rnd.nextInt(base.toInt))
        Model.Document(f"DOC-${IncrementIds + i.toLong * delta + k}%09d",
          DataGen.renderSpans(r))
      }
      val deltaDf = spark.createDataset(docs).toDF()
      val before = dataBytes(docsDir)
      tally.op(s"increment $i") {
        timed {
          trace.span("ingest.append")(SnapshotTable.write(deltaDf, docsDir, mode = "append"))
          trace.span("ingest.maintain") {
            Pipeline.incrementalCanonicalFromTable(spark, docsDir, rawDir, canonDir)
          }
        }
      }.foreach { case (r, secs) =>
        increments += secs
        modes += r.mode
      }
      deltaBytes += dataBytes(docsDir) - before
    }
    // exactness: the maintained canonical table equals a full rebuild
    val canonHash = tableHash(SnapshotTable.read(spark, canonDir))
    tally.check("incremental_equals_full_rebuild") {
      Pipeline.runFromTable(spark, docsDir, s"$w/check/out", s"$w/check/graph")
      canonHash == graphHash(spark, s"$w/check/graph")
    }
    val canonical = SnapshotTable.read(spark, canonDir).count()
    val tables = Seq(rawDir, canonDir, s"$rawDir-state", s"$canonDir-state")
    Seq("increment_s" -> increments.toSeq, "increment_modes" -> modes.toSeq,
      "ingest_delta_bytes" -> deltaBytes, "ingest_canonical_triples" -> canonical,
      "ingest_table_files" -> tables.map(dataFiles(_).size).sum,
      "ingest_canonical_bytes" -> dataBytes(canonDir))
  }

  // ---- graph_queries ---------------------------------------------------

  def family(q: String): String = {
    val iterative = Seq("pagerank", "ppr", "cc_components", "hyperball", "harmonic",
      "closeness", "betweenness", "sssp", "communities", "kcore", "bfs")
    val neighbor = Seq("jaccard", "adamic", "wedge", "assortativity", "lcc", "triangles")
    if (q.startsWith("kg_bgp_") || q.startsWith("kg_sparql_") ||
        q.contains("closure") || q.contains("shacl")) "bgp"
    else if (iterative.exists(q.contains)) "iterative"
    else if (neighbor.exists(q.contains)) "neighbor"
    else "scan"
  }

  /** The side-channel directory is a constant of the program; point it at
    * this run's work directory so every write stays inside it. Returns
    * the previous value.
    */
  def redirectSideDir(dir: String): String = {
    // a Scala object's val is a static final field; only Unsafe writes one.
    // Done before any query code runs, so no compiled code has folded it.
    val field = Materialized.getClass.getDeclaredField("SideDir")
    val uf = classOf[sun.misc.Unsafe].getDeclaredField("theUnsafe")
    uf.setAccessible(true)
    val unsafe = uf.get(null).asInstanceOf[sun.misc.Unsafe]
    val base = unsafe.staticFieldBase(field)
    val offset = unsafe.staticFieldOffset(field)
    val old = unsafe.getObject(base, offset).asInstanceOf[String]
    unsafe.putObject(base, offset, dir)
    require(Materialized.SideDir == dir, "side-channel directory not redirected")
    old
  }

  /** The tables the kg_* queries and their oracles read from the data
    * directory: `documents` (mention queries) and `orders` (whose row
    * count fixes the corpus size, 3 rows per document).
    */
  def writeQueryData(spark: SparkSession, dir: String, seed: Long, nDocs: Long): Unit = {
    import spark.implicits._
    val words = KgQueries.vocab.map(_._1) ++ Seq("the", "of", "graph", "data", "and")
    val rnd = new scala.util.Random(seed)
    val docs = (0 until 2000).map { i =>
      val text = Seq.fill(6 + rnd.nextInt(10))(words(rnd.nextInt(words.size))).mkString(" ")
      (i.toLong, text, if (i % 3 == 0) "de" else "en", s"src${i % 7}", text.length.toLong)
    }
    docs.toDF("doc_id", "text", "lang", "source", "n_chars").coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    spark.range(0, nDocs * 3, 1, 1).select(
      col("id").as("o_orderkey"), (col("id") % 97).as("o_custkey"),
      lit("O").as("o_orderstatus"), (col("id") % 1000).cast("double").as("o_totalprice"),
      lit(java.sql.Timestamp.valueOf("2020-01-01 00:00:00")).as("o_orderdate"),
      lit("1-URGENT").as("o_orderpriority"))
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
  }

  def graphQueries(spark: SparkSession, trace: Trace, tally: Tally, a: Args)
      : Seq[(String, Any)] = {
    val w = a.work
    val oldSide = redirectSideDir(s"$w/side")
    val sf = a("sf")
    // the data directory name carries the scale the queries size the corpus by
    val dirs = (0 until a.int("setups")).map(k => s"$w/data/s$k/sf$sf")
    dirs.foreach(d => writeQueryData(spark, d, a.seed, KgQueries.nDocsFor(d)))
    val setups = dirs.map { d =>
      timed {
        trace.span("materialized.globi")(Materialized.globiTable(spark, d))
        trace.span("materialized.trydb")(Materialized.trydbTable(spark, d))
        trace.span("materialized.casestudy")(CaseStudyQueries.materializeShared(spark, d))
      }._2
    }
    val dir = dirs.last
    val names = a("queries").split(",").toSeq.sorted
    require(names.forall(SparkEntry.queries.contains), s"unknown query in $names")
    val oracle = SparkEntry.oracleSql
    Json.write(s"$w/oracle_sql.json", Json.Obj(names.flatMap { q =>
      oracle.get(q).map(sql => q -> sql.replace(oldSide, Materialized.SideDir))
    }))
    val firstHash = mutable.Map[String, Int]()
    val latencies = mutable.ArrayBuffer[Json.Obj]()
    val passes = mutable.ArrayBuffer[Double]()
    val t0 = now()
    var pass = 0
    while (pass < a.int("min_ops") || now() - t0 < a.seconds) {
      val order = new scala.util.Random(a.seed * 1000 + pass).shuffle(names)
      var passSecs = 0.0
      for (q <- order) {
        tally.op(s"query $q") {
          timed {
            trace.span(s"queries.${family(q)}") {
              val df = SparkEntry.queries(q)(spark, dir)
              val rows = df.collect()
              trace.addRows(rows.length)
              (df.schema, rows)
            }
          }
        }.foreach { case ((schema, rows), secs) =>
          passSecs += secs
          latencies += Json.obj("query" -> q, "pass" -> pass, "s" -> secs)
          val h = rowsHash(rows)
          firstHash.get(q) match {
            case None =>
              firstHash(q) = h
              // the first result of each query goes to the oracle check
              spark.createDataFrame(rows.toList.asJava, schema).coalesce(1)
                .write.mode("overwrite").parquet(s"$w/outputs/$q")
            case Some(h0) => tally.check(s"stable_result_$q")(h == h0)
          }
        }
      }
      passes += passSecs
      pass += 1
    }
    // the ingest layers are measured in the traced run only, here where
    // the run has room for them
    val ingest = if (a.traced) ingestPhase(spark, trace, tally, a) else Nil
    ingest ++ Seq("setup_s" -> setups, "query_s" -> latencies.toSeq,
      "pass_s" -> passes.toSeq, "data_dir" -> dir,
      "units" -> Json.obj("materialized" -> setups.size, "queries" -> passes.size,
        "ingest" -> (if (a.traced) a.int("ingest_ops") else 0)))
  }
}
