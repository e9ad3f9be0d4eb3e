package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.kg._

/** Golden end-to-end: the distributed engine's triple set must equal the
  * single-threaded oracle's (P/R = 1.0 on the deterministic corpus), the
  * span-sequence invariant must hold per row, and the triple set must be
  * invariant to input partitioning (SURVEY §5.2).
  */
class KgPipelineSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  val N = 240

  /** Distributed matcher, aggregate dictionaries and the emission's
    * relational resolution arm (guards forced to 0): no driver-side
    * dictionary anywhere.
    */
  def engineTriples(partitions: Int): Set[Model.Triple] = {
    val docs = DataGen.corpus(spark, N, partitions).toDF()
    val records = Extract.records(docs)
    val matched = Link.matchTaxa(records, DataGen.wdSparql(spark),
      DataGen.wdLineage(spark))
    val (dictId, dictName) = Materialize.wdMapDicts(matched, maxDriverRows = 0)
    val mm = Extract.mediaMentions(records, DataGen.mediaMeta(spark))
    Materialize.globiTriplesFused(records, dictId, dictName, Some(mm),
      maxDriverRows = 0)
      .as[Model.Triple].collect().toSet
  }

  lazy val oracleSet: Set[Model.Triple] = Oracle.runCorpus(N)
  lazy val engineSet: Set[Model.Triple] = engineTriples(4)

  test("span-sequence invariant (kind, text, media_ref, order)") {
    val violations = Extract.spanInvariantViolations(DataGen.corpus(spark, N, 4))
    assert(violations.count() == 0)
  }

  test("engine triples == oracle triples (P/R = 1.0)") {
    val missing = oracleSet -- engineSet // recall gaps
    val extra = engineSet -- oracleSet // precision gaps
    val show = (s: Set[Model.Triple]) => s.take(5).mkString("\n  ", "\n  ", "")
    assert(missing.isEmpty && extra.isEmpty,
      s"\nmissing=${missing.size}${show(missing)}\nextra=${extra.size}${show(extra)}" +
        s"\noracle=${oracleSet.size} engine=${engineSet.size}")
  }

  test("triple set is partition-count invariant") {
    assert(engineTriples(1) == engineSet)
  }

  test("fused broadcast-map emission equals join-based emission") {
    val docs = DataGen.corpus(spark, N, 4).toDF()
    val records = Extract.records(docs)
    val matched = Link.matchTaxa(records, DataGen.wdSparql(spark),
      DataGen.wdLineage(spark))
    val (dictId, dictName) = Materialize.wdMapDicts(matched)
    val mm = Extract.mediaMentions(records, DataGen.mediaMeta(spark))
    val fused = Materialize.globiTriplesFused(records, dictId, dictName, Some(mm))
      .as[Model.Triple].collect().toSet
    assert(fused == engineSet)
  }

  test("compact (driver-local) matcher path equals the distributed path") {
    val docs = DataGen.corpus(spark, N, 4).toDF()
    val records = Extract.records(docs)
    // the shipped calls end to end: broadcast matcher arm, map arm
    val matched = Link.matchTaxaAdaptive(records, DataGen.wdSparqlRows,
      DataGen.lineageRows)
    val (dictId, dictName) = Materialize.wdMapDicts(matched)
    val mm = Extract.mediaMentions(records, DataGen.mediaMeta(spark))
    val compact = Materialize.globiTriplesFused(records, dictId, dictName, Some(mm))
      .as[Model.Triple].collect().toSet
    assert(compact == engineSet)
    // and the matched rows themselves agree with the distributed matcher
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("TaxonId", "TaxonName", "Mapped_Value", "Mapped_ID_WD",
        "Match_Status", "rowIdx").collect().map(_.toSeq).toSet
    val local = rows(matched)
    val distributed = rows(Link.matchTaxa(records, DataGen.wdSparql(spark),
      DataGen.wdLineage(spark)))
    assert(local == distributed,
      s"only-local=${(local -- distributed).take(3)} " +
        s"only-dist=${(distributed -- local).take(3)}")
  }

  test("adaptive matcher: forced-distributed equals compact") {
    val records = Extract.records(DataGen.corpus(spark, N, 4).toDF())
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("TaxonId", "TaxonName", "Mapped_Value", "Mapped_ID_WD",
        "Match_Status", "rowIdx").collect().map(_.toSeq).toSet
    val compact = rows(Link.matchTaxaAdaptive(records, DataGen.wdSparqlRows,
      DataGen.lineageRows)) // default guard → broadcast-index path
    val distributed = rows(Link.matchTaxaAdaptive(records, DataGen.wdSparqlRows,
      DataGen.lineageRows, maxDriverRows = 0)) // force distributed
    assert(compact == distributed,
      s"only-compact=${(compact -- distributed).take(3)} " +
        s"only-dist=${(distributed -- compact).take(3)}")
  }

  test("matcher covers the status lattice") {
    val records = Extract.records(DataGen.corpus(spark, N, 4).toDF())
    val matched = Link.matchTaxa(records, DataGen.wdSparql(spark),
      DataGen.wdLineage(spark))
    val statuses = matched.select("Match_Status").distinct()
      .as[String].collect().toSet
    assert(statuses.contains("NAME-MATCH-YES"))
    assert(statuses.contains("ID-MATCHED-BY-NAME-direct"))
    assert(statuses.contains("ID-MATCHED-BY-NAME-DUPL-duplicate"))
  }

  test("table build equals the oracle when document ids have a gap") {
    // target mentions must order after every source mention whatever the
    // record numbers are: an ordinal base of count(docs) interleaves the
    // two sides once the ids are not exactly 0..count-1, and pandas'
    // last-wins dictionaries then pick different winners
    val ids = (0L until 200L) ++ (3000L until 3150L)
    val root = java.nio.file.Files.createTempDirectory("kggap").toString
    graft.sources.SnapshotTable.write(
      spark.createDataset(ids.map(DataGen.document)).toDF(), s"$root/docs")
    Pipeline.runFromTable(spark, s"$root/docs", s"$root/out", s"$root/graph")
    val engine = spark.read.parquet(s"$root/out/30_triples/data")
      .as[Model.Triple].collect().toSet
    val oracle = Oracle.runDocs(ids)
    val show = (s: Set[Model.Triple]) => s.take(3).mkString("\n  ", "\n  ", "")
    assert(engine == oracle,
      s"\nmissing=${(oracle -- engine).size}${show(oracle -- engine)}" +
        s"\nextra=${(engine -- oracle).size}${show(engine -- oracle)}")
  }

  test("a table build leaves no persisted table behind") {
    val root = java.nio.file.Files.createTempDirectory("kgcache").toString
    graft.sources.SnapshotTable.write(DataGen.corpus(spark, 80, 4).toDF(),
      s"$root/docs")
    val cachedBefore = spark.sparkContext.getPersistentRDDs.keySet
    Pipeline.runFromTable(spark, s"$root/docs", s"$root/out", s"$root/graph")
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- cachedBefore
    assert(leaked.isEmpty, s"the build left cached RDDs: $leaked")
  }

  /** Parquet part files of a stage's data dir. */
  def partFiles(out: String, stage: String): Seq[java.nio.file.Path] = {
    import scala.jdk.CollectionConverters._
    val walk = java.nio.file.Files.walk(java.nio.file.Paths.get(out, stage, "data"))
    try walk.iterator().asScala.filter { p =>
      val n = p.getFileName.toString
      n.endsWith(".parquet") && !n.startsWith(".") && !n.startsWith("_")
    }.toList
    finally walk.close()
  }

  def manifest(out: String, stage: String): String =
    java.nio.file.Files.readString(
      java.nio.file.Paths.get(out, stage, "_MANIFEST.json"))

  test("pipeline resume skips completed stages idempotently") {
    val out = java.nio.file.Files.createTempDirectory("kgrun").toString
    val r1 = Pipeline.run(spark, 60, out)
    assert(r1.stages.forall(!_.skipped))
    assert(r1.triples > 0)
    // lineage metrics are write-side: one footer count per part file,
    // summing to the stage's parquet rows
    r1.stages.foreach { s =>
      val counts = "\"partition_rows\":\\[([0-9,]*)\\]".r
        .findFirstMatchIn(manifest(out, s.name)).get.group(1)
        .split(",").filter(_.nonEmpty).map(_.toLong).toSeq
      val rows = spark.read.parquet(s"$out/${s.name}/data").count()
      assert(counts.length == partFiles(out, s.name).size, s.name)
      assert(counts.sum == rows && s.rows == rows && s.partitions == counts.length,
        s"${s.name}: $counts vs $rows rows, $s")
    }
    val r2 = Pipeline.run(spark, 60, out)
    assert(r2.stages.forall(_.skipped), s"expected all skipped: ${r2.stages}")
    assert(r2.triples == r1.triples)
    assert(r2.canonicalTriples == r1.canonicalTriples)
    assert(r2.stages.map(_.rows) == r1.stages.map(_.rows) &&
      r2.stages.forall(_.rows >= 0), r2.stages)
    // the resumed run found the corpus snapshot by its key
    import graft.sources.SnapshotTable
    assert(SnapshotTable.history(s"$out/docs").size == 1,
      SnapshotTable.history(s"$out/docs"))
    // the graph table is the canonical stage's output
    val cols = Seq("subj", "pred", "obj", "objIsLiteral", "objDatatype")
    def triples(df: org.apache.spark.sql.DataFrame) =
      df.select(cols.map(col): _*).collect().toSet
    val graph = triples(SnapshotTable.read(spark, s"$out/50_graph"))
    assert(graph.nonEmpty && graph.size == r2.canonicalTriples)
    assert(graph == triples(spark.read.parquet(s"$out/40_canonical/data")))
  }

  test("a manifest torn after its fingerprint makes the stage recompute") {
    val out = java.nio.file.Files.createTempDirectory("kgtorn").toString
    val r1 = Pipeline.run(spark, 40, out)
    val path = java.nio.file.Paths.get(out, "40_canonical", "_MANIFEST.json")
    val json = manifest(out, "40_canonical")
    java.nio.file.Files.writeString(path, json.substring(0, json.indexOf("\"rows\"")))
    val r2 = Pipeline.run(spark, 40, out)
    assert(r2.stages.map(s => s.name -> s.skipped) == r1.stages.map(s =>
      s.name -> (s.name != "40_canonical")), r2.stages)
    assert(r2.canonicalTriples == r1.canonicalTriples)
    assert(manifest(out, "40_canonical").endsWith("}"))
    // the manifest lands by rename: no temp file stays behind
    val left = java.nio.file.Files.list(path.getParent)
    try assert(!left.anyMatch(_.toString.endsWith(".tmp"))) finally left.close()
  }

  test("a finished build is a no-op: one graph snapshot, no Spark job") {
    import graft.sources.SnapshotTable
    val out = java.nio.file.Files.createTempDirectory("kgnoop").toString
    val r1 = Pipeline.run(spark, 60, out)
    val (r2, jobs) = graft.tools.Profile.recordJobs(spark)(Pipeline.run(spark, 60, out))
    assert(jobs.isEmpty, s"a finished build ran jobs: $jobs")
    assert(r2.stages.forall(_.skipped) && r2.canonicalTriples == r1.canonicalTriples)
    assert(SnapshotTable.history(s"$out/50_graph").map(_.id) == Seq(1L))
    // a build of another input still publishes over the head, and
    // building the first input again publishes its graph once more
    Pipeline.run(spark, 40, out)
    val r3 = Pipeline.run(spark, 60, out)
    assert(SnapshotTable.history(s"$out/50_graph").map(_.id) == Seq(1L, 2L, 3L))
    assert(SnapshotTable.read(spark, s"$out/50_graph").count() == r3.canonicalTriples &&
      r3.canonicalTriples == r1.canonicalTriples)
    // a stage manifest written before the schema field falls back to
    // schema inference: one job, the stage still skipped
    val path = java.nio.file.Paths.get(out, "10_extract", "_MANIFEST.json")
    val json = manifest(out, "10_extract")
    java.nio.file.Files.writeString(path, json.substring(0, json.indexOf(",\"schema\"")) + "}")
    val (r4, inferred) = graft.tools.Profile.recordJobs(spark)(Pipeline.run(spark, 60, out))
    assert(r4.stages.forall(_.skipped) && inferred.map(_.label) == Seq("10_extract"), inferred)
  }

  test("a cold table build schedules no dimension-sized job") {
    // the job count of a build over a fixed 4-partition corpus: the
    // snapshot manifests are read and written on the driver, and the
    // matcher output is fetched once for the dictionaries and the
    // equivalence mapping
    val root = java.nio.file.Files.createTempDirectory("kgjobs").toString
    graft.sources.SnapshotTable.write(DataGen.corpus(spark, 120, 4).toDF(),
      s"$root/docs")
    val (_, jobs) = graft.tools.Profile.recordJobs(spark) {
      Pipeline.runFromTable(spark, s"$root/docs", s"$root/out", s"$root/graph")
    }
    assert(jobs.size <= MaxBuildJobs, jobs.mkString("\n", "\n", ""))
  }

  /** The cold table build's job budget: 15 (the build before the
    * driver manifests and the shared matcher fetch ran 23 over this
    * corpus).
    */
  val MaxBuildJobs = 15
}
