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

  /** Distributed matcher + the emission's relational resolution arm
    * (guard forced to 0): no driver-side dictionary anywhere.
    */
  def engineTriples(partitions: Int): Set[Model.Triple] = {
    val docs = DataGen.corpus(spark, N, partitions).toDF()
    val records = Extract.records(docs)
    val matched = Link.matchTaxa(records, DataGen.wdSparql(spark),
      DataGen.wdLineage(spark))
    val (dictId, dictName) = Materialize.wdMapDicts(matched)
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
    // the shipped calls end to end: driver-local matcher arm, map arm
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
      DataGen.lineageRows)) // default guard → driver-local path
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
    Pipeline.runFromTable(spark, s"$root/docs", s"$root/out", s"$root/graph",
      partitions = 4)
    val engine = spark.read.parquet(s"$root/out/30_triples/data")
      .as[Model.Triple].collect().toSet
    val oracle = Oracle.runDocs(ids)
    val show = (s: Set[Model.Triple]) => s.take(3).mkString("\n  ", "\n  ", "")
    assert(engine == oracle,
      s"\nmissing=${(oracle -- engine).size}${show(oracle -- engine)}" +
        s"\nextra=${(engine -- oracle).size}${show(engine -- oracle)}")
  }

  test("pipeline resume skips completed stages idempotently") {
    val out = java.nio.file.Files.createTempDirectory("kgrun").toString
    val r1 = Pipeline.run(spark, 60, out, partitions = 4)
    assert(r1.stages.forall(!_.skipped))
    assert(r1.triples > 0)
    val r2 = Pipeline.run(spark, 60, out, partitions = 4)
    assert(r2.stages.forall(_.skipped), s"expected all skipped: ${r2.stages}")
    assert(r2.triples == r1.triples)
  }
}
