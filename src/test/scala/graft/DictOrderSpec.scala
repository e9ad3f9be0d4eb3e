package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.types.{LongType, StructField, StructType, StringType}
import graft.kg.{DataGen, Extract, Link, Materialize, Trydb}

/** Dictionary key-collision order semantics: pandas dict build is
  * last-occurrence-wins in COLUMN-MAJOR melt order (matcher.py:117-130)
  * and FILE order for the lineage dict (matcher.py:344-352). These
  * fixtures are built so lexicographic value order CONTRADICTS build
  * order (mixed-length Q-ids), which the deterministic corpus never
  * exercises.
  */
class DictOrderSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  val cols = Seq("WdID", "eol", "gbif", "ncbi", "ott", "itis", "irmng",
    "col", "nbn", "worms", "bold", "plazi", "apni", "msw3", "iNat",
    "eppo", "WdName")

  def wdFixture(rows: Seq[Seq[String]], slices: Int = 1) = {
    val schema = StructType(cols.map(StructField(_, StringType, nullable = true)))
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map(Row.fromSeq), slices), schema)
  }

  test("idMaps: later ROW wins within a column (mixed-length Q-ids)") {
    def row(wdid: String, eol: String, name: String): Seq[String] =
      Seq(wdid, eol) ++ Seq.fill(14)(null) :+ name
    // both rows share eol id 77; row order says Q123 wins, lexicographic
    // value order would say Q7
    val prepped = Link.prepWdSparql(wdFixture(Seq(
      row("http://www.wikidata.org/entity/Q7", "77", "Zebra"),
      row("http://www.wikidata.org/entity/Q123", "77", "Ant"))))
    val (idMap, idMapWd) = Link.idMaps(prepped)
    val wd = idMapWd.filter($"key" === "EOL:77").select("value").head().getString(0)
    assert(wd == "Wikidata:Q123", s"expected last-row Q123, got $wd")
    val nm = idMap.filter($"key" === "EOL:77").select("value").head().getString(0)
    assert(nm == "Ant")
  }

  test("idMaps: later COLUMN wins across columns (column-major melt)") {
    // row0's raw WdID string collides with row1's prefixed eol id: the
    // eol column melts after the WdID column, so row1's name wins even
    // though row0 comes first in file order
    val prepped = Link.prepWdSparql(wdFixture(Seq(
      Seq[String]("EOL:99") ++ Seq.fill(15)(null) :+ "First",
      (Seq("http://www.wikidata.org/entity/Q5", "99") ++
        Seq.fill(14)(null)) :+ "Second")))
    val (idMap, _) = Link.idMaps(prepped)
    val nm = idMap.filter($"key" === "EOL:99").select("value").head().getString(0)
    assert(nm == "Second", s"expected later-column 'Second', got $nm")
  }

  test("idMaps: column-major order survives >=128 input partitions") {
    // monotonically_increasing_id packs the partition id into bits >=33,
    // so partition 128+ of column 0 reaches 2^40 — a PACKED
    // colIdx*2^40+rowIdx ordinal would let a late-partition column-0 key
    // outrank column 1. The (colIdx, rowIdx) struct ordering must not.
    // Key collision: the raw-WdID cell of the LAST row (partition ~199)
    // vs the eol column of the FIRST row — eol melts later, so
    // "RightWinner" must win regardless of partition id.
    val rows =
      (Seq[String]("http://www.wikidata.org/entity/Q5", "99") ++
        Seq.fill(14)(null) :+ "RightWinner") +:
      (1 until 199).map(i =>
        Seq[String](s"http://www.wikidata.org/entity/Q${1000 + i}") ++
          Seq.fill(15)(null) :+ s"Filler$i") :+
      (Seq[String]("EOL:99") ++ Seq.fill(15)(null) :+ "WrongWinner")
    val (idMap, _) = Link.idMaps(Link.prepWdSparql(wdFixture(rows, slices = 200)))
    val nm = idMap.filter($"key" === "EOL:99").select("value").head().getString(0)
    assert(nm == "RightWinner", s"column-major order corrupted: got $nm")
    // and the whole dict equals the single-partition build
    val (one, _) = Link.idMaps(Link.prepWdSparql(wdFixture(rows, slices = 1)))
    assert(idMap.collect().map(r => (r.getString(0), r.getString(1))).toSet ==
      one.collect().map(r => (r.getString(0), r.getString(1))).toSet)
  }

  test("matchSpecies: later lineage FILE row wins (not lexicographic WdID)") {
    val lineage = Seq(
      ("http://www.wikidata.org/entity/Q7", "Shared name", "Plantae"),
      ("http://www.wikidata.org/entity/Q123", "Shared name", "Plantae"))
      .toDF("WdID", "WdName", "kingdom")
    val out = Trydb.matchSpecies(
      Seq("Shared name").toDF("TRY_AccSpeciesName"), lineage)
      .select("WdID").head().getString(0)
    assert(out == "Q123", s"expected file-order-last Q123, got $out")
  }

  // ---- resolution dictionaries: driver arm == aggregate arm ------------

  /** Matcher-output rows (TaxonId, TaxonName, Mapped_ID_WD,
    * Mapped_Value, rowIdx), deliberately not in rowIdx order.
    */
  def matcherFixture(rows: Seq[(String, String, String, String, Long)]): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map { case (id, name, wd, mv, ri) =>
        Row(id, name, wd, mv, ri)
      }, 2),
      StructType(Seq("TaxonId", "TaxonName", "Mapped_ID_WD", "Mapped_Value")
        .map(StructField(_, StringType, nullable = true)) :+
        StructField("rowIdx", LongType, nullable = false)))

  type Dict = Set[(String, String, String)]

  /** Both arms of wdMapDicts over `matched`, asserted equal; returns the
    * (id, name) dictionaries.
    */
  def bothArms(matched: DataFrame): (Dict, Dict) = {
    def rows(df: DataFrame): Dict = df.collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
    val (driverId, driverName) = Materialize.wdMapDicts(matched)
    val (aggId, aggName) = Materialize.wdMapDicts(matched, maxDriverRows = 0)
    // the default guard took the driver arm, the forced one the aggregate
    assert(driverId.queryExecution.optimizedPlan.isInstanceOf[LocalRelation])
    assert(!aggId.queryExecution.optimizedPlan.isInstanceOf[LocalRelation])
    val id = rows(driverId); val name = rows(driverName)
    assert(id == rows(aggId), s"id dict: driver=$id agg=${rows(aggId)}")
    assert(name == rows(aggName), s"name dict: driver=$name agg=${rows(aggName)}")
    Seq(aggId, aggName).foreach(_.unpersist())
    (id, name)
  }

  test("wdMapDicts: driver and aggregate arms agree on a corpus matcher output") {
    val records = Extract.records(DataGen.corpus(spark, 240, 4).toDF())
    val matched = Link.matchTaxaAdaptive(records, DataGen.wdSparqlRows,
      DataGen.lineageRows)
    val (id, name) = bothArms(matched)
    assert(id.nonEmpty && name.nonEmpty)
  }

  test("wdMapDicts: keys that collide only after prefix and quote stripping") {
    val (id, name) = bothArms(matcherFixture(Seq(
      ("\"Q1\"", "Pan", "Q20", "late", 2L),
      ("Wikidata:Q1", "P\"an", "Wikidata:Q10", "early", 1L))))
    assert(id == Set(("Q1", "Q20", "late")))
    assert(name == Set(("Pan", "Q20", "late")))
  }

  test("wdMapDicts: the later rowIdx wins although value order says otherwise") {
    val target = 1L << 40 // a target mention's ordinal base
    val (id, name) = bothArms(matcherFixture(Seq(
      ("T9", "Apis", "Q10", "Zzz", target + 3),
      ("T9", "Apis", "Q9", "Aaa", 5L),
      ("T8", "Bos", "Q2", "b", 7L),
      ("T8", "Bos", "Q100", "a", target))))
    assert(id == Set(("T9", "Q10", "Zzz"), ("T8", "Q100", "a")))
    assert(name == Set(("Apis", "Q10", "Zzz"), ("Bos", "Q100", "a")))
  }

  test("wdMapDicts: null and empty keys, empty and null Mapped_ID_WD") {
    val (id, name) = bothArms(matcherFixture(Seq(
      (null, "OnlyName", "Q1", null, 1L),
      ("", "EmptyId", "Q2", "m2", 2L),
      ("OnlyId", null, "Q3", "m3", 3L),
      ("NoNameEither", "", "Q4", "m4", 4L),
      ("Dropped", "DroppedToo", "", "m5", 5L),
      ("Gone", "GoneToo", null, "m6", 6L),
      ("Stripped", "StrippedToo", "Wikidata:", "m7", 7L))))
    assert(id == Set(("OnlyId", "Q3", "m3"), ("NoNameEither", "Q4", "m4")))
    assert(name == Set(("OnlyName", "Q1", null), ("EmptyId", "Q2", "m2")))
  }

  test("wdMapDicts: the build's shared matcher-row fetch equals the aggregate arm") {
    // what runFromTable collects once for both dictionaries and the
    // equivalence mapping: padded names, quotes and Wikidata: prefixes
    // in every column, and rows out of rowIdx order
    val matched = matcherFixture(Seq(
      ("Wikidata:T1", " Pan ", "Wikidata:Q5", "\"ape\"", 4L),
      ("T1", "Pan", "Q6", "ape", 2L),
      ("\"T2\"", "Pan ", "Q5", null, 3L),
      ("T3", "\tPan", "\"Wikidata:Q7\"", "x", 1L),
      ("T4", "Wikidata:", "Wikidata:", "gone", 5L),
      (null, " ", "Q8", "blank", 6L)))
    val rows = matched.select(Materialize.dictColumns :+
      org.apache.spark.sql.functions.col("TaxonName"): _*).collect()
    def dict(df: DataFrame): Dict = df.collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
    val (sharedId, sharedName) = Materialize.driverDicts(spark, rows)
    val (aggId, aggName) = Materialize.wdMapDicts(matched, maxDriverRows = 0)
    assert(sharedId.queryExecution.optimizedPlan.isInstanceOf[LocalRelation])
    assert(dict(sharedId) == dict(aggId) && dict(sharedName) == dict(aggName),
      s"id ${dict(sharedId)} vs ${dict(aggId)}; name ${dict(sharedName)} vs ${dict(aggName)}")
    assert(dict(sharedName).exists(_._1 == " Pan "))
    Seq(aggId, aggName).foreach(_.unpersist())
  }
}
