package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.kg._

class TrydbSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  val N = 400

  def engine(withEnpkg: Boolean): Set[Model.Triple] = {
    val enpkg = if (withEnpkg)
      Some((0 until DataGen.K by 2).map(DataGen.qid).toDF("wd_taxon_id"))
    else None
    Trydb.run(spark, Trydb.trydbData(spark, N, 4), Trydb.trydbLineage(spark), enpkg)
      .as[Model.Triple].collect().toSet
  }

  test("trydb engine triples == oracle triples") {
    val got = engine(withEnpkg = false)
    val want = TrydbOracle.runCorpus(N)
    val missing = want -- got; val extra = got -- want
    assert(missing.isEmpty && extra.isEmpty,
      s"missing=${missing.size} ${missing.take(4)} extra=${extra.size} ${extra.take(4)}" +
        s" want=${want.size} got=${got.size}")
  }

  test("trydb with enpkg semi-filter matches oracle") {
    val got = engine(withEnpkg = true)
    val want = TrydbOracle.runCorpus(N, withEnpkg = true)
    assert(got == want, s"want=${want.size} got=${got.size}")
  }

  test("unit cascade covers all four branches + comment") {
    val preds = engine(withEnpkg = false)
    val units = preds.filter(_.pred == Model.QUDT_TRY + "hasUnit").map(_.obj)
    assert(units.exists(_.startsWith(Model.QUDT_UNIT))) // qudt branch
    assert(units.exists(_.startsWith("https://w3id.org/emi/unit#"))) // emi branch
    assert(preds.exists(t => t.pred == Model.RDFS_COMMENT)) // unconditional comment
  }

  test("species matcher: Plantae-then-null priority and kingdom column") {
    val names = Trydb.trydbData(spark, N, 4)
      .select(col("AccSpeciesName").as("TRY_AccSpeciesName")).distinct()
    val m = Trydb.matchSpecies(names, Trydb.trydbLineage(spark))
    val kingdoms = m.select("kingdom").as[String].collect().toSet
    assert(kingdoms.contains("Plantae") && kingdoms.contains("None"))
    assert(m.filter(col("Match_Status") === "NAME-NOT-MATCHED").count() > 0)
  }

  test("trydb triples are equal at 1 and 7 input partitions") {
    def at(partitions: Int): Set[Model.Triple] =
      Trydb.run(spark, Trydb.trydbData(spark, N, partitions), Trydb.trydbLineage(spark))
        .as[Model.Triple].collect().toSet
    val one = at(1)
    assert(one.nonEmpty)
    assert(at(7) == one)
  }

  test("one-aggregate species matcher equals the three-aggregate oracle") {
    // repeated names across and within kingdoms (a later row wins its
    // key), Plantae, null, "" and other kingdoms, Q-ids of mixed length
    // (the ordinal, not the id, orders them) and a name in no lineage row
    val lineage = Seq(
      ("Q9", "A", "Plantae"), ("Q2", "A", null), ("Q100", "A", "Plantae"),
      ("Q4", "B", ""), ("Q5", "B", "Animalia"), ("Q60", "B", null),
      ("Q7", "C", "Animalia"), ("Q8", "C", "Fungi"),
      ("Q3", "D", "Plantae"), ("Q10", "D", ""),
      ("Q11", "E", null), ("Q12", "E", ""), ("Q13", null, "Plantae"))
      .map { case (q, n, k) => (s"http://www.wikidata.org/entity/$q", n, k) }
      .toDF("WdID", "WdName", "kingdom")
    val names = Seq("A", "B", "C", "D", "E", "Z").toDF("TRY_AccSpeciesName")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("TRY_AccSpeciesName").collect().toSeq
    val got = rows(Trydb.matchSpecies(names, lineage))
    assert(got == rows(TrydbOracle.matchSpeciesThreeAggregates(names, lineage)))
    val hit = "ID-MATCHED-BY-NAME-direct"
    assert(got.map(r => (r.getString(0), r.getString(1), r.getString(2), r.getString(3))) ==
      Seq(("A", "Q100", hit, "Plantae"), ("B", "Q60", hit, "None"), ("C", null, hit, "None"),
        ("D", "Q3", hit, "Plantae"), ("E", "Q12", hit, "None"),
        ("Z", null, "NAME-NOT-MATCHED", null)))
    // and on the fixture lineage with the corpus' species names
    val corpusNames = Trydb.trydbData(spark, N, 4)
      .select(col("AccSpeciesName").as("TRY_AccSpeciesName")).distinct()
    assert(rows(Trydb.matchSpecies(corpusNames, Trydb.trydbLineage(spark))) ==
      rows(TrydbOracle.matchSpeciesThreeAggregates(corpusNames, Trydb.trydbLineage(spark))))
  }

  test("Column formatUri matches Model.quote on the corpus value universe") {
    val vals = (0 until 60).flatMap { t =>
      val r = Trydb.trydbRow(t.toLong)
      Seq(r.AccSpeciesName, r.Dataset, r.ObservationID, r.TraitID, r.DataID)
    }.distinct
    val got = vals.toDF("v")
      .select(col("v"), graft.normalize.Norm.formatUri(col("v")).as("e"))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    vals.foreach(v => assert(got(v) == Model.quote(v), s"formatUri($v)"))
  }
}
