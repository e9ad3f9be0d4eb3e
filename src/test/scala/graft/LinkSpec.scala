package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.kg._
import graft.tools.Profile

/** The matcher's row guard sits on the vocabulary: under it the index
  * is broadcast and the taxa are matched where they are, so building
  * the matched table schedules no job, and the broadcast arm equals
  * the distributed reference row for row.
  */
class LinkSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val vocabRows = DataGen.wdSparqlRows.size + DataGen.lineageRows.size

  private def rows(df: DataFrame) =
    df.select("TaxonId", "TaxonName", "Mapped_Value", "Mapped_ID_WD",
      "Match_Status", "rowIdx").orderBy("rowIdx").collect().toSeq

  test("the matched table is built without a Spark job under the default guard") {
    val records = Extract.records(DataGen.corpus(spark, 240, 4).toDF())
    val (matched, jobs) = Profile.recordJobs(spark)(
      Link.matchTaxaAdaptive(records, DataGen.wdSparqlRows, DataGen.lineageRows))
    assert(jobs.isEmpty, jobs.mkString("\n"))
    assert(matched.count() > 0)
    matched.unpersist()
  }

  test("a guard above the vocabulary but below the taxa count keeps the broadcast arm") {
    val records = Extract.records(DataGen.corpus(spark, 400, 4).toDF())
    val taxa = Link.stackTaxa(records).count()
    assert(taxa > vocabRows, s"$taxa distinct taxa, $vocabRows vocabulary rows")
    val (broadcastArm, jobs) = Profile.recordJobs(spark)(
      Link.matchTaxaAdaptive(records, DataGen.wdSparqlRows, DataGen.lineageRows,
        maxDriverRows = vocabRows))
    assert(jobs.isEmpty, jobs.mkString("\n"))
    val distributed = Link.matchTaxaAdaptive(records, DataGen.wdSparqlRows,
      DataGen.lineageRows, maxDriverRows = 0)
    assert(rows(broadcastArm) == rows(distributed))
    broadcastArm.unpersist(); distributed.unpersist()
  }

  test("same-name candidates with tied scores: broadcast arm equals the distributed one") {
    val rnd = new scala.util.Random(17)
    val ranks = Seq("kingdom", "phylum", "class", "order", "family")
    // small value pools: exact keys repeat, scores tie, case differs
    val pool = Seq("", "Alpha", "alpha", "Beta", "Gamma")
    def pick() = pool(rnd.nextInt(pool.size))
    val names = (0 until 4).map(i => s"Dup$i")
    var q = 0
    def qid() = { q += 1; f"http://www.wikidata.org/entity/Q$q%04d" }
    // lineage cols: WdID, WdName, kingdom, phylum, class, order, family,
    // genus, species; every name 3-9 candidates, WdIDs drawn shuffled
    val lineage = rnd.shuffle(names.flatMap(n =>
      Seq.fill(3 + rnd.nextInt(7))(Seq(qid(), n) ++ Seq.fill(5)(pick()) ++
        Seq("g", "s"))) ++
      Seq(Seq(qid(), "Solo", "Alpha", "", "", "", "", "g", "s")))
    val wd = Seq(Seq(lineage.head.head) ++ Seq.tabulate(15)(c =>
      if (c == 0) "7" else null) :+ "Dup0")
    val paths = (0 until 400).map(_ => Seq.fill(5)(pick()))
    val taxa = (0 until 400).map { i =>
      val path = paths(i)
      val id = i % 4 match {
        case 0 => ""
        case 1 => s"NCBI:$i"
        case 2 => "EOL:7"
        case _ => " "
      }
      val name = if (i % 9 == 0) "Solo" else if (i % 13 == 0) " " else names(i % 4)
      (id, name, path.mkString("|"), ranks.mkString("|"), i.toLong)
    }.toDF("TaxonId", "TaxonName", "TaxonPathName", "TaxonRankName", "rowIdx")
    val broadcastArm = Link.matchStacked(taxa, wd, lineage, Model.MaxDriverRows)
    val distributed = Link.matchStacked(taxa, wd, lineage, 0L)
    val (b, d) = (rows(broadcastArm), rows(distributed))
    assert(b.size == 400)
    assert(b == d, (b zip d).filter { case (x, y) => x != y }.take(3).mkString("\n"))
    val statuses = b.groupBy(_.getString(4)).view.mapValues(_.size).toMap
    assert(statuses.getOrElse("ID-MATCHED-BY-NAME-DUPL-duplicate", 0) > 100, statuses)
    assert(statuses.contains("ID-MATCHED-BY-NAME-direct"), statuses)
    assert(statuses.contains("NAME-MATCH-NO"), statuses)
    // the data holds both an exact rank key and a score tied between
    // distinct keys for the name-matched rows
    val keys = lineage.groupBy(_(1)).view.mapValues(_.map(_.slice(2, 7)).distinct).toMap
    def score(k: Seq[String], p: Seq[String]) =
      k.zip(p).count { case (c, r) => c.nonEmpty && c.equalsIgnoreCase(r) }
    val dupl = b.filter(_.getString(4) == "ID-MATCHED-BY-NAME-DUPL-duplicate")
      .map(r => (keys(r.getString(1).trim), paths(r.getLong(5).toInt)))
    assert(dupl.count { case (ks, p) => ks.contains(p) } > 0)
    assert(dupl.count { case (ks, p) =>
      !ks.contains(p) && ks.count(score(_, p) == ks.map(score(_, p)).max) > 1 } > 0)
    broadcastArm.unpersist(); distributed.unpersist()
  }
}
