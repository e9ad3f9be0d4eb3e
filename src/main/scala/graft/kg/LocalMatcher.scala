package graft.kg

import Model._
import scala.collection.mutable

/** The taxonomy matcher one taxon at a time (matcher.py:101-334
  * semantics): an [[Index]] over the vocabulary (the wd mapping and the
  * lineage table), built once on the driver, and its per-taxon
  * [[Index.matchOne]].
  *
  * Rationale: the vocabulary is bounded while the distinct-taxa table
  * grows with the corpus. [[Link.matchStacked]] broadcasts the index
  * and maps the taxa through `matchOne` in their own partitions — one
  * narrow pass instead of the dozen dictionary and scoring jobs of the
  * distributed formulation ([[Link.matchTaxa]]), which stays for
  * vocabularies beyond the row guard and as the independently
  * implemented reference both are asserted equal to in tests.
  */
object LocalMatcher {

  case class TaxaRow(taxonId: String, taxonName: String, path: String,
      ranks: String, rowIdx: Long)
  case class MatchedRow(taxonId: String, taxonName: String,
      mappedValue: String, mappedIdWd: String, status: String, rowIdx: Long)

  /** One same-name lineage candidate: its family, class, order, phylum
    * and kingdom, and the first WdID of its (name, ranks) key.
    */
  case class Candidate(ranks: Seq[String], wdId: String)

  private val KeyRanks = Seq("family", "class", "order", "phylum", "kingdom")

  def extractRanks(ranks: String, path: String): Map[String, String] = {
    val rl = ranks.split("\\|", -1).map(_.trim)
    val vl = path.split("\\|", -1).map(_.trim)
    val zipped = rl.zipWithIndex.map { case (r, i) =>
      r -> (if (i < vl.length) vl(i) else "")
    }.toMap
    predefinedRanks.map(r => r -> zipped.getOrElse(r, "")).toMap
  }

  /** The matcher's dictionaries: `idMap` any id → WdName, `idMapWd`
    * external id → WdID (both last-wins), `lineageDict` a duplicated
    * name → its distinct rank keys in the order the sorted repeats
    * first insert them, `uniqueDict` a unique name → its WdID.
    */
  case class Index(idMap: Map[String, String], idMapWd: Map[String, String],
      lineageDict: Map[String, IndexedSeq[Candidate]],
      uniqueDict: Map[String, String]) {

    /** Initial id match, then the secondary name match for the rows
      * whose id is absent or unknown.
      */
    def matchOne(t: TaxaRow): MatchedRow = {
      // initial match (matcher.py:184-205)
      val tid = t.taxonId.trim
      val mappedValue = idMap.get(tid)
      var mappedIdWd = idMapWd.get(tid)
      var status =
        if (tid.isEmpty) "ID-NOT-PRESENT"
        else if (mappedValue.isEmpty) "ID-NOT-FOUND"
        else if (mappedValue.get.toLowerCase == t.taxonName.trim.toLowerCase)
          "NAME-MATCH-YES"
        else "NAME-MATCH-NO"

      // secondary match (matcher.py:284-334)
      if (status == "ID-NOT-FOUND" || status == "ID-NOT-PRESENT") {
        val name = t.taxonName.trim
        if (name.isEmpty) mappedIdWd = None
        else lineageDict.get(name) match {
          case Some(cands) =>
            val row = KeyRanks.map(extractRanks(t.ranks, t.path))
            // the exact key, else the best score; a tie keeps the first
            val best = cands.find(_.ranks == row).getOrElse(cands.maxBy(
              _.ranks.zip(row).count { case (c, r) =>
                c.nonEmpty && c.toLowerCase == r.toLowerCase }))
            mappedIdWd = Some(best.wdId)
            status = "ID-MATCHED-BY-NAME-DUPL-duplicate"
          case None => uniqueDict.get(name).foreach { wd =>
            mappedIdWd = Some(wd)
            status = "ID-MATCHED-BY-NAME-direct"
          }
        }
      }
      MatchedRow(t.taxonId, t.taxonName, mappedValue.orNull, mappedIdWd.orNull,
        status, t.rowIdx)
    }
  }

  /** The index from raw 17-col wd mapping rows and raw 9-col lineage
    * rows (nulls as null).
    */
  def index(wdSparqlRows: Seq[Seq[String]], lineageRows: Seq[Seq[String]]): Index = {
    // wd sparql prep + id maps (matcher.py:101-130)
    val prepped = wdSparqlRows.map { row =>
      row.zipWithIndex.map { case (v, idx) =>
        if (v == null) null
        else {
          val pref = if (idx >= 1 && idx <= 15) externalPrefixes(idx - 1) + v else v
          pref.replace("http://www.wikidata.org/entity/", "Wikidata:")
            .replace("\"", "")
        }
      }
    }
    val idMap = mutable.HashMap[String, String]()
    for (c <- 0 until 16; row <- prepped; if row(c) != null)
      idMap(row(c)) = row(16)
    val idMapWd = mutable.HashMap[String, String]()
    for (c <- 1 until 16; row <- prepped; if row(c) != null)
      idMapWd(row(c)) = row(0)

    // lineage dicts (matcher.py:208-244)
    val lineage = lineageRows.map(r => r.map(v =>
      if (v == null) "" else v.replace("http://www.wikidata.org/entity/", "Wikidata:")))
    val nameCounts = lineage.groupBy(_(1)).view.mapValues(_.size).toMap
    val (repeats, uniques) = lineage.partition(r => nameCounts(r(1)) > 1)
    // cols: 0 WdID, 1 WdName, 2 kingdom, 3 phylum, 4 class, 5 order, 6 family
    val lineageDict = repeats.sortBy(r => (r(1), r(0))).groupBy(_(1))
      .view.mapValues(_.map(r => Candidate(Seq(r(6), r(4), r(5), r(3), r(2)), r(0)))
        .distinctBy(_.ranks).toIndexedSeq).toMap
    Index(idMap.toMap, idMapWd.toMap, lineageDict,
      uniques.map(r => r(1) -> r(0)).toMap)
  }
}
