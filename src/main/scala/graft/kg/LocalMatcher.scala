package graft.kg

import Model._
import scala.collection.mutable

/** Driver-side taxonomy matcher over the DISTINCT taxa table
  * (matcher.py:101-334 semantics, single-threaded).
  *
  * Rationale: after the distributed stack+distinct, the taxa table is
  * dimension-sized (distinct mentions, not records) — the same
  * assumption that lets the resolution dictionaries broadcast. Running
  * the dozen dictionary/scoring passes locally replaces ~12 small Spark
  * jobs (whose scheduler+codegen latency is the pipeline's serial
  * fraction) with one collect. The fully distributed formulation
  * (Link.matchTaxa) remains for vocabularies beyond driver memory, and
  * both are asserted equal in tests.
  *
  * Used by both the engine (Link.matchStacked) and the golden
  * oracle (Oracle.run) — the distributed matcher is the independently
  * implemented cross-check.
  */
object LocalMatcher {

  case class TaxaRow(taxonId: String, taxonName: String, path: String,
      ranks: String, rowIdx: Long)
  case class MatchedRow(taxonId: String, taxonName: String,
      mappedValue: String, mappedIdWd: String, status: String, rowIdx: Long)

  def extractRanks(ranks: String, path: String): Map[String, String] = {
    val rl = ranks.split("\\|", -1).map(_.trim)
    val vl = path.split("\\|", -1).map(_.trim)
    val zipped = rl.zipWithIndex.map { case (r, i) =>
      r -> (if (i < vl.length) vl(i) else "")
    }.toMap
    predefinedRanks.map(r => r -> zipped.getOrElse(r, "")).toMap
  }

  /** taxa must already be URL-normalized and distinct (first-occurrence
    * rowIdx), wdSparqlRows raw 17-col rows (nulls as null), lineageRows
    * raw 9-col rows.
    */
  def matchTaxa(taxa: Seq[TaxaRow], wdSparqlRows: Seq[Seq[String]],
      lineageRows: Seq[Seq[String]]): Seq[MatchedRow] = {

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
    val idMap = mutable.LinkedHashMap[String, String]()
    for (c <- 0 until 16; row <- prepped; if row(c) != null)
      idMap(row(c)) = row(16)
    val idMapWd = mutable.LinkedHashMap[String, String]()
    for (c <- 1 until 16; row <- prepped; if row(c) != null)
      idMapWd(row(c)) = row(0)

    // lineage dicts (matcher.py:208-244)
    val lineage = lineageRows.map(r => r.map(v =>
      if (v == null) "" else v.replace("http://www.wikidata.org/entity/", "Wikidata:")))
    val nameCounts = lineage.groupBy(_(1)).view.mapValues(_.size).toMap
    val repeats = lineage.filter(r => nameCounts(r(1)) > 1).sortBy(r => (r(1), r(0)))
    def key6(r: Seq[String]) = (r(1), r(6), r(4), r(5), r(3), r(2))
    val lineageDict = mutable.LinkedHashMap[
      (String, String, String, String, String, String), mutable.ArrayBuffer[String]]()
    repeats.foreach(r => lineageDict.getOrElseUpdate(key6(r), mutable.ArrayBuffer()) += r(0))
    val repeatNames = repeats.map(_(1)).toSet
    val uniqueDict = lineage.filter(r => !repeatNames(r(1)))
      .map(r => r(1) -> (r(0), r(6), r(4), r(5), r(3), r(2))).toMap

    taxa.map { t =>
      // initial match (matcher.py:184-205)
      val tid = t.taxonId.trim
      var mappedValue = idMap.get(tid)
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
        if (name.nonEmpty) {
          val rk = extractRanks(t.ranks, t.path)
          if (repeatNames(name)) {
            val rowKey = (name, rk("family"), rk("class"), rk("order"),
              rk("phylum"), rk("kingdom"))
            val best =
              if (lineageDict.contains(rowKey)) Some(rowKey)
              else {
                var bestKey: Option[(String, String, String, String, String, String)] = None
                var bestScore = -1
                lineageDict.keys.filter(_._1 == name).foreach { k =>
                  def s(c: String, r: String): Int =
                    if (c.nonEmpty && c.toLowerCase == r.toLowerCase) 1 else 0
                  val score = s(k._2, rk("family")) + s(k._3, rk("class")) +
                    s(k._4, rk("order")) + s(k._5, rk("phylum")) + s(k._6, rk("kingdom"))
                  if (score > bestScore) { bestScore = score; bestKey = Some(k) }
                }
                bestKey
              }
            best.foreach { k =>
              mappedIdWd = lineageDict(k).headOption
              status = "ID-MATCHED-BY-NAME-DUPL-duplicate"
            }
          } else uniqueDict.get(name).foreach { v =>
            mappedIdWd = Some(v._1)
            status = "ID-MATCHED-BY-NAME-direct"
          }
        } else mappedIdWd = None
      }
      MatchedRow(t.taxonId, t.taxonName, mappedValue.orNull, mappedIdWd.orNull,
        status, t.rowIdx)
    }
  }
}
