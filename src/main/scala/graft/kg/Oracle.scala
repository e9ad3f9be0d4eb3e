package graft.kg

import Model._
import scala.collection.mutable

/** Single-threaded, obviously-correct interpreter of the reference
  * pipeline semantics (matcher.py + globi_kg_generator.py), used as the
  * golden oracle for the distributed engine (SURVEY §5.2). Operates on
  * plain Scala collections in explicit document order — every dictionary
  * is a LinkedHashMap built exactly like the pandas dict it mirrors
  * (insertion order, later key wins).
  *
  * Per-record triple emission is shared with the engine
  * (Materialize.emit) — leaf string semantics are pinned separately by
  * unit tests; what this oracle independently re-derives is everything
  * distribution could corrupt: stacking order, dedup-keep-first,
  * dictionary last-wins, the scored-disambiguation argmax, two-tier
  * resolution, and global set semantics.
  */
object Oracle {

  case class TaxonRow(var taxonId: String, var taxonName: String,
      path: String, ranks: String, rowIdx: Long,
      var rankVals: Map[String, String] = Map.empty,
      var mappedValue: Option[String] = None,
      var mappedIdWd: Option[String] = None,
      var status: String = "")

  private def normalizeUri(s: String): String =
    graft.normalize.Norm.uriRules.foldLeft(s) { case (acc, (pat, rep)) =>
      acc.replaceAll(pat, rep)
    }

  private def extractRanks(ranks: String, path: String): Map[String, String] = {
    val rl = ranks.split("\\|", -1).map(_.trim)
    val vl = path.split("\\|", -1).map(_.trim)
    val zipped = rl.zipWithIndex.map { case (r, i) =>
      r -> (if (i < vl.length) vl(i) else "")
    }.toMap
    predefinedRanks.map(r => r -> zipped.getOrElse(r, "")).toMap
  }

  /** Full pipeline over a sequence of records; returns the deduplicated
    * triple set.
    */
  def run(records: Seq[VerbatimRecord],
      wdSparqlRows: Seq[Seq[String]], // 17 cols, nulls as null
      lineageRows: Seq[Seq[String]], // WdID, WdName, kingdom..species
      media: Map[String, (String, String)] // ref → (entity, caption)
      ): Set[Triple] = {

    // ---- matcher: wd sparql prep + id maps (matcher.py:101-130)
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

    // ---- stack + normalize + dedup keep-first (matcher.py:133-180)
    val nDocs = records.map(_.recNum).max + 1
    val stacked = records.flatMap { r =>
      Seq(
        TaxonRow(r.sourceTaxonId, r.sourceTaxonName, r.sourceTaxonPathNames,
          r.sourceTaxonPathRankNames, r.recNum),
        TaxonRow(r.targetTaxonId, r.targetTaxonName, r.targetTaxonPathNames,
          r.targetTaxonPathRankNames, nDocs + r.recNum))
    }.sortBy(_.rowIdx)
    stacked.foreach { t =>
      t.taxonId = normalizeUri(t.taxonId); t.taxonName = normalizeUri(t.taxonName)
    }
    val seen = mutable.Set[(String, String, String, String)]()
    val taxa = stacked.filter { t =>
      val k = (t.taxonId, t.taxonName, normalizeUri(t.path), normalizeUri(t.ranks))
      if (seen(k)) false else { seen += k; true }
    }
    taxa.foreach(t => t.rankVals = extractRanks(normalizeUri(t.ranks), normalizeUri(t.path)))

    // ---- initial match (matcher.py:184-205)
    taxa.foreach { t =>
      val tid = t.taxonId.trim
      t.mappedValue = idMap.get(tid)
      t.mappedIdWd = idMapWd.get(tid)
      t.status =
        if (tid.isEmpty) "ID-NOT-PRESENT"
        else if (t.mappedValue.isEmpty) "ID-NOT-FOUND"
        else if (t.mappedValue.get.toLowerCase == t.taxonName.trim.toLowerCase)
          "NAME-MATCH-YES"
        else "NAME-MATCH-NO"
    }

    // ---- lineage dicts (matcher.py:208-244)
    val lineage = lineageRows.map(r => r.map(v =>
      if (v == null) "" else v.replace("http://www.wikidata.org/entity/", "Wikidata:")))
    val nameCounts = lineage.groupBy(_(1)).view.mapValues(_.size).toMap
    val repeats = lineage.filter(r => nameCounts(r(1)) > 1)
      .sortBy(r => (r(1), r(0)))
    // key: (name, family, class, order, phylum, kingdom); cols: 0 WdID,
    // 1 WdName, 2 kingdom, 3 phylum, 4 class, 5 order, 6 family
    def key6(r: Seq[String]) = (r(1), r(6), r(4), r(5), r(3), r(2))
    val lineageDict = mutable.LinkedHashMap[(String, String, String, String, String, String),
      mutable.ArrayBuffer[String]]()
    repeats.foreach { r =>
      lineageDict.getOrElseUpdate(key6(r), mutable.ArrayBuffer()) += r(0)
    }
    val repeatNames = repeats.map(_(1)).toSet
    val uniqueDict = lineage.filter(r => !repeatNames(r(1)))
      .map(r => r(1) -> (r(0), r(6), r(4), r(5), r(3), r(2))).toMap

    // ---- secondary match (matcher.py:284-334)
    taxa.filter(t => t.status == "ID-NOT-FOUND" || t.status == "ID-NOT-PRESENT")
      .foreach { t =>
        val name = t.taxonName.trim
        if (name.nonEmpty) {
          if (repeatNames(name)) {
            val rk = t.rankVals
            val rowKey = (name, rk("family"), rk("class"), rk("order"),
              rk("phylum"), rk("kingdom"))
            val best: Option[(String, String, String, String, String, String)] =
              if (lineageDict.contains(rowKey)) Some(rowKey)
              else {
                var bestKey: Option[(String, String, String, String, String, String)] = None
                var bestScore = -1
                lineageDict.keys.filter(_._1 == name).foreach { k =>
                  var score = 0
                  def s(c: String, r: String): Int =
                    if (c.nonEmpty && c.toLowerCase == r.toLowerCase) 1 else 0
                  score += s(k._2, rk("family")) + s(k._3, rk("class")) +
                    s(k._4, rk("order")) + s(k._5, rk("phylum")) + s(k._6, rk("kingdom"))
                  if (score > bestScore) { bestScore = score; bestKey = Some(k) }
                }
                bestKey
              }
            best.foreach { k =>
              t.mappedIdWd = lineageDict(k).headOption
              t.rankVals = Map("family" -> k._2, "class" -> k._3, "order" -> k._4,
                "phylum" -> k._5, "kingdom" -> k._6,
                "genus" -> t.rankVals("genus"), "species" -> t.rankVals("species"))
              t.status = "ID-MATCHED-BY-NAME-DUPL-duplicate"
            }
          } else uniqueDict.get(name).foreach { v =>
            t.mappedIdWd = Some(v._1)
            t.rankVals = Map("family" -> v._2, "class" -> v._3, "order" -> v._4,
              "phylum" -> v._5, "kingdom" -> v._6,
              "genus" -> t.rankVals("genus"), "species" -> t.rankVals("species"))
            t.status = "ID-MATCHED-BY-NAME-direct"
          }
        } else t.mappedIdWd = None
      }

    // ---- kg-gen wd-map dicts (globi_kg_generator.py:88-110)
    def cleanWd(s: String): String = s.replace("Wikidata:", "").replace("\"", "")
    val dictId = mutable.LinkedHashMap[String, (String, String)]()
    val dictName = mutable.LinkedHashMap[String, (String, String)]()
    taxa.sortBy(_.rowIdx).foreach { t =>
      t.mappedIdWd.map(cleanWd).filter(_.nonEmpty).foreach { wd =>
        val mv = t.mappedValue.map(cleanWd).orNull
        val tid = cleanWd(t.taxonId)
        val tname = cleanWd(t.taxonName)
        if (tid != null && tid.nonEmpty) dictId(tid) = (wd, mv)
        if (tname != null && tname.nonEmpty) dictName(tname) = (wd, mv)
      }
    }

    // ---- per-record resolution + emission (globi_kg_generator.py:184-316)
    val vocab = Materialize.termVocab()
    val out = mutable.Set[Triple]()
    records.foreach { r =>
      def resolveSide(id: String, name: String): Option[(String, String)] =
        dictId.get(id).orElse(dictName.get(name)).map { case (wd, mv) =>
          (wd, if (name != null && name.nonEmpty) name else mv)
        }
      val src = resolveSide(r.sourceTaxonId, r.sourceTaxonName)
      val tgt = resolveSide(r.targetTaxonId, r.targetTaxonName)
      (src, tgt) match {
        case (Some((sWd, sName)), Some((tWd, tName))) if sWd != tWd =>
          val rr = Materialize.ResolvedRecord(
            r.doc_id, r.recNum, sWd, sName, tWd, tName,
            r.interactionTypeName, r.interactionTypeId,
            r.localityName, r.referenceDoi, r.sourceDOI,
            r.decimalLatitude, r.decimalLongitude,
            r.sourceBodyPartName, r.sourceBodyPartId,
            r.sourceLifeStageName, r.sourceLifeStageId,
            r.targetBodyPartName, r.targetBodyPartId,
            r.targetLifeStageName, r.targetLifeStageId,
            r.sourceSexName, r.targetSexName)
          out ++= Materialize.emitTagged(rr, vocab).map(_._1)
        case _ => ()
      }
      // media spans (north-rule extension)
      r.mediaRefs.foreach { ref =>
        media.get(ref).foreach { case (entity, caption) =>
          val rec = EMIBOX + s"inRec${r.recNum}"
          val m = EMIBOX + ref
          out += Triple(rec, EMI + "hasMediaEvidence", m, false, "")
          out += Triple(m, RDF_TYPE, EMI + "MediaObject", false, "")
          out += Triple(m, EMI + "depicts", WD + entity, false, "")
          out += Triple(m, RDFS_LABEL, caption, true, XSD_STRING)
        }
      }
    }

    // ---- inverse augmentation (utils.py:84-100) + set semantics
    val inverses = out.toSeq.collect {
      case t if !t.objIsLiteral && inverseRelations.contains(t.pred) =>
        Triple(t.obj, inverseRelations(t.pred), t.subj, false, "")
    }
    out ++= inverses
    out.toSet
  }

  /** Convenience: run the oracle over the deterministic corpus at size n. */
  def runCorpus(nDocs: Int): Set[Triple] = runDocs(0L until nDocs)

  /** The oracle over the deterministic corpus documents with these ids. */
  def runDocs(ids: Seq[Long]): Set[Triple] = {
    val records = ids.map(DataGen.record)
    val wdRows = (0 until DataGen.K).filter(DataGen.inWdMapping).map { k =>
      val ext = (1 to 15).map(c =>
        if ((k + c) % 3 == 0) null else s"${k * 100 + c}")
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
    run(records, wdRows, lineageRows, media)
  }
}
