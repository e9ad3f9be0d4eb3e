package graft.kg

import Model._
import scala.collection.mutable
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Single-threaded interpreter of the TRY-db branch
  * (matcher.py:339-412 + trydb_kg_generator.py:51-188) for golden
  * comparison against Trydb.run.
  */
object TrydbOracle {

  /** The species matcher as three dictionaries, each its own aggregate
    * and broadcast join: Plantae, null kingdom and any name — the
    * reference [[Trydb.matchSpecies]]'s one aggregate must equal.
    */
  def matchSpeciesThreeAggregates(speciesNames: DataFrame, lineage: DataFrame): DataFrame = {
    val l = lineage
      .withColumn("_ord", monotonically_increasing_id())
      .select(
        regexp_replace(col("WdID"), "http://www\\.wikidata\\.org/entity/", "").as("wd"),
        col("WdName"),
        when(col("kingdom") === "", lit(null)).otherwise(col("kingdom")).as("kingdom"),
        col("_ord"))
    def dictFor(kingdomFilter: Column, keyName: String): DataFrame =
      l.filter(kingdomFilter)
        .groupBy(col("WdName").as(keyName))
        .agg(max_by(col("wd"), col("_ord")).as(s"${keyName}_wd"))
    val plantae = dictFor(col("kingdom") === "Plantae", "k_pl")
    val nullK = dictFor(col("kingdom").isNull, "k_null")
    val anyName = l.select(col("WdName").as("k_any")).distinct()
    speciesNames
      .join(broadcast(anyName), col("TRY_AccSpeciesName") === col("k_any"), "left")
      .join(broadcast(plantae), col("TRY_AccSpeciesName") === col("k_pl"), "left")
      .join(broadcast(nullK), col("TRY_AccSpeciesName") === col("k_null"), "left")
      .select(
        col("TRY_AccSpeciesName"),
        when(col("k_any").isNotNull, coalesce(col("k_pl_wd"), col("k_null_wd")))
          .as("WdID"),
        when(col("k_any").isNotNull, lit("ID-MATCHED-BY-NAME-direct"))
          .otherwise(lit("NAME-NOT-MATCHED")).as("Match_Status"),
        when(col("k_any").isNotNull,
          when(col("k_pl_wd").isNotNull, lit("Plantae")).otherwise(lit("None")))
          .as("kingdom"))
  }

  def run(rows: Seq[Trydb.TrydbRow],
      lineageRows: Seq[(String, String, String)], // WdID url, WdName, kingdom|null
      enpkg: Option[Set[String]]): Set[Triple] = {

    // matcher (matcher.py:344-379)
    val dict = mutable.LinkedHashMap[(String, String), String]()
    val names = mutable.Set[String]()
    lineageRows.foreach { case (wdUrl, name, kingdom) =>
      val wd = wdUrl.replace("http://www.wikidata.org/entity/", "")
      val k = if (kingdom == null || kingdom.isEmpty) null else kingdom
      dict((name, k)) = wd
      names += name
    }
    def matchName(n: String): Option[String] =
      if (names(n)) dict.get((n, "Plantae")).orElse(dict.get((n, null)))
        .orElse(Some(null)) // in set but no kingdom hit → WdID None (matcher.py:372)
      else None

    val wdByName: Map[String, String] =
      rows.map(_.AccSpeciesName).distinct
        .map(n => n -> matchName(n).orNull).toMap

    val qudt = Trydb.qudtUnitMap.toMap
    val emi = Trydb.emiUnitMap.toMap
    val out = mutable.Set[Triple]()

    def iri(s: String, p: String, o: String) = Triple(s, p, o, false, "")
    def l(s: String, p: String, o: String, dt: String = XSD_STRING) =
      Triple(s, p, o, true, dt)
    val numeric = "-?[0-9]+(\\.[0-9]+)?(E[+-][0-9]+)?".r

    rows.foreach { r =>
      val wd = wdByName(r.AccSpeciesName)
      if (enpkg.forall(e => wd != null && e(wd))) {
        val q = Model.quote _
        val sample = EMIBOX + s"SAMPLE-${q(r.AccSpeciesName)}-${r.ObservationID}"
        val dataset = EMIBOX + s"DATASET-${q(r.Dataset)}"
        val observation = EMIBOX + s"OBSERVATION-${q(r.ObservationID)}"
        val organism = EMIBOX + s"ORGANISM-${q(r.AccSpeciesName)}"
        val result = EMIBOX + s"RESULT-${r.ObsDataID}"
        val hasDataset = isPresent(r.Dataset)

        out += iri(sample, RDF_TYPE, SOSA + "Sample")
        out += l(sample, RDFS_LABEL, r.AccSpeciesName)
        out += iri(sample, SOSA + "isSampleOf", organism)
        out += iri(sample, SOSA + "isFeatureOfInterestOf", observation)
        if (hasDataset) {
          out += iri(sample, DCTERMS + "isPartOf", dataset)
          out += l(dataset, DCTERMS + "bibliographicCitation", r.Reference)
          out += l(dataset, DCTERMS + "identifier", s"TRYdb-${q(r.DatasetID)}")
          out += iri(observation, SOSA + "hasResult", result)
          if (isPresent(r.TraitName)) {
            out += iri(result, RDF_TYPE, EMI + "Trait")
            if (isPresent(r.TraitID))
              out += l(EMI + "Trait", DCTERMS + "identifier", s"TRYdb-${q(r.TraitID)}")
            if (isPresent(r.OrigValueStr)) {
              val dt = if (numeric.pattern.matcher(r.OrigValueStr).matches())
                XSD_DOUBLE else XSD_STRING
              out += l(result, RDF_VALUE, r.OrigValueStr, dt)
            }
          } else {
            out += iri(result, RDF_TYPE, EMI + "NonTrait")
            if (isPresent(r.OrigValueStr))
              out += l(result, RDF_VALUE, r.OrigValueStr)
          }
          if (isPresent(r.DataName)) out += l(result, RDFS_LABEL, r.DataName)
          if (isPresent(r.DataID))
            out += l(result, DCTERMS + "identifier", s"TRYdb-${q(r.DataID)}")
          if (isPresent(r.OrigUnitStr)) {
            val u = r.OrigUnitStr; val un = r.UnitName
            val unitUri: Option[String] =
              if (qudt.contains(u)) Some(QUDT_UNIT + qudt(u))
              else if (isPresent(un)) {
                if (qudt.contains(un)) Some(QUDT_UNIT + qudt(un))
                else emi.get(un)
              } else emi.get(u)
            unitUri.foreach(x => out += iri(result, QUDT_TRY + "hasUnit", x))
            out += l(result, RDFS_COMMENT, u.trim)
          }
        }
        if (wd != null)
          out += iri(organism, EMI + "inTaxon", WD + q(wd))
        if (r.AccSpeciesID != null && r.AccSpeciesID.nonEmpty)
          out += l(organism, DCTERMS + "identifier", s"TRYdb-${q(r.AccSpeciesID)}")
      }
    }

    val inverses = out.toSeq.collect {
      case t if !t.objIsLiteral && inverseRelations.contains(t.pred) =>
        Triple(t.obj, inverseRelations(t.pred), t.subj, false, "")
    }
    out ++= inverses
    out.toSet
  }

  def runCorpus(n: Int, withEnpkg: Boolean = false): Set[Triple] = {
    val rows = (0 until n).map(t => Trydb.trydbRow(t.toLong))
    val lineageRows = (0 until DataGen.K).map { k =>
      val kd = k % 3 match { case 0 => "Plantae"; case 1 => "Animalia"; case _ => null }
      (s"http://www.wikidata.org/entity/${DataGen.qid(k)}", DataGen.taxonName(k), kd)
    }
    val enpkg = if (withEnpkg)
      Some((0 until DataGen.K by 2).map(DataGen.qid).toSet) else None
    run(rows, lineageRows, enpkg)
  }
}
