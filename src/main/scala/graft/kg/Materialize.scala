package graft.kg

import org.apache.spark.sql.{Column, DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import Model._

/** Stages 3+4 — triple emission and graph materialization
  * (src/knowledge_graph/globi_kg_generator.py re-expressed Spark-first).
  *
  * Resolution (two-tier id→name fallback, J6) is relational: two
  * broadcast joins + branch-ordered coalesce. Emission (one record → up
  * to ~30 conditional triples) is a typed flatMap with broadcast
  * vocabularies — the idiomatic Spark form of a generator/UDTF. Set
  * semantics (the reference's per-batch rdflib.Graph + cross-batch
  * first-seen sets, globi_kg_generator.py:78-81,122-126) become one
  * global dropDuplicates; inverse-relation augmentation (utils.py:84-100)
  * happens inline in the emission.
  *
  * Deviations from the reference, by design (documented for the parity
  * harness):
  *  - inRec{n} uses the deterministic per-document record number instead
  *    of the pandas row position (globi_kg_generator.py:213-217) —
  *    partition-order independence.
  *  - sex-count blank nodes are skolemized to :SEX-{n}-{side}-{local}
  *    IRIs (globi_kg_generator.py:293) so triple sets are comparable.
  *  - vocabulary-matched body-part/life-stage triples are emitted into
  *    the output graph; the reference accumulates them in
  *    GlobiEntityMatcher.graph which is never serialized
  *    (globi_entity_matcher.py:21,100 vs globi_kg_generator.py:326) —
  *    we treat that as a reference bug and keep the triples.
  *  - LABEL MULTIPLICITY: the reference emits rdf:type/rdfs:label for an
  *    entity URI only at FIRST occurrence via cross-batch seen-sets
  *    (intxn_type_set / entity_set, globi_kg_generator.py:122-126,
  *    231-234), so a URI whose source rows carry conflicting labels gets
  *    exactly one (the first batch's); this engine keeps every DISTINCT
  *    label per URI (order-independent set semantics — first-seen is not
  *    well-defined under distributed execution). On data where one URI
  *    has a single label (the common case, and the datagen corpus) the
  *    outputs are identical.
  */
object Materialize {

  case class ResolvedRecord(
      doc_id: String, recNum: Long,
      srcWd: String, srcName: String, tgtWd: String, tgtName: String,
      interactionTypeName: String, interactionTypeId: String,
      localityName: String, referenceDoi: String, sourceDOI: String,
      decimalLatitude: String, decimalLongitude: String,
      sourceBodyPartName: String, sourceBodyPartId: String,
      sourceLifeStageName: String, sourceLifeStageId: String,
      targetBodyPartName: String, targetBodyPartId: String,
      targetLifeStageName: String, targetLifeStageId: String,
      sourceSexName: String, targetSexName: String)

  /** Term vocabulary (body parts + life stages concatenated into ONE
    * dictionary, as the reference does — globi_entity_matcher.py:67) and
    * the biological-sex map (inputs lowercased at load, :89).
    */
  case class TermVocab(names: Map[String, String], uris: Map[String, String],
      sex: Map[String, String])

  def termVocab(): TermVocab = {
    val all = DataGen.bodyPartVocab ++ DataGen.lifeStageVocab
    TermVocab(
      names = all.filter(_._2.trim.nonEmpty).map(t => t._1 -> t._2).toMap,
      uris = all.filter(_._3.trim.nonEmpty).map(t => t._1 -> t._3).toMap,
      sex = DataGen.sexVocab.map(t => t._1.toLowerCase -> t._2).toMap)
  }

  // ---- wd-map dictionaries (globi_kg_generator.py:88-110) ---------------

  /** The matcher output's dictionary columns as [[wdMapDicts]] reads
    * them: TaxonId, TaxonName, Mapped_ID_WD and Mapped_Value with
    * "Wikidata:" and quotes stripped, then rowIdx — the rows
    * [[driverDicts]] takes.
    */
  private[graft] val dictColumns: Seq[Column] =
    Seq("TaxonId", "TaxonName", "Mapped_ID_WD", "Mapped_Value").map(c =>
      regexp_replace(regexp_replace(col(c), "Wikidata:", ""), "\"", "").as(c)) :+
      col("rowIdx")

  /** Matcher output → the two resolution dictionaries (key, wd, mv).
    * "Wikidata:" and quotes stripped from every column; empty
    * Mapped_ID_WD rows dropped; later rows win on key collision (pandas
    * dict-build order = ascending first-occurrence rowIdx).
    *
    * The ROW-COUNT GUARD ([[Model.driverRows]]): while the cleaned
    * matcher output has at most `maxDriverRows` rows, one limited
    * collect brings it to the driver, where [[driverDicts]] builds both
    * dictionaries as local relations — no job reads them again. Above
    * the guard, or with a non-positive guard, each dictionary is a
    * max_by aggregate, persisted because it is read several times (size
    * guard, collect or join probes); a caller loop releases it with
    * unpersist (a no-op on local relations). DictOrderSpec holds the
    * two arms equal.
    */
  def wdMapDicts(matcherOut: DataFrame,
      maxDriverRows: Long = MaxDriverRows): (DataFrame, DataFrame) = {
    val cleaned = matcherOut.select(dictColumns: _*)
      .filter(col("Mapped_ID_WD").isNotNull && col("Mapped_ID_WD") =!= "")
    driverRows(cleaned, maxDriverRows, "dictionaries") match {
      case Some(rows) => driverDicts(matcherOut.sparkSession, rows)
      case None =>
        def dict(key: String): DataFrame = cleaned
          .filter(col(key).isNotNull && col(key) =!= "")
          .groupBy(col(key).as("key"))
          .agg(max_by(struct(col("Mapped_ID_WD").as("wd"),
            col("Mapped_Value").as("mv")), col("rowIdx")).as("v"))
          .select(col("key"), col("v.wd").as("wd"), col("v.mv").as("mv"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        (dict("TaxonId"), dict("TaxonName"))
    }
  }

  /** The driver arm of [[wdMapDicts]] over rows of [[dictColumns]]
    * already on the driver (further columns are ignored): rows with an
    * empty Mapped_ID_WD dropped, then a walk in ascending rowIdx (rowIdx
    * is unique per matched row, so the last write per key is max_by's
    * winner).
    */
  private[graft] def driverDicts(spark: SparkSession,
      rows: Array[Row]): (DataFrame, DataFrame) = {
    import org.apache.spark.sql.types.{StructField, StructType, StringType}
    val schema = StructType(Seq("key", "wd", "mv")
      .map(StructField(_, StringType, nullable = true)))
    val byRowIdx = rows.filter(r => r.getString(2) != null && r.getString(2).nonEmpty)
      .sortBy(_.getLong(4))
    // toMap keeps the last pair per key: the highest rowIdx wins
    def dict(k: Int): DataFrame = spark.createDataFrame(
      java.util.Arrays.asList(byRowIdx.collect {
        case r if r.getString(k) != null && r.getString(k).nonEmpty =>
          r.getString(k) -> Row(r.getString(k), r.getString(2), r.getString(3))
      }.toMap.values.toSeq: _*), schema)
    (dict(0), dict(1))
  }

  /** Two-tier resolution (globi_kg_generator.py:184-209): raw id in the
    * id-dict, else raw name in the name-dict, else drop; then drop
    * self-interactions. The join arm of [[globiTriplesFused]]; its
    * row-count guard decides `broadcastDicts`. Dictionary-sized dicts
    * broadcast; an entity space that scales with the corpus falls back
    * to shuffle joins (salt with ops/Salting when the corpus plants hub
    * keys).
    */
  private def resolve(records: DataFrame, dictId: DataFrame, dictName: DataFrame,
      broadcastDicts: Boolean): Dataset[ResolvedRecord] = {
    val spark = records.sparkSession
    import spark.implicits._
    def h(df: DataFrame): DataFrame = if (broadcastDicts) broadcast(df) else df
    def lookup(df: DataFrame, p: String): DataFrame = {
      val byId = dictId.select(col("key").as(s"_${p}k1"),
        struct(col("wd"), col("mv")).as(s"_${p}byId"))
      val byName = dictName.select(col("key").as(s"_${p}k2"),
        struct(col("wd"), col("mv")).as(s"_${p}byName"))
      df.join(h(byId), col(s"${p}TaxonId") === col(s"_${p}k1"), "left")
        .join(h(byName), col(s"${p}TaxonName") === col(s"_${p}k2"), "left")
        .withColumn(s"_${p}res",
          coalesce(col(s"_${p}byId"), col(s"_${p}byName")))
        .withColumn(s"${p}Wd", col(s"_${p}res.wd"))
        .withColumn(s"${p}NameM",
          // row name wins when present (globi_kg_generator.py:192)
          when(col(s"${p}TaxonName").isNotNull && col(s"${p}TaxonName") =!= "",
            col(s"${p}TaxonName")).otherwise(col(s"_${p}res.mv")))
        .drop(s"_${p}k1", s"_${p}k2", s"_${p}byId", s"_${p}byName", s"_${p}res")
    }
    lookup(lookup(records, "source"), "target")
      .filter(col("sourceWd").isNotNull && col("targetWd").isNotNull &&
        col("sourceWd") =!= col("targetWd"))
      .select(
        col("doc_id"), col("recNum"),
        col("sourceWd").as("srcWd"), col("sourceNameM").as("srcName"),
        col("targetWd").as("tgtWd"), col("targetNameM").as("tgtName"),
        col("interactionTypeName"), col("interactionTypeId"),
        col("localityName"), col("referenceDoi"), col("sourceDOI"),
        col("decimalLatitude"), col("decimalLongitude"),
        col("sourceBodyPartName"), col("sourceBodyPartId"),
        col("sourceLifeStageName"), col("sourceLifeStageId"),
        col("targetBodyPartName"), col("targetBodyPartId"),
        col("targetLifeStageName"), col("targetLifeStageId"),
        col("sourceSexName"), col("targetSexName"))
      .as[ResolvedRecord]
  }

  // ---- per-record emission (globi_kg_generator.py:219-316) ---------------

  def iri(s: String, p: String, o: String): Triple = Triple(s, p, o, false, "")
  def lit0(s: String, p: String, o: String, dt: String = XSD_STRING): Triple =
    Triple(s, p, o, true, dt)

  // precompiled regex set for the hot emission path (compiling per call
  // dominated the flatMap CPU profile)
  private val prePostFixRe = java.util.regex.Pattern.compile(
    "(?i)(adult[as]?|tortere|juvenil[e]?|maybe|\\(?torete[s]?\\)?)")
  private val conj1Re = java.util.regex.Pattern.compile("(?i)\\b(and|y)\\b")
  private val conj2Re = java.util.regex.Pattern.compile("(?i)\\b(or)\\b")
  private val delimRe = java.util.regex.Pattern.compile("[,;/|&]+")
  private val delim1Re = java.util.regex.Pattern.compile("[\\[\\]\\(\\)\\?\\#:`]+")
  private val delim2Re = java.util.regex.Pattern.compile("[+.,]+")
  private val delim3Re = java.util.regex.Pattern.compile("\\s\\s")
  private val numberWordRe =
    "(\\d+)\\s*([\\w-]+)|([\\w-]+)\\s*(\\d+)".r

  private def stripPrePostfix(s: String): String =
    prePostFixRe.matcher(s).replaceAll("")

  /** _lookup_and_add_term (globi_entity_matcher.py:109-129): single-term
    * dictionary lookup with de-pluralization and prefix-strip retry.
    */
  def lookupTerm(name: String, subj: String, pred: String, rdfType: String,
      v: TermVocab): Seq[Triple] = {
    def hit(term: String): Option[(String, String)] =
      v.uris.get(term).map(u => (u, v.names(term)))
        .orElse(v.names.get(term).map(n => (EMIBOX + Model.quote(n), n)))
    val t0 = preprocessTerm(name)
    val cleaned = preprocessTerm(stripPrePostfix(t0))
    hit(t0).orElse(hit(cleaned)).toSeq.flatMap { case (uri, label) =>
      Seq(iri(subj, pred, uri), iri(uri, RDF_TYPE, rdfType),
        lit0(uri, RDFS_LABEL, label))
    }
  }

  /** _add_entity_to_graph (globi_kg_generator.py:113-140): OBO-prefix id,
    * http id, else vocabulary term match.
    */
  def addEntity(name: String, id: String, subj: String, pred: String,
      rdfType: String, v: TermVocab): Seq[Triple] = {
    if (isPresent(id)) {
      prefixToNamespace.collectFirst {
        case (p, ns) if id.startsWith(p) => ns + id.substring(p.length)
      } match {
        case Some(uri) =>
          return Seq(iri(subj, pred, uri), iri(uri, RDF_TYPE, rdfType),
            lit0(uri, RDFS_LABEL, Option(name).getOrElse("")))
        case None if id.startsWith("http") =>
          return Seq(iri(subj, pred, id), iri(id, RDF_TYPE, rdfType),
            lit0(id, RDFS_LABEL, Option(name).getOrElse("")))
        case None => ()
      }
    }
    lookupTerm(name, subj, pred, rdfType, v)
  }

  /** count_biological_sex (globi_entity_matcher.py:131-222, count_only
    * mode): canonicalize conjunctions/delimiters, split sub-terms, parse
    * (count, word) pairs, map through the sex vocabulary with cleaned
    * retry, unknown fallback; zero counts filtered.
    */
  def countBiologicalSex(sexString: String, sex: Map[String, String])
      : Seq[(String, Int)] = {
    var s = Option(sexString).getOrElse("").toLowerCase.trim
    s = conj1Re.matcher(s).replaceAll(",")
    s = conj2Re.matcher(s).replaceAll("")
    s = delimRe.matcher(s).replaceAll(",")
    s = delim1Re.matcher(s).replaceAll(" ")
    s = delim3Re.matcher(s).replaceAll(" ")
    val subTerms = delim2Re.split(s, -1)
    val counts = scala.collection.mutable.LinkedHashMap[String, Int]()
    def add(uri: String, n: Int): Unit = counts(uri) = counts.getOrElse(uri, 0) + n
    def mapTerm(word: String, n: Int): Unit = {
      val w = preprocessTerm(word)
      sex.get(w) match {
        case Some(u) => add(u, n)
        case None =>
          val cleaned = preprocessTerm(stripPrePostfix(w))
          sex.get(cleaned) match {
            case Some(u) => add(u, n)
            case None => add(sex.getOrElse("unknown", "unknown_id"), n)
          }
      }
    }
    subTerms.foreach { term =>
      val cleanedForMatch = delim2Re.matcher(term).replaceAll(" ")
      val ms = numberWordRe.findAllMatchIn(cleanedForMatch).toSeq
      if (ms.nonEmpty) ms.foreach { m =>
        val numberStr = Option(m.group(1)).filter(_.nonEmpty)
          .orElse(Option(m.group(4)).filter(_.nonEmpty))
        val word = Option(m.group(2)).filter(_.nonEmpty)
          .getOrElse(Option(m.group(3)).getOrElse(""))
        mapTerm(word.trim, numberStr.map(_.toInt).getOrElse(1))
      }
      else mapTerm(term.trim, 1)
    }
    counts.toSeq.filter(_._2 != 0)
  }

  /** All triples for one resolved record, deduplicated within the record
    * (the reference's per-batch rdflib.Graph set semantics cover the
    * within-record case, e.g. referenceDoi == sourceDOI), each with a
    * sharing tag: triples whose subject is minted from
    * this record's recNum (inRec / SAMPLE-…-inRec / SEX-n-…) are
    * globally unique BY CONSTRUCTION once deduplicated within the
    * record — only entity-description triples (vocabulary entities,
    * interaction types, sex kinds: tagged shared=true) can repeat across
    * records and need the global distinct. At 10^12 documents this
    * removes the full-graph shuffle: the shared subset has a tiny
    * distinct domain and collapses in map-side partial aggregation.
    */
  def emitTagged(r: ResolvedRecord, v: TermVocab): Seq[(Triple, Boolean)] = {
    val n = r.recNum
    val rec = EMIBOX + s"inRec$n"
    val srcUri = EMIBOX + s"SAMPLE-${Model.quote(r.srcWd)}-inRec$n"
    val tgtUri = EMIBOX + s"SAMPLE-${Model.quote(r.tgtWd)}-inRec$n"
    // within-record set semantics; unique/shared subjects are disjoint
    // domains so tagging by first insertion is sound. Inverse-relation
    // augmentation (utils.py:84-100) happens inline: every inverse-mapped
    // predicate we emit is record-scoped, so the inverse inherits the
    // tag and the whole augmentation costs zero extra passes.
    val seen = scala.collection.mutable.LinkedHashSet[(Triple, Boolean)]()
    def add(t: Triple, sh: Boolean): Unit = {
      seen += ((t, sh))
      if (!t.objIsLiteral)
        inverseRelations.get(t.pred).foreach { inv =>
          seen += ((Triple(t.obj, inv, t.subj, false, ""), sh))
        }
    }
    def uniq(t: Triple): Unit = add(t, sh = false)
    def shared(t: Triple): Unit = add(t, sh = true)

    uniq(iri(rec, RDF_TYPE, EMI + "Interaction"))
    uniq(iri(rec, EMI + "hasSource", srcUri))
    uniq(iri(rec, EMI + "hasTarget", tgtUri))

    // classification (globi_kg_generator.py:228-242)
    val tnPresent = isPresent(r.interactionTypeName)
    val tiPresent = isPresent(r.interactionTypeId)
    if (tnPresent && tiPresent) {
      uniq(iri(rec, EMI + "isClassifiedWith", r.interactionTypeId))
      shared(iri(r.interactionTypeId, RDF_TYPE, EMI + "InteractionType"))
      shared(lit0(r.interactionTypeId, RDFS_LABEL, r.interactionTypeName))
    }
    if (!tiPresent && tnPresent) {
      val tUri = EMIBOX + r.interactionTypeName
      uniq(iri(rec, EMI + "isClassifiedWith", tUri))
      shared(iri(tUri, RDF_TYPE, EMI + "InteractionType"))
    }

    if (isPresent(r.localityName))
      uniq(lit0(rec, PROV + "atLocation", r.localityName))
    if (isPresent(r.referenceDoi))
      uniq(lit0(rec, DCTERMS + "bibliographicCitation", r.referenceDoi))
    if (isPresent(r.sourceDOI))
      uniq(lit0(rec, DCTERMS + "bibliographicCitation", r.sourceDOI))
    if (isPresent(r.decimalLatitude))
      uniq(lit0(rec, WGS84 + "lat", r.decimalLatitude))
    if (isPresent(r.decimalLongitude))
      uniq(lit0(rec, WGS84 + "long", r.decimalLongitude))

    def sample(uri: String, wd: String, name: String): Unit = {
      if (isPresent(name)) {
        uniq(iri(uri, RDF_TYPE, SOSA + "Sample"))
        uniq(lit0(uri, RDFS_LABEL, name))
        uniq(iri(uri, SOSA + "isSampleOf", EMIBOX + s"ORGANISM-${Model.quote(name)}"))
      }
      uniq(iri(uri, EMI + "inTaxon", WD + wd))
    }
    sample(srcUri, r.srcWd, r.srcName)
    sample(tgtUri, r.tgtWd, r.tgtName)

    // body parts / life stages (globi_kg_generator.py:280-288):
    // addEntity returns [link (record-scoped), type, label (shared)]
    def ent(name: String, id: String, subj: String, pred: String, tp: String): Unit =
      if (isPresent(name) || isPresent(id))
        addEntity(name, id, subj, pred, tp, v).zipWithIndex.foreach {
          case (t, 0) => uniq(t)
          case (t, _) => shared(t)
        }
    ent(r.sourceBodyPartName, r.sourceBodyPartId, srcUri,
      EMI + "hasAnatomicalEntity", EMI + "AnatomicalEntity")
    ent(r.targetBodyPartName, r.targetBodyPartId, tgtUri,
      EMI + "hasAnatomicalEntity", EMI + "AnatomicalEntity")
    ent(r.sourceLifeStageName, r.sourceLifeStageId, srcUri,
      EMI + "hasDevelopmentalStage", EMI + "DevelopmentalStage")
    ent(r.targetLifeStageName, r.targetLifeStageId, tgtUri,
      EMI + "hasDevelopmentalStage", EMI + "DevelopmentalStage")

    // biological sex (globi_kg_generator.py:290-316), skolemized bnodes
    def sexTriples(sexName: String, subj: String, side: String): Unit =
      if (isPresent(sexName)) countBiologicalSex(sexName, v.sex).foreach {
        case (uri, qty) =>
          val local = uri.substring(uri.lastIndexOf('/') + 1)
          val b = EMIBOX + s"SEX-$n-$side-$local"
          uniq(iri(subj, EMI + "hasSex", b))
          uniq(iri(b, QUDT + "quantityKind", uri))
          uniq(lit0(b, QUDT + "numericValue", qty.toString, XSD_INTEGER))
          shared(iri(uri, RDF_TYPE, EMI + "BiologicalSex"))
      }
    sexTriples(r.sourceSexName, srcUri, "src")
    sexTriples(r.targetSexName, tgtUri, "tgt")
    seen.toSeq
  }

  /** Media-span triples (north-rule media resolution, FIXTURES §2.7).
    * The record→media link is record-scoped (shared=false, assuming
    * media_refs are distinct within a doc — the extraction guarantees
    * span order and the corpus contract has unique refs per doc); the
    * media-object description triples are shared.
    */
  private def mediaTriplesTagged(mediaMentions: DataFrame): DataFrame = {
    val rec = concat(lit(EMIBOX + "inRec"), col("recNum"))
    val m = concat(lit(EMIBOX), col("media_ref"))
    def tr(s: Column, p: Column, o: Column, isLit: Boolean, dt: String,
        sh: Boolean) =
      struct(s.as("subj"), p.as("pred"), o.as("obj"),
        lit(isLit).as("objIsLiteral"), lit(dt).as("objDatatype"),
        lit(sh).as("shared"))
    val rows = mediaMentions.filter(col("entity_id").isNotNull).select(
      array(
        tr(rec, lit(EMI + "hasMediaEvidence"), m, false, "", sh = false),
        tr(m, lit(RDF_TYPE), lit(EMI + "MediaObject"), false, "", sh = true),
        tr(m, lit(EMI + "depicts"), concat(lit(WD), col("entity_id")), false, "",
          sh = true),
        tr(m, lit(RDFS_LABEL), col("caption"), true, XSD_STRING, sh = true))
        .as("ts"))
    rows.select(explode(col("ts")).as("t")).select(col("t.*"))
  }

  /** The GloBI triple table: resolution + emission + set semantics, the
    * one entry point every construction caller shares. One tagged core
    * ([[taggedTriples]]) plus one split dedup ([[splitDedup]]). The
    * persisted tagged table stays cached; a loop calls the two parts
    * itself and releases it (the incremental path, which also anti-joins
    * the shared subset against the published table, and the streaming
    * micro-batch).
    *
    * `maxDriverRows` is the same row-count guard the matcher takes:
    * dictionaries of at most that many rows together are fetched with
    * one limited collect each (no job on [[wdMapDicts]]' local
    * relations) and broadcast as hash maps (the reference's
    * broadcast-dict design, globi_kg_generator.py:88-110) so one flatMap
    * walks records → triples with no resolution exchange; larger ones
    * resolve through the relational join. A non-positive guard forces
    * the join arm.
    */
  def globiTriplesFused(records: DataFrame, dictId: DataFrame,
      dictName: DataFrame, mediaMentions: Option[DataFrame] = None,
      maxDriverRows: Long = MaxDriverRows): DataFrame =
    // referenced twice by the split (unique/shared branches) — persist so
    // the emission flatMap runs exactly once
    splitDedup(taggedTriples(records, dictId, dictName, mediaMentions, maxDriverRows)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))

  /** Tagged emission: (triple columns, shared) with media triples unioned
    * in and no dedup applied. shared=true ⇒ the triple's subject is
    * content-derived and may repeat across records; false ⇒ minted from
    * this record's recNum, globally unique by construction. Not
    * persisted: a caller reading it twice (every [[splitDedup]] does)
    * persists it and owns its release.
    */
  private[graft] def taggedTriples(records: DataFrame, dictId: DataFrame,
      dictName: DataFrame, mediaMentions: Option[DataFrame],
      maxDriverRows: Long): DataFrame = {
    val spark = records.sparkSession
    import spark.implicits._
    val bcVocab = spark.sparkContext.broadcast(termVocab())
    // a function value, not a local def: a lifted def would drag the
    // enclosing object into the task closure
    val emitRows = (r: ResolvedRecord) => emitTagged(r, bcVocab.value).map {
      case (t, sh) => (t.subj, t.pred, t.obj, t.objIsLiteral, t.objDatatype, sh)
    }
    // one limited collect per dictionary decides and fetches it; on the
    // local relations wdMapDicts returns under its guard no job runs
    val fetched = for {
      byId <- driverRows(dictId, maxDriverRows, "dictionary by id")
      byName <- driverRows(dictName, maxDriverRows, "dictionary by name")
      if byId.length + byName.length <= maxDriverRows
    } yield (byId, byName)
    val tagged = fetched match {
      case Some((byId, byName)) =>
        def toMap(rows: Array[org.apache.spark.sql.Row]) =
          rows.map(r => r.getString(0) -> (r.getString(1), r.getString(2))).toMap
        val bcId = spark.sparkContext.broadcast(toMap(byId))
        val bcName = spark.sparkContext.broadcast(toMap(byName))
        val cols = Seq("doc_id", "recNum",
          "sourceTaxonId", "sourceTaxonName", "targetTaxonId", "targetTaxonName",
          "interactionTypeName", "interactionTypeId", "localityName",
          "referenceDoi", "sourceDOI", "decimalLatitude", "decimalLongitude",
          "sourceBodyPartName", "sourceBodyPartId", "sourceLifeStageName",
          "sourceLifeStageId", "targetBodyPartName", "targetBodyPartId",
          "targetLifeStageName", "targetLifeStageId", "sourceSexName",
          "targetSexName")
        records.select(cols.map(col): _*).flatMap { r =>
          def s(i: Int) = r.getString(i)
          // same semantics as resolve(): id hit wins, else name; the row
          // name wins over the mapped value when present
          def resolveSide(id: String, name: String): Option[(String, String)] =
            bcId.value.get(id).orElse(bcName.value.get(name)).map { case (wd, mv) =>
              (wd, if (name != null && name.nonEmpty) name else mv)
            }
          (resolveSide(s(2), s(3)), resolveSide(s(4), s(5))) match {
            case (Some((sWd, sName)), Some((tWd, tName))) if sWd != tWd =>
              emitRows(ResolvedRecord(s(0), r.getLong(1), sWd, sName, tWd, tName,
                s(6), s(7), s(8), s(9), s(10), s(11), s(12), s(13), s(14), s(15),
                s(16), s(17), s(18), s(19), s(20), s(21), s(22)))
            case _ => Nil
          }
        }
      case None =>
        resolve(records, dictId, dictName,
          broadcastDicts = dictId.count() + dictName.count() <= MaxDriverRows)
          .flatMap(emitRows)
    }
    val df = tagged.toDF("subj", "pred", "obj", "objIsLiteral", "objDatatype", "shared")
    mediaMentions.map(m => df.unionByName(mediaTriplesTagged(m))).getOrElse(df)
  }

  private val TripleCols = Seq("subj", "pred", "obj", "objIsLiteral", "objDatatype")

  /** Split dedup over a tagged emission: record-scoped triples are
    * already distinct within the record and globally unique by their
    * recNum-minted subjects, so only the shared entity-description subset
    * goes through a global distinct (tiny distinct domain → collapses
    * map-side, near-zero shuffle). `newShared` post-filters that subset
    * (the incremental path drops triples already published). Inverses
    * are already inline (emitTagged).
    */
  private[graft] def splitDedup(tagged: DataFrame,
      newShared: DataFrame => DataFrame = identity): DataFrame = {
    val part = (sh: Boolean) =>
      tagged.filter(col("shared") === sh).select(TripleCols.map(col): _*)
    part(false).unionByName(newShared(part(true).dropDuplicates(TripleCols)))
  }

  /** Graph layout: REBALANCE by the filename-safe `predicate` column it
    * adds, then subject-sorted within each partition; the graph table
    * of [[Pipeline.runFromTable]] is written partitioned by `predicate`,
    * i.e. predicate=<p>/part-*.parquet in each snapshot's data directory
    * (north rule). AQE sizes the output partitions from the shuffle
    * bytes: small predicates coalesce into one task (one file each), a
    * predicate above the advisory partition size is split, and no
    * range-sampling job runs.
    */
  def predicateLayout(triples: DataFrame): DataFrame =
    triples
      .withColumn("predicate", regexp_replace(col("pred"), "[^A-Za-z0-9]+", "_"))
      .hint("rebalance", col("predicate"))
      .sortWithinPartitions(col("predicate"), col("subj"))
}
