package graft.kg

/** Data model + RDF vocabulary constants for the KG construction
  * pipeline.
  *
  * Input shape is the authoritative `input_hint` document table:
  * (doc_id: string, spans: array<struct<kind,text,media_ref,offset>>).
  * Triples are plain rows (no rdflib-style object graph): set semantics
  * come from a global distinct at materialize time (reference
  * counterpart: per-batch rdflib.Graph + cross-batch first-seen sets,
  * globi_kg_generator.py:78-81,122-126).
  */
object Model {

  /** Default row budget for driver-side or broadcast dictionaries: the
    * matcher's vocabulary (wd mapping + lineage rows), the resolution
    * dictionaries, the equivalence edges and the canonical mapping each
    * take the driver/broadcast arm at or below it, the distributed arm
    * above it.
    */
  val MaxDriverRows: Long = 2000000L

  /** The row guard's one action: the rows of `df` when it has at most
    * `maxDriverRows` of them, from a single limited collect that both
    * decides and fetches; None above the guard or when the guard is
    * non-positive. On a local relation Catalyst folds the limit into
    * the relation, so no job runs. The collect's jobs take `label` as
    * their call site ("guarded fetch <label>"), so a job listing names
    * what each fetch is for.
    */
  def driverRows(df: org.apache.spark.sql.DataFrame, maxDriverRows: Long, label: String)
      : Option[Array[org.apache.spark.sql.Row]] =
    if (maxDriverRows <= 0) None
    else {
      val sc = df.sparkSession.sparkContext
      // the short call site is a thread-local property: restore the
      // caller's, which may be an outer label
      val outer = sc.getLocalProperty(CallSiteShort)
      sc.setCallSite(s"guarded fetch $label")
      try Some(df.limit(math.min(maxDriverRows, Int.MaxValue - 1L).toInt + 1)
        .collect()).filter(_.length <= maxDriverRows)
      finally sc.setLocalProperty(CallSiteShort, outer)
    }

  /** The local property `SparkContext.setCallSite` sets. */
  private val CallSiteShort = "callSite.short"

  case class Span(kind: String, text: String, media_ref: String, offset: Int)
  case class Document(doc_id: String, spans: Seq[Span])

  /** One GloBI-shaped verbatim interaction record, reassembled from a
    * document's ordered text spans (reference input schema:
    * matcher.py:138-150 + globi_kg_generator.py:184-316 columns).
    */
  case class VerbatimRecord(
      doc_id: String,
      recNum: Long,
      sourceTaxonId: String, sourceTaxonName: String,
      sourceTaxonPathNames: String, sourceTaxonPathRankNames: String,
      targetTaxonId: String, targetTaxonName: String,
      targetTaxonPathNames: String, targetTaxonPathRankNames: String,
      interactionTypeName: String, interactionTypeId: String,
      localityName: String, referenceDoi: String, sourceDOI: String,
      decimalLatitude: String, decimalLongitude: String,
      sourceBodyPartName: String, sourceBodyPartId: String,
      sourceLifeStageName: String, sourceLifeStageId: String,
      targetBodyPartName: String, targetBodyPartId: String,
      targetLifeStageName: String, targetLifeStageId: String,
      sourceSexName: String, targetSexName: String,
      mediaRefs: Seq[String])

  case class Triple(subj: String, pred: String, obj: String,
      objIsLiteral: Boolean, objDatatype: String)

  // ---- namespaces (globi_kg_generator.py:16-24, trydb_kg_generator.py:16-23)
  val EMI = "https://w3id.org/emi#"
  val EMIBOX = "https://w3id.org/emi/abox#"
  val EMIUNIT = "https://w3id.org/emi/unit#"
  val SOSA = "http://www.w3.org/ns/sosa/"
  val DCTERMS = "http://purl.org/dc/terms/"
  val WD = "http://www.wikidata.org/entity/"
  val PROV = "http://www.w3.org/ns/prov#"
  val WGS84 = "http://www.w3.org/2003/01/geo/wgs84_pos#"
  val QUDT = "http://qudt.org/schema/qudt/"
  val QUDT_TRY = "https://qudt.org/schema/qudt/" // trydb generator uses https (trydb_kg_generator.py:22)
  val QUDT_UNIT = "http://qudt.org/vocab/unit/"
  val RDF = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"
  val RDFS = "http://www.w3.org/2000/01/rdf-schema#"
  val XSD = "http://www.w3.org/2001/XMLSchema#"

  val RDF_TYPE = RDF + "type"
  val RDFS_LABEL = RDFS + "label"
  val RDFS_COMMENT = RDFS + "comment"
  val RDF_VALUE = RDF + "value"
  val XSD_STRING = XSD + "string"
  val XSD_DOUBLE = XSD + "double"
  val XSD_INTEGER = XSD + "integer"

  /** OBO prefix → namespace map (globi_kg_generator.py:42-58). */
  val prefixToNamespace: Map[String, String] = Map(
    "AEO:" -> "http://purl.obolibrary.org/obo/AEO_",
    "CHEBI:" -> "http://purl.obolibrary.org/obo/CHEBI_",
    "CLYH:" -> "http://purl.obolibrary.org/obo/CLYH_",
    "ENVO:" -> "http://purl.obolibrary.org/obo/ENVO_",
    "FAO:" -> "http://purl.obolibrary.org/obo/FAO_",
    "FBdv:" -> "http://purl.obolibrary.org/obo/FBdv_",
    "HAO:" -> "http://purl.obolibrary.org/obo/HAO_",
    "NCIT:" -> "http://purl.obolibrary.org/obo/NCIT_",
    "OMIT:" -> "http://purl.obolibrary.org/obo/OMIT_",
    "PATO:" -> "http://purl.obolibrary.org/obo/PATO_",
    "PORO:" -> "http://purl.obolibrary.org/obo/PORO_",
    "RO:" -> "http://purl.obolibrary.org/obo/RO_",
    "UBERON:" -> "http://purl.obolibrary.org/obo/UBERON_",
    "PO:" -> "http://purl.obolibrary.org/obo/PO_",
    "QUDT:" -> QUDT)

  /** Inverse-relation map (constants.py:45-70). */
  val inverseRelations: Map[String, String] = {
    val d = DCTERMS; val s = SOSA
    Map(
      d + "isPartOf" -> (d + "hasPart"),
      d + "hasFormat" -> (d + "isFormatOf"),
      d + "hasVersion" -> (d + "isVersionOf"),
      d + "references" -> (d + "isReferencedBy"),
      d + "replaces" -> (d + "isReplacedBy"),
      d + "requires" -> (d + "isRequiredBy"),
      s + "isActedOnBy" -> (s + "actsOnProperty"),
      s + "isFeatureOfInterestOf" -> (s + "hasFeatureOfInterest"),
      s + "isResultOf" -> (s + "hasResult"),
      s + "isSampleOf" -> (s + "hasSample"),
      s + "isHostedBy" -> (s + "hosts"),
      s + "actsOnProperty" -> (s + "isActedOnBy"),
      s + "hasFeatureOfInterest" -> (s + "isFeatureOfInterestOf"),
      s + "hosts" -> (s + "isHostedBy"),
      s + "observes" -> (s + "isObservedBy"),
      s + "hasResult" -> (s + "isResultOf"),
      s + "hasSample" -> (s + "isSampleOf"),
      s + "madeByActuator" -> (s + "madeActuation"),
      s + "madeActuation" -> (s + "madeByActuator"),
      s + "madeSampling" -> (s + "madeBySampler"),
      s + "madeObservation" -> (s + "madeBySensor"),
      s + "madeBySensor" -> (s + "madeObservation"),
      s + "madeBySampler" -> (s + "madeSampling"),
      s + "isObservedBy" -> (s + "observes"))
  }

  /** External-taxonomy prefixes by wd-mapping column position
    * (matcher.py:17-21).
    */
  val externalPrefixes: Seq[String] = Seq(
    "EOL:", "GBIF:", "NCBI:", "OTT:", "ITIS:", "IRMNG:", "COL:", "NBN:",
    "WORMS:", "BOLD:", "PLAZI:", "APNI:", "msw3:", "INAT_TAXON:", "EPPO:")

  val predefinedRanks: Seq[String] = Seq(
    "kingdom", "phylum", "class", "order", "family", "genus", "species")

  /** Python urllib.parse.quote(s, safe="") parity (utils.py:104-106):
    * unreserved = [A-Za-z0-9_.~-]; everything else → %XX of each UTF-8
    * byte, uppercase hex.
    */
  private def unreserved(c: Char): Boolean =
    (c >= 'A' && c <= 'Z') || (c >= 'a' && c <= 'z') ||
      (c >= '0' && c <= '9') || c == '_' || c == '.' || c == '~' || c == '-'

  private val hexDigits = "0123456789ABCDEF".toCharArray

  def quote(s: String): String = {
    // fast path: fully-unreserved strings (the common case for minted
    // ids) return unchanged with no byte-array allocation
    var i = 0; var clean = true
    while (clean && i < s.length) { clean = unreserved(s.charAt(i)); i += 1 }
    if (clean) return s
    val bytes = s.getBytes("UTF-8")
    val sb = new java.lang.StringBuilder(bytes.length * 3)
    var j = 0
    while (j < bytes.length) {
      val b = bytes(j) & 0xff
      if (unreserved(b.toChar)) sb.append(b.toChar)
      else { sb.append('%'); sb.append(hexDigits(b >> 4)); sb.append(hexDigits(b & 0xf)) }
      j += 1
    }
    sb.toString
  }

  /** Widened-null predicate, Scala side (utils.py:20-22). */
  def isPresent(v: String): Boolean =
    v != null && v != "" && v != "\\N" && v != "no:match" && !v.startsWith("ĜLOBI:")

  /** Term preprocessing (utils.py:124-129). */
  def preprocessTerm(term: String): String = {
    val t = Option(term).getOrElse("").toLowerCase.trim
    if (!t.contains("mono") && !t.contains("auto") && t.endsWith("s"))
      t.substring(0, t.length - 1)
    else t
  }
}
