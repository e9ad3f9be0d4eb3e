package graft.kg

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import Model._

/** Deterministic synthetic corpus + vocabulary fixtures (FIXTURES.md).
  *
  * Documents are generated distributed (spark.range → typed map): every
  * field is a pure function of (seed, doc index), so output is identical
  * at any partitioning — the property the partition-count-invariance
  * tests assert. Vocabulary tables are small (broadcast side) and built
  * on the driver.
  *
  * The corpus renders one GloBI-shaped interaction record per document
  * as an ordered span sequence (kind=text spans carry "field: value"
  * sentences; kind=media spans carry media_ref only), matching the
  * input_hint schema exactly. A Zipf-ish hub taxon (k=0) appears in ~20%
  * of documents to exercise skew salting.
  */
object DataGen {

  val K = 200 // taxa in the universe (15 duplicate-name clusters via k%13==5)

  /** Name index: taxa where k % 13 == 5 share their name with taxon k-1
    * (duplicate WdNames with divergent lineages → scored disambiguation,
    * matcher.py:248-280).
    */
  def nameIndex(k: Int): Int = if (k % 13 == 5 && k > 0) k - 1 else k
  def taxonName(k: Int): String = s"Taxon ${nameIndex(k)}"
  def qid(k: Int): String = s"Q${1000 + k}"

  case class Lineage(kingdom: String, phylum: String, clazz: String,
      order: String, family: String, genus: String, species: String)

  def lineage(k: Int): Lineage = Lineage(
    kingdom = s"Kingdom${k % 3}",
    phylum = s"Phylum${k % 7}",
    clazz = s"Class${k % 11}",
    order = s"Order${k % 5}",
    family = s"Family${k % 23}",
    genus = s"Genus${k % 29}",
    species = taxonName(k))

  /** Taxa present in the wd id-mapping table (k % 5 != 2: the rest only
    * resolve by name via the lineage tables).
    */
  def inWdMapping(k: Int): Boolean = k % 5 != 2

  // ---- vocabulary tables ------------------------------------------------

  /** wd_sparql mapping rows (FIXTURES §2.1): WdID, 15 external-id cols,
    * WdName — raw (un-prefixed) values; the matcher applies the
    * positional prefixes (matcher.py:108-112). Shared by the Spark
    * fixture, the broadcast matcher index, and the oracle.
    */
  def wdSparqlRows: Seq[Seq[String]] =
    (0 until K).filter(inWdMapping).map { k =>
      val ext = (1 to 15).map { c =>
        // external id present only for some (k, taxonomy) combos
        if ((k + c) % 3 == 0) null else s"${k * 100 + c}"
      }
      (s"http://www.wikidata.org/entity/${qid(k)}" +: ext :+ taxonName(k)).toSeq
    }

  def wdSparql(spark: SparkSession): DataFrame = {
    val cols = Seq("WdID", "eol", "gbif", "ncbi", "ott", "itis", "irmng",
      "col", "nbn", "worms", "bold", "plazi", "apni", "msw3", "iNat",
      "eppo", "WdName")
    import org.apache.spark.sql.types._
    val schema = StructType(cols.map(StructField(_, StringType, nullable = true)))
    spark.createDataFrame(
      spark.sparkContext.parallelize(
        wdSparqlRows.map(org.apache.spark.sql.Row.fromSeq), 1), schema)
  }

  /** Aligned lineage rows (FIXTURES §2.2): all K taxa. */
  def lineageRows: Seq[Seq[String]] =
    (0 until K).map { k =>
      val l = lineage(k)
      Seq(s"http://www.wikidata.org/entity/${qid(k)}", taxonName(k),
        l.kingdom, l.phylum, l.clazz, l.order, l.family, l.genus, l.species)
    }

  def wdLineage(spark: SparkSession): DataFrame = {
    import spark.implicits._
    lineageRows.map(r => (r(0), r(1), r(2), r(3), r(4), r(5), r(6), r(7), r(8)))
      .toDF("WdID", "WdName", "kingdom", "phylum", "class", "order",
        "family", "genus", "species")
  }

  /** Media metadata (FIXTURES §2.7): media_ref → depicted entity + caption. */
  def mediaRows: Seq[(String, String, String)] =
    (0 until 24).map { m =>
      (s"MEDIA-$m", qid((m * 3) % K), s"Image $m of ${taxonName((m * 3) % K)}")
    }

  def mediaMeta(spark: SparkSession): DataFrame = {
    import spark.implicits._
    mediaRows.toDF("media_ref", "entity_id", "caption")
  }

  /** Body-part vocabulary (FIXTURES §2.8): InputTerm, BestMatch, URI
    * (URI empty → abox IRI path, globi_entity_matcher.py:109-129).
    */
  val bodyPartVocab: Seq[(String, String, String)] = Seq(
    ("leaf", "leaf", "http://purl.obolibrary.org/obo/PO_0025034"),
    ("stem", "stem", "http://purl.obolibrary.org/obo/PO_0009047"),
    ("root", "root", "http://purl.obolibrary.org/obo/PO_0009005"),
    ("wing", "wing", "http://purl.obolibrary.org/obo/UBERON_0000023"),
    ("leg", "leg", "http://purl.obolibrary.org/obo/UBERON_0000978"),
    ("flower", "flower", "http://purl.obolibrary.org/obo/PO_0009046"),
    ("seed", "seed", ""),
    ("bark", "bark", ""),
    ("fruit", "fruit", "http://purl.obolibrary.org/obo/PO_0009001"))

  val lifeStageVocab: Seq[(String, String, String)] = Seq(
    ("adult", "adult", "http://purl.obolibrary.org/obo/UBERON_0007023"),
    ("larva", "larva", "http://purl.obolibrary.org/obo/UBERON_0000069"),
    ("juvenile", "juvenile", ""),
    ("egg", "egg", "http://purl.obolibrary.org/obo/UBERON_0007379"),
    ("pupa", "pupa", "http://purl.obolibrary.org/obo/UBERON_0000070"),
    ("seedling", "seedling", ""))

  /** Biological-sex map (input lowercased at load,
    * globi_entity_matcher.py:89).
    */
  val sexVocab: Seq[(String, String)] = Seq(
    ("male", "http://purl.obolibrary.org/obo/PATO_0000384"),
    ("female", "http://purl.obolibrary.org/obo/PATO_0000383"),
    ("hermaphrodite", "http://purl.obolibrary.org/obo/PATO_0001340"),
    ("unknown", "http://purl.obolibrary.org/obo/PATO_0001827"))

  val interactionTypes: Seq[(String, String)] = Seq(
    ("eats", "http://purl.obolibrary.org/obo/RO_0002470"),
    ("pollinates", "http://purl.obolibrary.org/obo/RO_0002455"),
    ("parasiteOf", "http://purl.obolibrary.org/obo/RO_0002444"),
    ("visitsFlowersOf", "http://purl.obolibrary.org/obo/RO_0002622"),
    ("preysOn", ""))

  val bodyPartNoisy: Seq[String] = Seq(
    "leaf", "leaves and stems", "2 wings", "(roots)", "maybe adult legs",
    "flower; seed", "bark", "fruits", "LEAF", "stem/root", "",
    "tortere wing") // exercises the tortere prefix-strip arm (F7)

  val bodyPartIds: Seq[String] = Seq(
    "PO:0025034", "", "", "http://purl.obolibrary.org/obo/PO_0009046", "",
    "", "XX:123", "", "", "", "", "")

  val lifeStageNoisy: Seq[String] = Seq(
    "adult", "larvae", "juvenile", "adults and pupas", "egg", "seedlings", "",
    "juvenil pupa") // juvenil (no e) strip arm

  val lifeStageIds: Seq[String] = Seq(
    "", "UBERON:0000069", "", "", "", "", "", "")

  val sexNoisy: Seq[String] = Seq(
    "male", "female", "2 females and 1 male", "3 males, 2 females",
    "maybe female", "unknown", "hermaphrodites", "m&f", "",
    "females 2", // reversed number-word arm (([\w-]+)\s*(\d+))
    "1 male and females 2", // both F6 arms in one string
    "male or female or unknown") // multi-`or` conjunction arm (F5)

  // ---- record + document synthesis ---------------------------------------

  /** The verbatim record rendered into document i (pure function of i). */
  def record(i: Long): VerbatimRecord = {
    val ii = i.toInt
    def pick[T](s: Seq[T], j: Long): T = s(((j % s.size) + s.size).toInt % s.size)
    val ks = if (i % 5 == 0) 0 else ((i * 7919) % K).toInt // hub skew on taxon 0
    val ktRaw = ((i * 104729 + 1) % K).toInt
    val kt = if (ktRaw == ks) (ks + 1) % K else ktRaw

    def taxonId(k: Int, v: Long): String = (v % 7) match {
      case 0 => s"EOL:${k * 100 + 1}" // dictionary-hit external id
      case 1 => s"GBIF:${k * 100 + 2}"
      case 2 => "" // ID-NOT-PRESENT
      case 3 => s"UNKNOWN:$k" // ID-NOT-FOUND → name path
      case 4 => "\\N" // widened null
      case 5 => s"https://www.wikidata.org/entity/${qid(k)}" // URL form
      case 6 => s"ĜLOBI:$k" // mojibake null marker
    }
    def taxonNameNoisy(k: Int, v: Long): String = (v % 11) match {
      case 0 => taxonName(k).toUpperCase // case miss → stays unmatched
      case 1 => taxonName(k) + " " // trailing space
      case _ => taxonName(k)
    }
    def path(k: Int, v: Long): (String, String) = {
      val l = if (v % 9 == 0 && nameIndex(k) != k) lineage(k - 1) else lineage(k)
      if (v % 19 == 7)
        // duplicate rank name with CONFLICTING values: last occurrence
        // wins (dict(zip_longest) semantics, matcher.py:419)
        ("kingdom|kingdom|family", s"Zz-stale|${l.kingdom}|${l.family}")
      else if (v % 4 == 3)
        ("kingdom|family", s"${l.kingdom}|${l.family}")
      else
        ("kingdom|phylum|class|order|family|genus|species",
          s"${l.kingdom}|${l.phylum}|${l.clazz}|${l.order}|${l.family}|${l.genus}|${l.species}")
    }
    val (srcRanks, srcPath) = path(ks, i + 1)
    val (tgtRanks, tgtPath) = path(kt, i + 3)
    val (itName, itId) = pick(interactionTypes, i)
    val mediaRefs = if (i % 4 == 0) Seq(s"MEDIA-${(i % 24).toInt}") else Nil

    VerbatimRecord(
      doc_id = f"DOC-$i%09d",
      recNum = i,
      sourceTaxonId = taxonId(ks, i),
      sourceTaxonName = taxonNameNoisy(ks, i),
      sourceTaxonPathNames = srcPath,
      sourceTaxonPathRankNames = srcRanks,
      targetTaxonId = taxonId(kt, i + 2),
      targetTaxonName = taxonNameNoisy(kt, i + 5),
      targetTaxonPathNames = tgtPath,
      targetTaxonPathRankNames = tgtRanks,
      interactionTypeName = itName,
      interactionTypeId = if (i % 6 == 5) "" else itId,
      localityName = if (i % 3 == 0) s"Locality ${ii % 50}" else "",
      referenceDoi = if (i % 7 == 0) s"10.5555/ref.${ii % 100}" else "",
      sourceDOI = if (i % 8 == 0) s"10.5555/src.${ii % 100}" else "",
      decimalLatitude = if (i % 3 == 1) s"${(ii % 180) - 90}.${ii % 10}" else "",
      decimalLongitude = if (i % 3 == 1) s"${(ii % 360) - 180}.${ii % 10}" else "",
      sourceBodyPartName = pick(bodyPartNoisy, i),
      sourceBodyPartId = pick(bodyPartIds, i),
      sourceLifeStageName = pick(lifeStageNoisy, i + 1),
      sourceLifeStageId = pick(lifeStageIds, i + 1),
      targetBodyPartName = pick(bodyPartNoisy, i + 4),
      targetBodyPartId = pick(bodyPartIds, i + 4),
      targetLifeStageName = pick(lifeStageNoisy, i + 2),
      targetLifeStageId = pick(lifeStageIds, i + 2),
      sourceSexName = pick(sexNoisy, i),
      targetSexName = pick(sexNoisy, i + 6),
      mediaRefs = mediaRefs)
  }

  /** Field order for span rendering (fixed; drives span offsets). */
  val fieldOrder: Seq[String] = Seq(
    "sourceTaxonId", "sourceTaxonName", "sourceTaxonPathNames",
    "sourceTaxonPathRankNames", "targetTaxonId", "targetTaxonName",
    "targetTaxonPathNames", "targetTaxonPathRankNames",
    "interactionTypeName", "interactionTypeId", "localityName",
    "referenceDoi", "sourceDOI", "decimalLatitude", "decimalLongitude",
    "sourceBodyPartName", "sourceBodyPartId", "sourceLifeStageName",
    "sourceLifeStageId", "targetBodyPartName", "targetBodyPartId",
    "targetLifeStageName", "targetLifeStageId", "sourceSexName",
    "targetSexName")

  def fieldValue(r: VerbatimRecord, f: String): String = f match {
    case "sourceTaxonId" => r.sourceTaxonId
    case "sourceTaxonName" => r.sourceTaxonName
    case "sourceTaxonPathNames" => r.sourceTaxonPathNames
    case "sourceTaxonPathRankNames" => r.sourceTaxonPathRankNames
    case "targetTaxonId" => r.targetTaxonId
    case "targetTaxonName" => r.targetTaxonName
    case "targetTaxonPathNames" => r.targetTaxonPathNames
    case "targetTaxonPathRankNames" => r.targetTaxonPathRankNames
    case "interactionTypeName" => r.interactionTypeName
    case "interactionTypeId" => r.interactionTypeId
    case "localityName" => r.localityName
    case "referenceDoi" => r.referenceDoi
    case "sourceDOI" => r.sourceDOI
    case "decimalLatitude" => r.decimalLatitude
    case "decimalLongitude" => r.decimalLongitude
    case "sourceBodyPartName" => r.sourceBodyPartName
    case "sourceBodyPartId" => r.sourceBodyPartId
    case "sourceLifeStageName" => r.sourceLifeStageName
    case "sourceLifeStageId" => r.sourceLifeStageId
    case "targetBodyPartName" => r.targetBodyPartName
    case "targetBodyPartId" => r.targetBodyPartId
    case "targetLifeStageName" => r.targetLifeStageName
    case "targetLifeStageId" => r.targetLifeStageId
    case "sourceSexName" => r.sourceSexName
    case "targetSexName" => r.targetSexName
  }

  /** Render a record into its ordered span sequence: one text span per
    * non-empty field ("field: value"), then one media span per media_ref.
    * Offsets are cumulative character positions — strictly increasing.
    */
  def renderSpans(r: VerbatimRecord): Seq[Span] = {
    var off = 0
    val textSpans = fieldOrder.flatMap { f =>
      val v = fieldValue(r, f)
      if (v == null || v.isEmpty) None
      else {
        val text = s"$f: $v"
        val sp = Span("text", text, "", off)
        off += text.length + 1
        Some(sp)
      }
    }
    val mediaSpans = r.mediaRefs.map { m =>
      val sp = Span("media", "", m, off)
      off += 1
      sp
    }
    textSpans ++ mediaSpans
  }

  def document(i: Long): Document = {
    val r = record(i)
    Document(r.doc_id, renderSpans(r))
  }

  /** The interleaved document corpus, generated distributed in the
    * session's `defaultParallelism` partitions (the count `spark.range`
    * takes when given none): one slice per core.
    */
  def corpus(spark: SparkSession, nDocs: Long): Dataset[Document] =
    corpus(spark, nDocs, spark.sparkContext.defaultParallelism)

  /** The corpus in an explicit number of partitions; the documents do
    * not depend on it.
    */
  def corpus(spark: SparkSession, nDocs: Long, partitions: Int): Dataset[Document] = {
    import spark.implicits._
    spark.range(0, nDocs, 1, partitions).map(document(_))
  }
}
