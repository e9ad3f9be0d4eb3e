package graft.normalize

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Column-function library re-expressing the reference's normalization
  * semantics as pure Catalyst expressions (codegen-friendly, no UDFs).
  *
  * Reference semantics (cited into /root/reference/):
  *  - widened-null predicate: src/common/utils.py:20-22
  *  - term preprocessing (de-pluralization): src/common/utils.py:124-129
  *  - URI normalization rule table: src/taxonomy_matching/matcher.py:160-175
  *  - pre/postfix strip: src/knowledge_graph/globi_entity_matcher.py:36
  *  - numeric-literal detection: src/knowledge_graph/trydb_kg_generator.py:130-134
  */
object Norm {

  /** Widened-null predicate (utils.py:20-22): None / NaN / "" / "\N" /
    * "no:match" / values starting with the mojibake marker "ĜLOBI:" all
    * count as empty. Returns true when the value is PRESENT (non-empty).
    */
  def isPresent(c: Column): Column =
    c.isNotNull && c =!= "" && c =!= "\\N" && c =!= "no:match" &&
      !c.startsWith("ĜLOBI:")

  /** Term preprocessing (utils.py:124-129): lowercase, trim, then drop one
    * trailing 's' unless the term contains "mono" or "auto".
    */
  def preprocessTerm(c: Column): Column = {
    val t = lower(trim(c))
    when(
      !t.contains("mono") && !t.contains("auto") && t.endsWith("s"),
      t.substr(lit(1), length(t) - 1)
    ).otherwise(t)
  }

  /** URI/id normalization rule table (matcher.py:160-175) applied in the
    * reference's declaration order (regex, first-match-per-rule, global).
    *
    * DELIBERATE PARITY DEVIATION: the reference passes these patterns to
    * pandas.replace as LIVE regex, so in the reference
    * "…BarcodeCluster?clusteruri=BOLD" makes the 'r' optional ("Cluste",
    * "Cluster") and never matches the literal '?' URL, and
    * "SingleRpt?search_topic…" likewise ("SingleRp", "SingleRpt").
    * We treat that as a reference bug and escape the metacharacters so
    * the rules match the literal URLs they were evidently written for.
    * Data containing the raw id forms those live-regexes accidentally
    * match would normalize differently here.
    */
  val uriRules: Seq[(String, String)] = Seq(
    "https://www\\.wikidata\\.org/wiki/" -> "Wikidata:",
    "https://www\\.wikidata\\.org/entity/" -> "Wikidata:",
    "urn:lsid:marinespecies\\.org:taxname" -> "WORMS",
    "urn:lsid:irmng\\.org:taxname" -> "IRMNG",
    "http://www\\.boldsystems\\.org/index\\.php/Public_BarcodeCluster\\?clusteruri=BOLD" -> "BOLD",
    "https://www\\.itis\\.gov/servlet/SingleRpt/SingleRpt\\?search_topic=TSN&search_value=" -> "ITIS:",
    "https://www\\.inaturalist\\.org/taxa/" -> "INAT_TAXON:",
    "https://www\\.gbif\\.org/species/" -> "GBIF:",
    "https://species\\.nbnatlas\\.org/species/" -> "NBN:",
    "https://gd\\.eppo\\.int/taxon/" -> "EPPO:",
    "^tsn" -> "ITIS",
    "GBIF: \\+" -> "GBIF:",
    "gbif: \\+" -> "GBIF:",
    "gbif:" -> "GBIF:"
  )

  def normalizeUri(c: Column): Column =
    uriRules.foldLeft(c) { case (acc, (pat, rep)) => regexp_replace(acc, pat, rep) }

  /** Numeric-literal detection (trydb_kg_generator.py:130-134):
    * fullmatch of -?[0-9]+(\.[0-9]+)?(E[+-][0-9]+)? selects xsd:double.
    */
  def isNumericLiteral(c: Column): Column =
    c.rlike("^-?[0-9]+(\\.[0-9]+)?(E[+-][0-9]+)?$")

  /** Pre/postfix strip (globi_entity_matcher.py:36): removes
    * adult(a|s)? / tortere / juvenil(e)? / maybe / (torete(s))?.
    */
  def stripPrePostfix(c: Column): Column =
    regexp_replace(c, "(?i)(adult[as]?|tortere|juvenil[e]?|maybe|\\(?torete[s]?\\)?)", "")

  /** Percent-encoding matching Python urllib.parse.quote(s, safe="")
    * (utils.py:104-106): every byte outside [A-Za-z0-9_.~-] becomes %XX
    * (uppercase hex) of its UTF-8 encoding. Spark's url_encode implements
    * application/x-www-form-urlencoded (space → '+'), so we post-fix the
    * three divergences: '+' → %20, '*' → %2A, '%7E' → '~'.
    */
  def formatUri(c: Column): Column = {
    val enc = url_encode(c)
    val fixPlus = regexp_replace(enc, "\\+", "%20")
    val fixStar = regexp_replace(fixPlus, "\\*", "%2A")
    regexp_replace(fixStar, "%7E", "~")
  }
}
