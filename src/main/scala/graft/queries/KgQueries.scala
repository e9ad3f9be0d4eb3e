package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.kg._

/** Knowledge-graph construction surface exposed through the driver
  * contract.
  *
  * kg_pipeline_* run the real pipeline over the deterministic datagen
  * corpus (sized by the sf directory) — correctness for those is the
  * ScalaTest oracle (engine == single-threaded interpreter, P/R = 1.0);
  * the driver records rows-only here because the corpus is not a DuckDB
  * table. kg_mentions/kg_triples/kg_cc_* are KG archetypes expressed
  * over the shared `documents` table so DuckDB can verify them exactly.
  */
object KgQueries {

  /** sf0.001 → 500 docs, sf0.01 → 5k, sf0.1 → 50k. */
  def nDocsFor(dir: String): Long = {
    val sf = "sf([0-9.]+)".r.findFirstMatchIn(dir).map(_.group(1).toDouble)
      .getOrElse(0.001)
    math.max((sf * 500000).toLong, 100L)
  }

  /** Inline mention vocabulary over the documents word-soup. */
  val vocab: Seq[(String, String)] = Seq(
    "spark" -> "Q1", "table" -> "Q2", "query" -> "Q3",
    "stream" -> "Q4", "window" -> "Q5", "merge" -> "Q6")

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // flagship pipeline outputs, served from the once-per-scale
    // materialized tables (Materialized) — each is DuckDB-verified: the
    // oracle re-derives the records by the datagen closed form
    // (generate_series), reuses only the matcher side-channel, and
    // reproduces resolution + emission + inverses + dedup in SQL.
    "kg_pipeline_triples" -> ((s: SparkSession, dir: String) =>
      // explicit canonical column order: the pred-partitioned table
      // surfaces its partition column last, the emitted schema must not
      s.table(Materialized.globiTable(s, dir))
        .select(col("subj"), col("pred"), col("obj"), col("objIsLiteral"),
          col("objDatatype"))),

    "kg_pipeline_canonical" -> ((s: SparkSession, dir: String) => {
      val (_, matched) = Materialized.recordsAndMatched(s, dir)
      val edges = Canonical.equivalenceEdges(matched)
      Canonical.connectedComponents(edges).orderBy(col("node"))
    }),

    "kg_trydb_triples" -> ((s: SparkSession, dir: String) =>
      // same canonical-order select as kg_pipeline_triples
      s.table(Materialized.trydbTable(s, dir))
        .select(col("subj"), col("pred"), col("obj"), col("objIsLiteral"),
          col("objDatatype"))),

    // dictionary + word-boundary mention detection over documents (the
    // extraction archetype, SQL-verifiable)
    "kg_mentions" -> ((s: SparkSession, dir: String) => {
      import s.implicits._
      val d = s.read.parquet(s"$dir/documents.parquet")
      val v = vocab.toDF("term", "qid")
      // (doc_id, term) duplicates are within-doc only: array_distinct
      // in the scan row replaces the global distinct() shuffle
      d.select(col("doc_id"),
          explode(array_distinct(split(col("text"), "\\s+"))).as("term"))
        .join(broadcast(v), Seq("term"))
        .select(col("doc_id"), col("term"), col("qid"))
        .orderBy(col("doc_id"), col("term"))
    }),

    // mention triples + inverse augmentation + global distinct (J8 + A6)
    "kg_triples" -> ((s: SparkSession, dir: String) => {
      import s.implicits._
      val d = s.read.parquet(s"$dir/documents.parquet")
      val v = vocab.toDF("term", "qid")
      val mentions = d
        .select(col("doc_id"),
          explode(array_distinct(split(col("text"), "\\s+"))).as("term"))
        .join(broadcast(v), Seq("term"))
      val docUri = concat(lit("doc:"), col("doc_id"))
      val entUri = concat(lit("wd:"), col("qid"))
      def triple(subj: Column, pred: String, obj: Column) =
        struct(subj.as("subj"), lit(pred).as("pred"), obj.as("obj"))
      // each mention yields its three triple kinds from the one scan
      mentions.select(explode(array(
          triple(docUri, "emi:mentions", entUri),
          triple(entUri, "rdf:type", lit("emi:Entity")),
          triple(entUri, "emi:mentionedIn", docUri))).as("t"))
        .select(col("t.subj"), col("t.pred"), col("t.obj"))
        // one exchange into one partition, where the distinct and the
        // total order need none of their own (alone they cost a hash
        // exchange, a range exchange and its sampling job)
        .repartition(1)
        .distinct()
        .orderBy(col("subj"), col("pred"), col("obj"))
    }),

    // connected components (driver union-find under the row guard,
    // large-star/small-star above it) with a closed-form oracle: docs in
    // the same (source, lang) group form a path → component = min doc_id
    "kg_cc_components" -> ((s: SparkSession, dir: String) => {
      val d = s.read.parquet(s"$dir/documents.parquet")
      val w = Window.partitionBy(col("source"), col("lang")).orderBy(col("doc_id"))
      val edges = d.select(col("source"), col("lang"), col("doc_id"))
        .withColumn("nxt", lead(col("doc_id"), 1).over(w))
        .filter(col("nxt").isNotNull)
        .select(col("doc_id").as("src"), col("nxt").as("dst"))
      Canonical.connectedComponents(edges)
        .select(col("node"), col("component"))
        .orderBy(col("node"))
    }),

    // J9 — similarity best-match of free-text terms against a vocabulary
    // (match_names_to_ontology.py:38-44; embedding-cosine replaced by an
    // in-engine deterministic edit-distance argmin, SURVEY §2.3 J9)
    "j9_term_similarity" -> ((s: SparkSession, dir: String) => {
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val d = s.read.parquet(s"$dir/documents.parquet")
      val terms = d
        .select(explode(split(col("text"), "\\s+")).as("tok"))
        .filter(length(col("tok")) > 4)
        .select(expr("substring(tok, 1, length(tok) - 1)").as("term"))
        .distinct()
      val v = vocab.map(_._1).toDF("label")
      val w = Window.partitionBy(col("term"))
        .orderBy(col("dist").asc, col("label").asc)
      terms.crossJoin(broadcast(v))
        .withColumn("dist", levenshtein(col("term"), col("label")))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1 && col("dist") <= 2)
        .select(col("term"), col("label"), col("dist"))
        .orderBy(col("term"))
    }),

    // SPARQL-metrics archetype over the mention-triple table
    // (metrics/query_globi_records.txt as Spark SQL)
    "kg_metrics_counts" -> ((s: SparkSession, dir: String) => {
      import s.implicits._
      val d = s.read.parquet(s"$dir/documents.parquet")
      val v = vocab.toDF("term", "qid")
      val mentions = d
        .select(col("doc_id"),
          explode(array_distinct(split(col("text"), "\\s+"))).as("term"))
        .join(broadcast(v), Seq("term"))
      mentions.agg(
        count(lit(1)).as("n_mentions"),
        countDistinct(col("doc_id")).as("n_docs"),
        countDistinct(col("qid")).as("n_entities"))
    })
  )

  val oracle: Map[String, String] = {
    val vocabValues = vocab.map { case (t, q) => s"('$t','$q')" }.mkString(", ")
    val mentionsCte =
      s"""v(term, qid) AS (SELECT * FROM (VALUES $vocabValues)),
          tok AS (SELECT DISTINCT doc_id, token FROM (
            SELECT doc_id, UNNEST(regexp_split_to_array(text, '\\s+')) AS token
            FROM documents)),
          mentions AS (
            SELECT doc_id, token AS term, qid FROM tok JOIN v ON tok.token = v.term)"""
    Map(
      "kg_mentions" -> s"""
         WITH $mentionsCte
         SELECT doc_id, term, qid FROM mentions ORDER BY doc_id, term""",

      "kg_triples" -> s"""
         WITH $mentionsCte,
         base AS (
           SELECT 'doc:' || doc_id AS subj, 'emi:mentions' AS pred,
                  'wd:' || qid AS obj FROM mentions
           UNION ALL
           SELECT 'wd:' || qid, 'rdf:type', 'emi:Entity' FROM mentions),
         inv AS (
           SELECT obj AS subj, 'emi:mentionedIn' AS pred, subj AS obj
           FROM base WHERE pred = 'emi:mentions')
         SELECT DISTINCT subj, pred, obj FROM (
           SELECT * FROM base UNION ALL SELECT * FROM inv)
         ORDER BY subj, pred, obj""",

      "j9_term_similarity" -> {
        val labels = vocab.map(v => s"('${v._1}')").mkString(", ")
        s"""WITH terms AS (
             SELECT DISTINCT substring(tok, 1, length(tok) - 1) AS term FROM (
               SELECT UNNEST(regexp_split_to_array(text, '\\s+')) AS tok
               FROM documents)
             WHERE length(tok) > 4),
           v(label) AS (SELECT * FROM (VALUES $labels)),
           scored AS (
             SELECT term, label, levenshtein(term, label) AS dist,
                    ROW_NUMBER() OVER (PARTITION BY term
                      ORDER BY levenshtein(term, label) ASC, label ASC) AS rn
             FROM terms CROSS JOIN v)
           SELECT term, label, dist FROM scored
           WHERE rn = 1 AND dist <= 2 ORDER BY term"""
      },

      "kg_cc_components" -> """
         WITH g AS (
           SELECT doc_id, MIN(doc_id) OVER (PARTITION BY source, lang) AS component,
                  COUNT(*) OVER (PARTITION BY source, lang) AS n
           FROM documents)
         SELECT doc_id AS node, component FROM g WHERE n > 1 ORDER BY node""",

      "kg_metrics_counts" -> s"""
         WITH $mentionsCte
         SELECT COUNT(*) AS n_mentions, COUNT(DISTINCT doc_id) AS n_docs,
                COUNT(DISTINCT qid) AS n_entities FROM mentions"""
    )
  }
}
