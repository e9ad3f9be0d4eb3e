package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  *
  *   Verify <sfDir> <outDir>               every query, after the shared
  *                                         tables are built
  *   Verify <sfDir> <outDir> <q1,q2,...>   the dev loop: only the named
  *                                         queries; exits non-zero when
  *                                         any of them fails
  *
  * [[dump]] is the single implementation of both forms, so the dump loop
  * and the JSON escaper (which has already needed one control-char fix)
  * cannot drift between the driver path and the dev loop.
  */
object Verify {

  /** Dump the named queries (all of them when `only` is empty) exactly
    * as the driver consumes them: one parquet dir per query plus an
    * oracle_sql.json restricted to the dumped names. Returns the names
    * that FAILED (logged, not thrown — the driver wants every other
    * query dumped); a failed query's dir is deleted, so a dump from an
    * earlier run cannot stand in for it in the compare.
    */
  def dump(spark: SparkSession, sfDir: String, outDir: String,
           only: Set[String] = Set.empty): Seq[String] = {
    new java.io.File(outDir).mkdirs()
    val wanted =
      if (only.isEmpty) SparkEntry.queries
      else SparkEntry.queries.filter { case (k, _) => only.contains(k) }
    val failed = wanted.toSeq.flatMap { case (name, fn) =>
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        None
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        val dir = new org.apache.hadoop.fs.Path(s"$outDir/$name")
        dir.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(dir, true)
        Some(name)
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val oracles =
      if (only.isEmpty) SparkEntry.oracleSql
      else SparkEntry.oracleSql.filter { case (k, _) => only.contains(k) }
    val json = oracles
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    failed
  }

  /** Comma-separated query names, each required to be a SparkEntry query. */
  def queryNames(csv: String): Seq[String] = {
    val names = csv.split(",").map(_.trim).filter(_.nonEmpty).distinct.toSeq
    val unknown = names.filterNot(SparkEntry.queries.contains)
    require(names.nonEmpty, "no query names given")
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(",")}")
    names
  }

  def main(args: Array[String]): Unit = {
    require(args.length == 2 || args.length == 3,
      "usage: Verify <sfDir> <outDir> [q1,q2,...]")
    val (sfDir, outDir) = (args(0), args(1))
    val only = args.lift(2).map(queryNames(_).toSet).getOrElse(Set.empty[String])
    val spark = Session("graft-verify")
    // the full dump builds the shared tables up front, joined, so no
    // build runs under a query; a build failure is logged and the queries
    // that need it fail (and are reported) one by one. A subset builds
    // only what its queries touch.
    if (only.isEmpty)
      try queries.Materialized.buildShared(spark, sfDir)
      catch { case e: Throwable =>
        System.err.println(s"[verify] shared tables failed: ${e.getMessage}")
      }
    val failed = dump(spark, sfDir, outDir, only)
    (only -- failed).foreach(n => println(s"[verify] wrote $n"))
    spark.stop()
    // the dev loop is LOUD on failure: the driver wants every other query
    // dumped, a developer iterating on a few wants a non-zero exit
    if (only.nonEmpty && failed.nonEmpty) {
      System.err.println(s"[verify] FAILED: ${failed.mkString(",")}")
      sys.exit(1)
    }
  }
}
