package graft

import org.apache.spark.sql.SparkSession

/** Shared local session for suites (one per JVM — Spark reuses it). */
object TestSpark {
  lazy val spark: SparkSession = Session("graft-test", cores = Some(4))
}
