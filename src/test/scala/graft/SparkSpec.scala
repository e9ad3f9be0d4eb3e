package graft

import org.apache.spark.sql.SparkSession

/** Shared local session for suites (one per JVM — Spark reuses it). */
object TestSpark {
  lazy val spark: SparkSession = Session("graft-test", cores = Some(4))

  /** Runs `body` on a fresh temp directory, deleted afterwards. */
  def withTempDir[A](prefix: String)(body: String => A): A = {
    val dir = java.nio.file.Files.createTempDirectory(prefix)
    try body(dir.toString) finally org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
  }
}
