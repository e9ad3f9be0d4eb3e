package graft.sources

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat,
  ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType}

/** The one reader of the query inputs (`<sfDir>/<table>.parquet`).
  *
  * `spark.read.parquet(path)` infers its schema with a Spark job
  * (`mergeSchemasInParallel`) that reads the first data file's footer,
  * on every call. This reader reads that footer on the driver instead,
  * the way the inference does (Spark's footer reader with row groups
  * skipped, `ParquetFileFormat.readSchemaFromFooter` through a converter
  * built from the session conf), makes every field nullable as the
  * inference's relation does, and reads through `spark.read.schema`: the
  * same schema, no planning job.
  *
  * Whatever needs more than one footer (schema merging, a glob,
  * partition discovery under subdirectories) and any path with no
  * footer to read (missing, an empty directory) is left to
  * `spark.read.parquet`, which reads or fails as it always has.
  */
object Inputs {

  /** The table `table` of the data directory `dir`: the parquet file or
    * part-file directory `<dir>/<table>.parquet`.
    */
  def parquet(spark: SparkSession, dir: String, table: String): DataFrame = {
    val path = s"$dir/$table.parquet"
    footerSchema(spark, path).fold(spark.read.parquet(path))(spark.read.schema(_).parquet(path))
  }

  /** The schema `spark.read.parquet(path)` would infer, from the footer
    * of the first data file in path order; None where this reader
    * defers to Spark.
    */
  private def footerSchema(spark: SparkSession, path: String): Option[StructType] =
    if (spark.sessionState.conf.isParquetSchemaMergingEnabled) None
    else {
      val conf = spark.sessionState.newHadoopConf()
      firstDataFile(path, conf).map { st =>
        val footer = ParquetFooterReader.readFooter(HadoopInputFile.fromStatus(st, conf),
          ParquetMetadataConverter.SKIP_ROW_GROUPS)
        nullable(ParquetFileFormat.readSchemaFromFooter(new Footer(st.getPath, footer),
          new ParquetToSparkSchemaConverter(spark.sessionState.conf))).asInstanceOf[StructType]
      }
    }

  /** `path` itself when it is a file; for a directory of files, its
    * first data file by path (Spark's listing skips `_`/`.` names and
    * in-flight `._COPYING_` copies). None for a missing path, an empty
    * directory or one with subdirectories.
    */
  private def firstDataFile(path: String,
      conf: org.apache.hadoop.conf.Configuration): Option[FileStatus] = {
    val root = new Path(path)
    val fs = root.getFileSystem(conf)
    val st = try fs.getFileStatus(root) catch { case _: java.io.FileNotFoundException => null }
    if (st == null) None
    else if (st.isFile) Some(st)
    else {
      val children = fs.listStatus(root)
      if (children.exists(_.isDirectory)) None
      else children.filter { c =>
        val n = c.getPath.getName
        !n.startsWith("_") && !n.startsWith(".") && !n.endsWith("._COPYING_")
      }.sortBy(_.getPath.toString).headOption
    }
  }

  /** `t` with every field, array element and map value nullable. */
  private def nullable(t: DataType): DataType = t match {
    case s: StructType =>
      StructType(s.fields.map(f => f.copy(dataType = nullable(f.dataType), nullable = true)))
    case a: ArrayType => ArrayType(nullable(a.elementType), containsNull = true)
    case m: MapType => MapType(nullable(m.keyType), nullable(m.valueType), valueContainsNull = true)
    case other => other
  }
}
