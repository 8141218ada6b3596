package graft.io

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, DataFrameReader, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{
  ParquetFileFormat, ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.StructType

/** The table schema of a parquet read, from one footer read on the driver
  * without a Spark job.
  */
object Parquet {

  /** `spark.read.parquet(paths)` without Spark's schema-inference job.
    * With schema merging off, Spark takes the data schema from one footer,
    * that of the first data file in path order, but reads it in a job of
    * its own on every read. Here the same footer is found on the driver by
    * walking the sorted listings down to the first data file (O(depth)
    * listings, never the whole table) and handed to the reader as its
    * schema. Spark still infers the partition columns from the paths, with
    * no job, and appends them as before. Paths are literal: no globs.
    */
  def read(spark: SparkSession, paths: String*): DataFrame =
    read(spark, spark.read, paths: _*)

  /** [[read]] with a configured reader, e.g. one carrying `basePath`. */
  def read(spark: SparkSession, reader: DataFrameReader, paths: String*): DataFrame =
    reader.schema(dataSchema(spark, paths)).parquet(paths: _*)

  /** The data schema Spark infers for `paths`: the first data file's footer,
    * converted under the session's parquet settings.
    */
  private def dataSchema(spark: SparkSession, paths: Seq[String]): StructType = {
    val conf = spark.sparkContext.hadoopConfiguration
    val file = firstDataFile(paths.map(new Path(_)), conf).getOrElse(
      throw new IllegalArgumentException(
        s"no parquet data file under ${paths.mkString(", ")}"))
    val footer = ParquetFooterReader.readFooter(
      HadoopInputFile.fromStatus(file, conf), ParquetMetadataConverter.SKIP_ROW_GROUPS)
    val sqlConf = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.conf
    ParquetFileFormat.readSchemaFromFooter(new Footer(file.getPath, footer),
      new ParquetToSparkSchemaConverter(sqlConf))
  }

  /** First data file in the order of Spark's schema inference (full path
    * strings). A directory sorts as `path/`, where its files' paths sort,
    * and a subtree with no data file is passed over.
    */
  private def firstDataFile(roots: Seq[Path], conf: Configuration): Option[FileStatus] = {
    def sortKey(st: FileStatus): String =
      if (st.isDirectory) s"${st.getPath}/" else st.getPath.toString
    def first(entries: Seq[FileStatus]): Option[FileStatus] =
      entries.sortBy(sortKey).iterator.flatMap { st =>
        if (!st.isDirectory) Some(st)
        else first(st.getPath.getFileSystem(conf).listStatus(st.getPath).toSeq
          .filter(c => isDataName(c.getPath.getName)))
      }.nextOption()
    first(roots.map(p => p.getFileSystem(conf).getFileStatus(p)))
  }

  /** Data names skip `_`/`.` prefixes (`_SUCCESS`, `.crc` files), as
    * Spark's file index does.
    */
  private def isDataName(n: String): Boolean =
    !n.startsWith("_") && !n.startsWith(".")
}
