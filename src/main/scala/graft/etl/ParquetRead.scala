package graft.etl

import java.io.FileNotFoundException

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat,
  ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.StructType

/** The engine's one Parquet reader. A bare `spark.read.parquet(path)`
  * infers its schema in a Spark job of its own (one footer, read on an
  * executor, under no SQL execution); at the engine's sizes that job
  * costs as much as the query work around it. This reader reads that
  * same footer on the driver and hands Spark the schema, so building
  * the DataFrame submits no job.
  *
  * The footer is the one Spark's inference reads with `mergeSchema`
  * off: the first data file by full path, skipping the names Spark's
  * file index skips and empty files. It is converted as Spark converts
  * it (the row-metadata schema string wins; INT96, binary-as-string,
  * NTZ and `nanosAsLong` follow the session), and partition columns
  * (`anio=`) are still inferred from the directory names. With no data
  * file under any path the read is the bare one, so a missing path or
  * an empty directory fails as it always did. Tables whose files differ
  * in schema read through [[Warehouse.readMerged]].
  */
object ParquetRead {

  def apply(spark: SparkSession, paths: String*): DataFrame =
    footerSchema(spark, paths) match {
      case Some(schema) => spark.read.schema(schema).parquet(paths: _*)
      case None => spark.read.parquet(paths: _*)
    }

  /** The Spark schema of the first data file under `paths`; None when
    * there is none.
    */
  private def footerSchema(spark: SparkSession, paths: Seq[String])
      : Option[StructType] = {
    val conf = spark.sessionState.newHadoopConf()
    paths.flatMap(p => firstDataFile(conf, new Path(p)))
      .minByOption(_.getPath.toString)
      .map { st =>
        val footer = new Footer(st.getPath, ParquetFooterReader.readFooter(
          HadoopInputFile.fromStatus(st, conf),
          ParquetMetadataConverter.SKIP_ROW_GROUPS))
        ParquetFileFormat.readSchemaFromFooter(footer,
          new ParquetToSparkSchemaConverter(spark.sessionState.conf))
      }
  }

  /** Spark's file index skips these names (`HadoopFSUtils`): a job's
    * scratch, a writer's staging, hidden and half-copied files.
    */
  private def hidden(name: String): Boolean =
    (name.startsWith("_") && !name.contains("=")) || name.startsWith(".") ||
      name.endsWith("._COPYING_")

  /** The non-empty data file under `root` whose full path sorts first,
    * found depth-first. Like Spark, it looks in the root and in its
    * partition directories (`name=value`) only. A directory's entries
    * are visited in the order of the paths under them (a directory name
    * sorts as `name/`), so the first file found is the first of all.
    */
  private def firstDataFile(conf: Configuration, root: Path)
      : Option[FileStatus] = {
    val fs = root.getFileSystem(conf)
    def first(st: FileStatus): Option[FileStatus] =
      if (st.isFile) Some(st).filter(_.getLen > 0)
      else fs.listStatus(st.getPath)
        .filter { c =>
          val name = c.getPath.getName
          !hidden(name) && (c.isFile || name.contains("="))
        }
        .sortBy(c => c.getPath.getName + (if (c.isDirectory) "/" else ""))
        .iterator.flatMap(first).nextOption()
    try first(fs.getFileStatus(root))
    catch { case _: FileNotFoundException => None }
  }
}
