package graft

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFooterReader, ParquetToSparkSchemaConverter}

/** The one parquet batch read in the engine: the testdata tables
  * ([[Tables]]), scratch read-backs ([[graft.operators.Scratch]]) and
  * lake snapshots (`ParquetSink.readBack`, [[graft.operators.TxLog]]) all go
  * through it, and the load audit's row count (`ParquetSink.loadedRows`)
  * lists the same files.
  */
object ParquetRead {

  /** `spark.read.parquet(path)` minus Spark's schema-inference job. `path`
    * is a single `.parquet` file (the testdata fixture layout; `listStatus`
    * on a file returns that file) or a dir of part files (a scratch table,
    * a rename-mode snapshot or a TxLog `v{N}-*` dir). Without
    * `mergeSchema`, Spark infers the schema from the footer of the first
    * data file by path, but reads that one footer inside a one-task Spark
    * job. This reads the same footer on the driver and converts it with
    * Spark's own converter under the session's current conf, so the
    * frame's schema is the one Spark would infer, and the schema still
    * comes from the files.
    *
    * Anything outside that simple shape falls through to the plain read,
    * so its result or its error is Spark's own: a dir with subdirectories
    * (partition discovery) or parquet summary files, no data file at all
    * (Spark's "unable to infer schema"), a missing path, an unreadable
    * footer, or schema merging switched on in the session.
    */
  def apply(spark: SparkSession, path: String): DataFrame = {
    val schema = dataFiles(spark, path).flatMap { case (conf, files) =>
      files.headOption.flatMap { f =>
        try Some(ParquetFileFormat.readSchemaFromFooter(
          new Footer(f.getPath,
            footer(conf, f, ParquetMetadataConverter.SKIP_ROW_GROUPS)),
          new ParquetToSparkSchemaConverter(spark.sessionState.conf)))
        catch { case NonFatal(_) => None }
      }
    }
    schema.fold(spark.read.parquet(path))(spark.read.schema(_).parquet(path))
  }

  /** `spark.read.parquet(path).count()` without a Spark job: the sum of the
    * row-group row counts in the footers of every data file the plain read
    * would scan, which is what Spark's own parquet `count()` answers from.
    * Every fall-through of [[apply]], and an unreadable footer in any
    * file, counts through Spark instead, so the result or error is
    * Spark's own.
    */
  def rowCount(spark: SparkSession, path: String): Long =
    dataFiles(spark, path).filter(_._2.nonEmpty).flatMap {
      case (conf, files) =>
        try Some(files.map(f =>
          footer(conf, f, ParquetMetadataConverter.NO_FILTER).getBlocks
            .asScala.map(_.getRowCount).sum).sum)
        catch { case NonFatal(_) => None }
    }.getOrElse(apply(spark, path).count())

  /** The data files a plain read of `path` scans, sorted by path, with the
    * Hadoop conf to open them; None where only the plain read can decide
    * (schema merging, subdirectories, summary files, a listing error).
    */
  private def dataFiles(spark: SparkSession, path: String)
      : Option[(Configuration, Seq[FileStatus])] =
    if (spark.sessionState.conf.isParquetSchemaMergingEnabled) None
    else try {
      val conf = spark.sessionState.newHadoopConf()
      val p = new Path(path)
      val entries = p.getFileSystem(conf).listStatus(p).toSeq
      // Spark's file index skips `_`/`.` names (and in-flight copies)
      // but reads `_metadata`/`_common_metadata` summaries first
      def summary(n: String) =
        n.startsWith("_metadata") || n.startsWith("_common_metadata")
      def hidden(n: String) =
        n.startsWith("_") || n.startsWith(".") || n.endsWith("._COPYING_")
      if (entries.exists(s => s.isDirectory || summary(s.getPath.getName)))
        None
      else Some((conf, entries.filterNot(s => hidden(s.getPath.getName))
        .sortBy(_.getPath.toString)))
    } catch { case NonFatal(_) => None }

  private def footer(conf: Configuration, f: FileStatus,
      filter: ParquetMetadataConverter.MetadataFilter) =
    ParquetFooterReader.readFooter(HadoopInputFile.fromStatus(f, conf), filter)
}
