package graft

import scala.util.control.NonFatal

import org.apache.hadoop.fs.Path
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFooterReader, ParquetToSparkSchemaConverter}

/** The one parquet batch read in the engine: the testdata tables
  * ([[Tables]]), scratch read-backs ([[graft.operators.MinHashDedup]]) and
  * lake snapshots (`ParquetSink.readBack`, [[graft.operators.TxLog]]) all go
  * through it.
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
    val sqlConf = spark.sessionState.conf
    val schema =
      if (sqlConf.isParquetSchemaMergingEnabled) None
      else try {
        val conf = spark.sessionState.newHadoopConf()
        val p = new Path(path)
        val entries = p.getFileSystem(conf).listStatus(p)
        // Spark's file index skips `_`/`.` names (and in-flight copies)
        // but reads `_metadata`/`_common_metadata` summaries first
        def summary(n: String) =
          n.startsWith("_metadata") || n.startsWith("_common_metadata")
        def hidden(n: String) =
          n.startsWith("_") || n.startsWith(".") || n.endsWith("._COPYING_")
        if (entries.exists(s => s.isDirectory || summary(s.getPath.getName)))
          None
        else entries.filterNot(s => hidden(s.getPath.getName))
          .sortBy(_.getPath.toString).headOption.map { f =>
            val meta = ParquetFooterReader.readFooter(
              HadoopInputFile.fromStatus(f, conf),
              ParquetMetadataConverter.SKIP_ROW_GROUPS)
            ParquetFileFormat.readSchemaFromFooter(
              new Footer(f.getPath, meta),
              new ParquetToSparkSchemaConverter(sqlConf))
          }
      } catch { case NonFatal(_) => None }
    schema.fold(spark.read.parquet(path))(spark.read.schema(_).parquet(path))
  }
}
