package graft.pipeline

import scala.util.control.NonFatal

import org.apache.hadoop.fs.Path
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFooterReader, ParquetToSparkSchemaConverter}

/** The on-disk marker vocabulary shared by the two snapshot protocols —
  * ONE spelling, used by both the Hadoop-FS layer ([[ParquetSink]]'s layout
  * guard and swap) and the java.nio layer ([[graft.tools.Maintain]]'s lake
  * classifier). The r14 review found the names spelled inline at 5+ call
  * sites across the two files: renaming a prefix in one layer and not the
  * other would make Maintain vacuum exactly the contested roots its
  * classifier exists to skip.
  *
  *  - Rename mode: the final dir holds part files + [[Success]] (the
  *    FileOutputCommitter contract); the swap stages a complete snapshot at
  *    a [[StagingPrefix]] sibling and moves the old data aside to a
  *    [[BackupPrefix]] sibling.
  *  - Versioned mode: the root holds [[TxLogDirName]] (must match
  *    [[graft.operators.TxLog]]'s layout, where the name is definitional)
  *    plus write-once `v{N}-{uuid}` data dirs matching [[VersionDirGlob]]
  *    — note a FIRST write in flight has a data dir but no log dir yet.
  *
  * [[readParquet]] is the one read of a data dir that both protocols'
  * readers use.
  */
object SnapshotLayout {
  val Success = "_SUCCESS"
  val StagingPrefix = "_staging_"
  val BackupPrefix = "_backup_"
  val TxLogDirName = "_txlog"
  /** Hadoop glob for versioned data dirs (`v1-8be40a77`). */
  val VersionDirGlob = "v[0-9]*-*"

  /** `spark.read.parquet(dir)` for one snapshot data dir (a rename-mode
    * final dir or a TxLog `v{N}-*` dir), minus Spark's schema-inference
    * job. Without `mergeSchema`, Spark infers the schema from the footer
    * of the first data file by path, but reads that one footer inside a
    * one-task Spark job. This reads the same footer on the driver and
    * converts it with Spark's own converter, so the frame's schema is the
    * one Spark would infer, and the schema still comes from the files.
    *
    * Anything outside that simple shape falls through to the plain read,
    * so its result or its error is Spark's own: a dir with subdirectories
    * (partition discovery) or parquet summary files, no data file at all
    * (Spark's "unable to infer schema"), a missing dir, an unreadable
    * footer, or schema merging switched on in the session.
    */
  def readParquet(spark: SparkSession, dir: String): DataFrame = {
    val sqlConf = spark.sessionState.conf
    val schema =
      if (sqlConf.isParquetSchemaMergingEnabled) None
      else try {
        val conf = spark.sessionState.newHadoopConf()
        val p = new Path(dir)
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
    schema.fold(spark.read.parquet(dir))(spark.read.schema(_).parquet(dir))
  }
}
