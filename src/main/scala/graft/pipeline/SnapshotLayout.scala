package graft.pipeline

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
  * Both protocols' readers read a data dir through [[graft.ParquetRead]].
  */
object SnapshotLayout {
  val Success = "_SUCCESS"
  val StagingPrefix = "_staging_"
  val BackupPrefix = "_backup_"
  val TxLogDirName = "_txlog"
  /** Hadoop glob for versioned data dirs (`v1-8be40a77`). */
  val VersionDirGlob = "v[0-9]*-*"
}
