package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Month-over-month snapshot comparison — the natural analytical query over
  * the side-by-side `ref_month` layout (reference loads each month into its
  * own schema precisely so analysts can do this, `main.py:177,258`;
  * SURVEY §1.1 #3).
  *
  * Scale notes: both sides shuffle once on the key; the change-detection
  * hash is computed map-side so the join carries (key, hash) not full rows
  * until changed keys are identified.
  */
object SnapshotDiff {

  /** Per-key diff of two snapshots of `table`: `added` (only in `m2`),
    * `removed` (only in `m1`), `changed` (key in both, any column differs).
    * `keyCols` defaults to the first raw column (the RFB code).
    *
    * Snapshots are read through [[ParquetSink.readBack]], never via a raw
    * directory read, so a diff over a table caught mid-swap gets the
    * sink's crash recovery (r15 review).
    */
  def diff(spark: SparkSession, outDir: String, table: String,
      m1: String, m2: String,
      keyCols: Seq[String] = Seq("c0")): DataFrame = {
    val sink = new ParquetSink(outDir)
    def snap(m: String): DataFrame = sink.readBack(spark, table, m)
    def keyed(df: DataFrame): DataFrame = {
      val dataCols = df.columns.filterNot(keyCols.contains).sorted
      df.select(
        concat_ws("\u0001", keyCols.map(col): _*).as("key"),
        xxhash64(dataCols.toIndexedSeq.map(c => coalesce(col(c), lit("\u0000"))): _*)
          .as("row_hash"))
    }
    val a = keyed(snap(m1)).withColumnRenamed("row_hash", "h1")
    val b = keyed(snap(m2)).withColumnRenamed("row_hash", "h2")
    a.join(b, Seq("key"), "full_outer")
      .select(col("key"),
        when(col("h1").isNull, "added")
          .when(col("h2").isNull, "removed")
          .when(col("h1") =!= col("h2"), "changed")
          .otherwise("unchanged").as("status"))
      .filter(col("status") =!= "unchanged")
      .orderBy("status", "key")
  }

  /** Summary counts per status. */
  def summary(spark: SparkSession, outDir: String, table: String,
      m1: String, m2: String): DataFrame =
    diff(spark, outDir, table, m1, m2)
      .groupBy("status").agg(count(lit(1)).as("n")).orderBy("status")
}
