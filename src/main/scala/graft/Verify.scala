package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // iteration aid: an optional 3rd arg (comma-separated query names)
    // restricts the dump + oracle json to those queries so a single
    // operator can be oracle-checked without the full sweep. The driver
    // always calls with two args — full surface.
    val only = if (args.length > 2)
      Some(args(2).split(",").map(_.trim).toSet) else None
    // a typo'd name must fail LOUDLY: a silently-empty selection writes
    // oracle_sql.json = {} with exit 0 and the compare reports a
    // vacuously clean round (r10 review)
    only.foreach { names =>
      val unknown = names -- SparkEntry.queries.keySet
      require(unknown.isEmpty,
        s"unknown query name(s): ${unknown.toSeq.sorted.mkString(", ")}")
    }
    def selected[T](m: Map[String, T]): Map[String, T] = only match {
      case Some(names) => m.filter(kv => names(kv._1))
      case None => m
    }
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    QuietLog(spark)
    new java.io.File(outDir).mkdirs()
    selected(SparkEntry.queries).foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        // a query that fails BEFORE the overwrite deletes anything leaves
        // the PREVIOUS run's dump in a reused outDir — the compare would
        // then verify stale rows as current and report a vacuously clean
        // round for a query that no longer runs (r15 review; the same
        // failure class as the typo'd-name guard above). Delete the dump
        // so a failed query is always a LOUD missing-output compare.
        try org.apache.commons.io.FileUtils
          .deleteDirectory(new java.io.File(s"$outDir/$name"))
        catch { case de: Exception =>
          // a FAILED delete (permissions, open handle) leaves that stale
          // dump in place, and the compare would re-verify it as current —
          // the exact vacuously-clean failure mode the delete exists to
          // prevent. Make the survival loud instead of silent (r15 ADVICE).
          System.err.println(s"[verify] $name: stale-dump delete FAILED " +
            s"($de) — $outDir/$name may hold a PREVIOUS run's rows")
        }
      }
    }
    // JSON string escaping shared with the bench emitters ([[Bench.jstr]]
    // — this file used to carry its own copy of the escape table, the
    // drift hazard the r15 review flagged).
    // oracleSqlFor, not oracleSql: the LSH-geometry entries are dumped for
    // THIS dir's corpus size (identical SQL at every driver scale; see the
    // SparkEntry doc) so the oracle gate also holds on ladder fixtures.
    // Skipped when the selection has no scale-dependent query — the
    // regeneration counts the embeddings table, which a subset run on a
    // partial-table dir may not even carry.
    val needsScale = selected(SparkEntry.oracleSql).keySet
      .intersect(SparkEntry.scaleDependentOracleKeys).nonEmpty
    val json = selected(
      if (needsScale) SparkEntry.oracleSqlFor(spark, sfDir)
      else SparkEntry.oracleSql)
      .map { case (k, v) => s"${Bench.jstr(k)}: ${Bench.jstr(v)}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    operators.Scratch.clear() // all consuming actions are done
    spark.stop()
  }
}
