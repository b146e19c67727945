package graft

import org.apache.spark.sql.SparkSession

/** One SparkSession for the whole forked test JVM. */
object TestSpark {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-tests")
    // the library's extension point, end-to-end: functions + optimizer rule
    // arrive via config, not register() (ExtensionsE2ESpec asserts this)
    .config("spark.sql.extensions", "graft.functions.GraftExtensions")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.warehouse.dir",
      java.nio.file.Files.createTempDirectory("graft-wh").toString)
    .getOrCreate()

  // expected-condition WARNs repeated per round or query pushed failing
  // tests' summaries out of the log tail
  QuietLog(spark)

  val sf0001 = "/root/testdata/sf0.001"

  /** A streaming spec's session: a clone of [[spark]] with AQE off, as
    * `EventsStream`'s cloned sessions run (streaming turns AQE off for
    * every query anyway, with a WARN each time it is left on).
    */
  def streamingSession(): SparkSession = {
    val ss = spark.newSession()
    ss.conf.set("spark.sql.adaptive.enabled", "false")
    ss
  }

  /** A fresh checkpoint dir for one streaming query of a spec, so Spark
    * does not create, and warn about, a temporary one.
    */
  def checkpointDir(): String =
    java.nio.file.Files.createTempDirectory("spec-cp").toString
}
