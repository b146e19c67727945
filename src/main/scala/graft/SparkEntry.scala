package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.operators.{CorpusFilters, DedupClusters, EventAnalytics, GraphOps, LakeOps, MinHashDedup, Multimodal, Relational, Relational2, Relational3, Relational4, Relational5, Relational6, SimilarityOps, TemporalJoins, TextOps}
import graft.streaming.{CorpusStream, EventsStream}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` aggregates every operator module's declared queries; `oracleSql`
  * carries the DuckDB-dialect equivalent for each SQL-expressible one (the
  * driver hash-compares both at sf0.01). Non-SQL-expressible operators
  * (MinHash LSH, SimHash, ANN) appear in `queries` only → rows-only check.
  */
object SparkEntry {
  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Relational.queries("q05_nation_revenue")(spark, "/root/testdata/sf0.001")

  /** Every query module, in registration order (the key order of
    * [[queries]] and [[oracleSql]]). A new module is one entry here.
    */
  lazy val suites: Seq[QuerySuite] = Seq(
    Relational, Relational2, Relational3, Relational4, Relational5, TextOps,
    SimilarityOps, MinHashDedup, Multimodal, TemporalJoins, DedupClusters,
    EventsStream, CorpusFilters, CorpusStream, GraphOps, LakeOps,
    EventAnalytics, Relational6)

  private lazy val registry = QuerySuite.merge(suites)

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.queries

  def oracleSql: Map[String, String] = registry.oracle

  /** [[oracleSql]] with the LSH-geometry-dependent entries (dd07, dd08,
    * ss05, gr01–gr03, rec01 — everything spliced over the embedding pairs
    * CTE) regenerated for `dir`'s ACTUAL corpus size. The Spark side grows
    * its plane and table counts with the corpus
    * ([[operators.SimilarityOps.planesFor]]), so a pinned-scale oracle
    * replicates the engine's candidate generation only up to 2 048
    * vectors; past that (the 10×+ ladder fixtures, where the r17 verdict
    * ordered the oracle to also run) the pinned SQL would diverge on LSH
    * recall. At every driver testdata scale the regenerated SQL IS the
    * pinned SQL, so the driver gate is unchanged.
    */
  def oracleSqlFor(spark: SparkSession, dir: String): Map[String, String] = {
    val n = SimilarityOps.embCount(spark, dir)
    suites.foldLeft(oracleSql)(_ ++ _.oracleAt(n))
  }

  /** The keys [[oracleSqlFor]] regenerates — resolved WITHOUT touching
    * data (the generators are pure given n), so Verify can skip the
    * embeddings count when a subset run selects none of them (a dir
    * carrying only the tables a subset needs must not crash on a table
    * that subset never reads).
    */
  def scaleDependentOracleKeys: Set[String] = registry.scaleDependentKeys
}
