package graft

import scala.collection.immutable.ListMap

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One query module's declarations. A module extends this and is listed
  * once in [[SparkEntry.suites]]; the maps Verify and Bench read are all
  * derived from that list by [[QuerySuite.merge]].
  */
trait QuerySuite {
  type Q = (SparkSession, String) => DataFrame

  /** Query name → DataFrame builder over a testdata dir. */
  def queries: Map[String, Q]

  /** DuckDB-dialect oracle SQL for the SQL-expressible queries. */
  def oracle: Map[String, String]

  /** Oracle entries whose text depends on the corpus size `n` (LSH
    * geometry); they replace the pinned [[oracle]] entries of the same name.
    */
  private[graft] def oracleAt(n: Long): Map[String, String] = Map.empty
}

object QuerySuite {
  /** The merged maps of an ordered suite list: keys in suite order, then
    * declaration order. `scaleDependentKeys` are the keys any `oracleAt`
    * regenerates.
    */
  final case class Registry(
      queries: Map[String, QuerySuite#Q],
      oracle: Map[String, String],
      scaleDependentKeys: Set[String])

  /** Merges `suites`, failing on a query name declared by two suites (a
    * plain `++` would let the later one shadow the earlier silently) and
    * on an oracle key that names no query of its own suite.
    */
  def merge(suites: Seq[QuerySuite]): Registry = {
    val shared = suites.flatMap(_.queries.keys)
      .groupBy(identity).collect { case (k, ks) if ks.sizeIs > 1 => k }
    require(shared.isEmpty, "query names declared by more than one suite: " +
      shared.toSeq.sorted.mkString(", "))
    for (s <- suites) {
      val stray = (s.oracle.keySet ++ s.oracleAt(1).keySet) -- s.queries.keySet
      require(stray.isEmpty, s"oracle keys naming no query of ${s.getClass
        .getSimpleName.stripSuffix("$")}: ${stray.toSeq.sorted.mkString(", ")}")
    }
    Registry(
      suites.foldLeft(ListMap.empty[String, QuerySuite#Q])(_ ++ _.queries),
      suites.foldLeft(ListMap.empty[String, String])(_ ++ _.oracle),
      suites.foldLeft(Map.empty[String, String])(_ ++ _.oracleAt(1)).keySet)
  }
}
