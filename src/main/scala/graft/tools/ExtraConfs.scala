package graft.tools

import org.apache.spark.sql.SparkSession

/** `SPARK_GRAFT_EXTRA_CONFS="k=v;k=v"`: the probes' experiment aid for A/B
  * conf runs. Fragments split on `;`, each at its first `=`, so a value may
  * hold `=` but not `;`. Every applied pair and every skipped fragment is
  * printed to stderr, so a probe never runs with a conf other than the one
  * its operator meant without saying so.
  */
object ExtraConfs {
  /** (applied `k -> v` pairs, skipped non-blank fragments), in input order. */
  def parse(raw: String): (Seq[(String, String)], Seq[String]) = {
    val frags = raw.split(";").toSeq.filter(_.trim.nonEmpty)
    val (ok, bad) = frags.partition(f => f.indexOf('=') > 0)
    (ok.map { f => val i = f.indexOf('='); (f.take(i), f.drop(i + 1)) }, bad)
  }

  def apply(builder: SparkSession.Builder,
      raw: Option[String] = sys.env.get("SPARK_GRAFT_EXTRA_CONFS"))
      : SparkSession.Builder = {
    raw.foreach { r =>
      val (ok, bad) = parse(r)
      ok.foreach { case (k, v) =>
        Console.err.println(s"SPARK_GRAFT_EXTRA_CONFS applied $k=$v")
        builder.config(k, v)
      }
      bad.foreach(f =>
        Console.err.println(s"SPARK_GRAFT_EXTRA_CONFS skipped '$f' (no k=v)"))
    }
    builder
  }
}
