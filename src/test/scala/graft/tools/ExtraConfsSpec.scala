package graft.tools

import java.io.ByteArrayOutputStream

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

class ExtraConfsSpec extends AnyFunSuite {
  test("a=1;bad;b=x=y: two pairs applied (value split at the first '='), " +
    "the fragment without '=' skipped") {
    val (ok, bad) = ExtraConfs.parse("a=1;bad;b=x=y")
    assert(ok === Seq("a" -> "1", "b" -> "x=y"))
    assert(bad === Seq("bad"))
  }

  test("every applied pair and every skipped fragment is printed to stderr") {
    val err = new ByteArrayOutputStream()
    Console.withErr(err) {
      ExtraConfs(SparkSession.builder(), Some("a=1;bad;b=x=y;;=v"))
    }
    assert(err.toString("UTF-8").linesIterator.toSeq === Seq(
      "SPARK_GRAFT_EXTRA_CONFS applied a=1",
      "SPARK_GRAFT_EXTRA_CONFS applied b=x=y",
      "SPARK_GRAFT_EXTRA_CONFS skipped 'bad' (no k=v)",
      "SPARK_GRAFT_EXTRA_CONFS skipped '=v' (no k=v)"))
  }
}
