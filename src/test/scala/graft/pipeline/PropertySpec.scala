package graft.pipeline

import java.nio.charset.StandardCharsets
import java.nio.file.Files

import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalatest.funsuite.AnyFunSuite

/** Property tests (SURVEY §5.2): transcode/count invariants over arbitrary
  * content, routing totality over the filename grammar, manifest round-trip
  * over arbitrary entries. Raw ScalaCheck driven from scalatest (the
  * scalatest–scalacheck bridge artifact is not available offline).
  */
class PropertySpec extends AnyFunSuite {

  private def check(name: String, p: Prop, n: Int = 50): Unit = {
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(n), p)
    assert(res.passed, s"$name: ${res.status}")
  }

  private val lineGen: Gen[String] =
    Gen.listOf(Gen.frequency(
      8 -> Gen.alphaNumChar,
      2 -> Gen.oneOf(';', ' ', 'ç', 'ã', 'é', 'ô'),
    )).map(_.mkString)

  private def transcodeRoundTrip(cs: java.nio.charset.Charset)
      (lines: List[String]): Boolean = {
    val src = Files.createTempFile("prop", ".csv")
    val dest = Files.createTempFile("prop-out", ".csv")
    try {
      val content = lines.map(_ + "\n").mkString
      Files.write(src, content.getBytes(cs))
      val (orig, fixed, records) = Charsets.transcode(src, cs, dest)
      orig == fixed && orig == lines.length &&
        records == lines.count(_.nonEmpty)
    } finally { Files.delete(src); Files.delete(dest) }
  }

  test("transcode preserves line count for arbitrary Latin-1 content") {
    check("latin1", Prop.forAll(Gen.listOf(lineGen))(
      transcodeRoundTrip(StandardCharsets.ISO_8859_1)))
  }

  test("transcode preserves line count for arbitrary UTF-8 content") {
    check("utf8", Prop.forAll(Gen.listOf(lineGen))(
      transcodeRoundTrip(StandardCharsets.UTF_8)))
  }

  private val fileNameGen: Gen[String] = for {
    base <- Gen.nonEmptyListOf(Gen.alphaNumChar).map(_.mkString)
    mid <- Gen.option(Gen.nonEmptyListOf(Gen.alphaNumChar).map(_.mkString))
    suffix <- Gen.oneOf(RfbTables.routing.keys.toSeq :+ "UNKNOWN" :+ "LEIAME")
    corrigido <- Gen.oneOf(true, false)
  } yield {
    val name = (Seq(base) ++ mid.toSeq :+ suffix).mkString(".")
    if (corrigido) {
      val k = name.lastIndexOf('.')
      name.substring(0, k) + "__corrigido" + name.substring(k)
    } else name
  }

  test("routing is total and only maps known suffixes") {
    check("routing", Prop.forAll(fileNameGen) { name =>
      val suffix = name.replace("__corrigido", "").split('.').last.toUpperCase
      RfbTables.route(name) == RfbTables.routing.get(suffix)
    })
  }

  private val statusGen =
    Gen.oneOf(Status.Pendente, Status.Sucesso, Status.Falhou, Status.Ignorada)

  private val entryGen: Gen[ManifestEntry] = for {
    arquivo <- Gen.nonEmptyListOf(Gen.asciiPrintableChar).map(_.mkString.take(40))
    sd <- statusGen; se <- statusGen; sc <- statusGen; sl <- statusGen
    tent <- Gen.chooseNum(0, 5)
    extraidos <- Gen.listOf(Gen.alphaNumStr.map("/tmp/" + _))
    lo <- Gen.chooseNum(-1L, 100000L)
  } yield ManifestEntry(arquivo, s"u/$arquivo", sd, se, sc, sl, tent,
    "/tmp/z", extraidos, Nil, Nil, lo, lo, -1L)

  test("manifest JSON round-trips arbitrary entries") {
    check("manifest", Prop.forAll(Gen.listOf(entryGen)) { entries =>
      val p = Files.createTempDirectory("mani-prop").resolve("m.json")
      Manifest.save(p.toString, entries)
      val loaded = Manifest.load(p.toString)
      loaded.toSet == entries.toSet
    }, n = 15)
  }
}
