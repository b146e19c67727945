package graft.pipeline

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

import org.scalatest.funsuite.AnyFunSuite

class CharsetsSpec extends AnyFunSuite {
  private def tmpFile(bytes: Array[Byte]): Path = {
    val p = Files.createTempFile("charsets", ".csv")
    Files.write(p, bytes)
    p.toFile.deleteOnExit()
    p
  }

  test("detects UTF-8 BOM") {
    val p = tmpFile(Array(0xEF, 0xBB, 0xBF).map(_.toByte) ++
      "01;a\n".getBytes(StandardCharsets.UTF_8))
    assert(Charsets.detect(p) == StandardCharsets.UTF_8)
  }

  test("detects clean UTF-8 with accents") {
    val p = tmpFile("01;Ação\n02;café\n".getBytes(StandardCharsets.UTF_8))
    assert(Charsets.detect(p) == StandardCharsets.UTF_8)
  }

  test("detects Latin-1 accents as ISO-8859-1") {
    val p = tmpFile("01;Ação\n02;café\n".getBytes(StandardCharsets.ISO_8859_1))
    assert(Charsets.detect(p) == StandardCharsets.ISO_8859_1)
  }

  test("detects Windows-1252 via C1 punctuation; pure accents stay Latin-1") {
    // 0x93/0x94 = curly quotes, 0x80 = € — C1 controls in Latin-1, text in CP1252
    val cp = "01;".getBytes(StandardCharsets.US_ASCII) ++
      Array(0x93, 0x4F, 0x94, 0x20, 0x80).map(_.toByte) ++ "\n".getBytes
    assert(Charsets.detectBytes(cp) == java.nio.charset.Charset.forName("windows-1252"))
    // no C1 bytes → the Latin-1 default stands (RFB corpus behavior unchanged)
    val latin = "01;Ação\n".getBytes(StandardCharsets.ISO_8859_1)
    assert(Charsets.detectBytes(latin) == StandardCharsets.ISO_8859_1)
  }

  test("a Latin-1 file whose ONLY accent is its last byte is not misread as UTF-8") {
    // the old 'drop the last 1-3 bytes and retry' accepted any sample
    // whose only invalid UTF-8 bytes were its tail — '...café' in Latin-1
    // misdetected UTF-8 and transcode replaced every accented byte in the
    // file with U+FFFD while the line audit stayed green (r11 review)
    val latin = "01;abc\n02;caf".getBytes(StandardCharsets.US_ASCII) ++
      Array(0xE9).map(_.toByte) // é in ISO-8859-1, a bare UTF-8 lead tail
    assert(Charsets.detectBytes(latin) == StandardCharsets.ISO_8859_1)
    // same content mid-file (not at the tail) was already rejected
    val latinMid = "01;caf".getBytes(StandardCharsets.US_ASCII) ++
      Array(0xE9).map(_.toByte) ++ "\n02;abc\n".getBytes
    assert(Charsets.detectBytes(latinMid) == StandardCharsets.ISO_8859_1)
  }

  test("a SampleBytes-cut UTF-8 file split mid-sequence still detects UTF-8") {
    // prefix semantics: a sample that filled the whole budget may end
    // inside a multi-byte sequence — that genuine incomplete LEAD tail is
    // tolerated (stream underflow), while the same bytes anywhere else
    // still reject. Build samples of exactly SampleBytes ending with an
    // incomplete 2-byte lead (0xC3) and an incomplete 3-byte prefix
    // (0xE2 0x82, the first two bytes of €).
    val line = "0111301;Ação agrícola\n".getBytes(StandardCharsets.UTF_8)
    def sampleEndingWith(tail: Array[Byte]): Array[Byte] = {
      val room = Charsets.SampleBytes - tail.length
      val reps = room / line.length
      val pad = Array.fill(room - reps * line.length)('x'.toByte)
      Array.fill(reps)(line).flatten ++ pad ++ tail
    }
    for (tail <- Seq(Array(0xC3.toByte), Array(0xE2.toByte, 0x82.toByte))) {
      val sample = sampleEndingWith(tail)
      assert(sample.length == Charsets.SampleBytes)
      assert(Charsets.detectBytes(sample) == StandardCharsets.UTF_8,
        s"tail ${tail.map(b => f"${b & 0xFF}%02X").mkString(" ")}")
    }
    // but a NON-continuable tail (a stray Latin-1 accent) at full budget
    // still rejects: only true incomplete sequences are tolerated
    val bad = sampleEndingWith(Array(0xE9.toByte, 'x'.toByte))
    assert(Charsets.detectBytes(bad) == StandardCharsets.ISO_8859_1)
  }

  test("windows-1252 file survives the fix phase with punctuation intact") {
    val src = tmpFile("01;".getBytes(StandardCharsets.US_ASCII) ++
      Array(0x93).map(_.toByte) ++ "Ok".getBytes(StandardCharsets.US_ASCII) ++
      Array(0x94, 0x20, 0x80).map(_.toByte) ++ "\n02;x\n".getBytes)
    val cs = Charsets.detect(src)
    val dest = Files.createTempFile("fixed", ".csv"); dest.toFile.deleteOnExit()
    val (orig, fixed, records) = Charsets.transcode(src, cs, dest)
    assert(orig == 2 && fixed == 2 && records == 2)
    val text = new String(Files.readAllBytes(dest), StandardCharsets.UTF_8)
    assert(text.contains("“Ok” €")) // “Ok” €
  }

  test("detects BOM-less UTF-16LE and UTF-16BE; fix phase transcodes both") {
    for (cs <- Seq(StandardCharsets.UTF_16LE, StandardCharsets.UTF_16BE)) {
      val src = tmpFile("01;São Paulo\n02;Ação\n".getBytes(cs))
      assert(Charsets.detect(src) == cs, s"misdetected $cs")
      val dest = Files.createTempFile("fixed", ".csv"); dest.toFile.deleteOnExit()
      val (orig, fixed, records) = Charsets.transcode(src, cs, dest)
      assert(orig == 2 && fixed == 2 && records == 2)
      val text = new String(Files.readAllBytes(dest), StandardCharsets.UTF_8)
      assert(text.contains("São Paulo") && text.contains("Ação"))
    }
  }

  test("UTF-16 BOM is consumed, not decoded into the first field") {
    // FF FE / FE FF routes detection to UTF_16LE/BE, whose JDK decoders do
    // NOT consume a BOM — unstripped it decodes to U+FEFF and corrupts the
    // first row's key in the corrected file
    for ((cs, bom) <- Seq(
      StandardCharsets.UTF_16LE -> Array(0xFF, 0xFE),
      StandardCharsets.UTF_16BE -> Array(0xFE, 0xFF))) {
      val src = tmpFile(bom.map(_.toByte) ++ "01;São Paulo\n".getBytes(cs))
      assert(Charsets.detect(src) == cs)
      val dest = Files.createTempFile("fixed", ".csv"); dest.toFile.deleteOnExit()
      Charsets.transcode(src, cs, dest)
      val out = Files.readAllBytes(dest)
      assert(out(0) == '0'.toByte, s"BOM residue for $cs") // no U+FEFF
    }
  }

  test("detects BOM-less UTF-16 of NON-Latin text (CJK + Cyrillic) both ways") {
    // both bytes of most code units are nonzero — no NUL pattern for the
    // zero-parity heuristic; the decode-validity scan must catch these
    val cjk = "01;東京都港区虎ノ門\n02;大阪市北区梅田\n03;名古屋市中村区\n" +
      "04;福岡市博多区駅前\n05;札幌市中央区北一条\n"
    val ru = "01;Москва, Тверская улица\n02;Санкт-Петербург\n"
    for {
      text <- Seq(cjk, ru)
      cs <- Seq(StandardCharsets.UTF_16LE, StandardCharsets.UTF_16BE)
    } {
      val src = tmpFile(text.getBytes(cs))
      assert(Charsets.detect(src) == cs, s"misdetected $cs for $text")
      val dest = Files.createTempFile("fixed", ".csv"); dest.toFile.deleteOnExit()
      val (orig, fixed, records) = Charsets.transcode(src, cs, dest)
      assert(orig == fixed && orig == text.count(_ == '\n'))
      assert(records == orig)
      val out = new String(Files.readAllBytes(dest), StandardCharsets.UTF_8)
      assert(out == text)
    }
  }

  test("validity scan does not steal single-byte or UTF-8 text") {
    // high-Latin-1 bytes (Ø=0xD8 etc.) read as UTF-16BE would form lone
    // surrogates; ASCII/UTF-8 text fuses pairs and shows no aligned
    // newline — every single-byte fixture must keep its original verdict
    val utf8 = "01;Ação do imposto\n02;café\n".getBytes(StandardCharsets.UTF_8)
    assert(Charsets.detectBytes(utf8) == StandardCharsets.UTF_8)
    val latin = "01;ØSTERGAARD Ração\n02;Ùltimo\n"
      .getBytes(StandardCharsets.ISO_8859_1)
    assert(Charsets.detectBytes(latin) == StandardCharsets.ISO_8859_1)
    val ascii = ("a" * 40 + "\n").getBytes(StandardCharsets.US_ASCII)
    assert(Charsets.detectBytes(ascii) == StandardCharsets.UTF_8)
  }

  test("zero-interleaved binary is NOT misrouted as BOM-less UTF-16") {
    // same NUL-parity pattern as UTF-16LE, but the non-zero half is control
    // bytes, not text — the printable-ASCII requirement must reject it
    val bytes = Array.tabulate[Byte](64)(i =>
      if (i % 2 == 1) 0 else ((i % 0x1F) + 1).toByte)
    val cs = Charsets.detectBytes(bytes)
    assert(cs != StandardCharsets.UTF_16LE && cs != StandardCharsets.UTF_16BE,
      s"zero-padded binary misdetected as $cs")
  }

  test("transcode Latin-1 → UTF-8 preserves line count and fixes accents") {
    val src = tmpFile("01;São Paulo\n02;Ação\n".getBytes(StandardCharsets.ISO_8859_1))
    val dest = Files.createTempFile("fixed", ".csv"); dest.toFile.deleteOnExit()
    val (orig, fixed, records) = Charsets.transcode(src, StandardCharsets.ISO_8859_1, dest)
    assert(orig == 2 && fixed == 2 && records == 2)
    val text = new String(Files.readAllBytes(dest), StandardCharsets.UTF_8)
    assert(text.contains("São Paulo") && text.contains("Ação"))
  }

  test("undecodable bytes are replaced with U+FFFD, not dropped (errors=replace)") {
    // invalid UTF-8 sequence 0xC3 0x28 in a file decoded as UTF-8
    val bytes = "ok;line\nbad;".getBytes(StandardCharsets.UTF_8) ++
      Array(0xC3, 0x28).map(_.toByte) ++ "\n".getBytes(StandardCharsets.UTF_8)
    val src = tmpFile(bytes)
    val dest = Files.createTempFile("fixed", ".csv"); dest.toFile.deleteOnExit()
    val (orig, fixed, records) = Charsets.transcode(src, StandardCharsets.UTF_8, dest)
    assert(orig == 2 && fixed == 2 && records == 2)
    val text = new String(Files.readAllBytes(dest), StandardCharsets.UTF_8)
    assert(text.contains('�'))
  }

  test("BOM is stripped when reading utf-8-sig content") {
    val src = tmpFile(Array(0xEF, 0xBB, 0xBF).map(_.toByte) ++
      "01;a\n".getBytes(StandardCharsets.UTF_8))
    val dest = Files.createTempFile("fixed", ".csv"); dest.toFile.deleteOnExit()
    Charsets.transcode(src, StandardCharsets.UTF_8, dest)
    val out = Files.readAllBytes(dest)
    assert(out(0) == '0'.toByte) // no BOM residue in the first cell
  }

  test("countLines returns -1 on missing file") {
    assert(Charsets.countLines(
      java.nio.file.Paths.get("/nonexistent/x.csv"), StandardCharsets.UTF_8) == -1L)
  }

  test("transcode counts the written file's lines and its non-empty records") {
    // the load audit's expected count: blank lines are lines but not CSV
    // records (Spark's reader skips them), CR and CRLF end lines too
    val src = tmpFile("01;a\n\n02;b\r\n\r\n03;c\r\n".getBytes(StandardCharsets.UTF_8))
    val dest = Files.createTempFile("fixed", ".csv"); dest.toFile.deleteOnExit()
    assert(Charsets.transcode(src, StandardCharsets.UTF_8, dest) === ((5L, 5L, 3L)))
    assert(Charsets.counts(dest, StandardCharsets.UTF_8) === ((5L, 3L)))
    assert(Charsets.countLines(dest, StandardCharsets.UTF_8) === 5L)
    assert(Charsets.countCsvRecords(dest, StandardCharsets.UTF_8) === 3L)
    val missing = java.nio.file.Paths.get("/nonexistent/x.csv")
    assert(Charsets.counts(missing, StandardCharsets.UTF_8) === ((-1L, -1L)))
    assert(Charsets.countCsvRecords(missing, StandardCharsets.UTF_8) === -1L)
  }

  test("BOM probe survives a stingy stream (1 byte per read)") {
    // InputStream.read may legally return fewer bytes than available; the
    // probe must loop, or a real BOM goes unstripped (r9 ADVICE)
    class Stingy(bytes: Array[Byte]) extends java.io.InputStream {
      private var i = 0
      override def read(): Int =
        if (i >= bytes.length) -1 else { i += 1; bytes(i - 1) & 0xFF }
      override def read(b: Array[Byte], off: Int, len: Int): Int =
        if (i >= bytes.length) -1
        else if (len == 0) 0
        else { b(off) = bytes(i); i += 1; 1 } // never more than one byte
    }
    val bom3 = Array(0xEF, 0xBB, 0xBF, 'a'.toInt).map(_.toByte)
    val buf = new Array[Byte](3)
    assert(Charsets.readFully(new Stingy(bom3), buf) == 3)
    assert(buf.toSeq == bom3.take(3).toSeq)
    // short input: returns what exists, never loops forever
    val buf2 = new Array[Byte](3)
    assert(Charsets.readFully(new Stingy(Array(0xEF.toByte)), buf2) == 1)
  }
}
