package perfbench

import java.io.FileOutputStream
import java.nio.charset.{Charset, StandardCharsets}
import java.nio.file.{Files, Path}
import java.util.zip.{ZipEntry, ZipOutputStream}

/** Seeded synthetic RFB month with its expected answers.
  *
  * The layout mirrors the real dump as the pipeline sees it: 37 archives —
  * 10 Empresas parts (7 cols, UTF-8), 10 Estabelecimentos parts (30 cols,
  * Latin-1 with accents), 10 Socios parts (11 cols), one Simples (7 cols)
  * and six two-column dimensions (Municipios in Latin-1, Naturezas with a
  * UTF-8 BOM) plus the listing page the plan phase parses.
  *
  * Month index 0 is M; every later month removes, adds and changes a
  * seeded share of the previous month's establishment keys. Every value
  * is a pure function of (seed, key, field, month index), so a key
  * unchanged between two months writes byte-identical rows in both, and
  * the expected answers are counted while the rows are written.
  */
object MonthGen {
  val RemovedPerMille = 20
  val ChangedPerMille = 30
  val AddedPerMille = 20
  val Ufs: IndexedSeq[String] =
    IndexedSeq("SP", "RJ", "MG", "RS", "PR", "BA", "SC", "PE", "CE", "GO")
  val Portes: IndexedSeq[String] = IndexedSeq("01", "03", "05")
  /** CNAE dimension codes; every establishment's principal CNAE is one. */
  val Cnaes: IndexedSeq[String] = (0 until 50).map(i => f"${4711300 + i * 17}%07d")

  final case class Expected(
      archives: Int,
      rowsPerTable: Map[String, Long],
      csvRows: Long,
      activePerCnae: Map[String, Long],
      validCnpj: Long,
      estabPerUf: Map[String, Long],
      empresasPerPorte: Map[String, Long],
      diff: Map[String, Long])

  /** splitmix64 over (seed, key, field): the only source of randomness. */
  def mix(seed: Long, key: Long, field: Int): Long = {
    var z = seed * 0x9E3779B97F4A7C15L + key * 0xBF58476D1CE4E5B9L +
      field * 0x94D049BB133111EBL
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
  private def pick(seed: Long, key: Long, field: Int, n: Int): Int =
    java.lang.Math.floorMod(mix(seed, key, field), n.toLong).toInt

  /** Per-mille draw deciding the fate of key `id` in month `m` (m >= 1). */
  private def fate(seed: Long, m: Int, id: Long): Int = pick(seed, id, 100 * m + 1, 1000)
  private def removed(seed: Long, m: Int, id: Long): Boolean =
    fate(seed, m, id) < RemovedPerMille
  private def changed(seed: Long, m: Int, id: Long): Boolean = {
    val r = fate(seed, m, id)
    r >= RemovedPerMille && r < RemovedPerMille + ChangedPerMille
  }

  private def added(n: Long): Long = n * AddedPerMille / 1000

  /** Establishment keys present in month `m` (0 = M). */
  def keys(seed: Long, m: Int, n: Long): Iterator[Long] =
    if (m == 0) Iterator.range(0L, n)
    else keys(seed, m - 1, n).filterNot(removed(seed, m, _)) ++
      Iterator.range(n + (m - 1) * added(n), n + m * added(n))

  // eight digits for every key below 12.8 million
  private def basico(id: Long): String = (10000000L + id * 7).toString

  private def pad2(n: Int): String = if (n < 10) "0" + n else n.toString

  private def dv(seed: Long, id: Long): String = {
    val good = graft.functions.Cnpj.checkDigits(basico(id) + "0001")
    // one establishment in 25 carries a wrong check digit
    if (pick(seed, id, 2, 25) != 0) good
    else pad2((good.toInt + 1 + pick(seed, id, 3, 98)) % 100)
  }

  private def mkZip(dir: Path, zipName: String, member: String,
      bytes: Array[Byte]): Unit = {
    val z = new ZipOutputStream(new FileOutputStream(dir.resolve(zipName).toFile))
    try { z.putNextEntry(new ZipEntry(member)); z.write(bytes); z.closeEntry() }
    finally z.close()
  }

  /** Writes month `m` of the seeded dump into `src`; `rowsPerPart` rows per
    * big-table part in month M. The expected diff is against month m-1.
    */
  def write(src: Path, seed: Long, m: Int, rowsPerPart: Int): Expected = {
    Files.createDirectories(src)
    val n = rowsPerPart.toLong * 10
    val rows = scala.collection.mutable.Map[String, Long]().withDefaultValue(0L)
    val activePerCnae = scala.collection.mutable.Map[String, Long]().withDefaultValue(0L)
    val perUf = scala.collection.mutable.Map[String, Long]().withDefaultValue(0L)
    val perPorte = scala.collection.mutable.Map[String, Long]().withDefaultValue(0L)
    var valid = 0L
    val zips = scala.collection.mutable.ArrayBuffer[String]()
    val ids = keys(seed, m, n).toArray
    def part(p: Int): Iterator[Long] = ids.iterator.filter(_ % 10 == p)
    def csv(table: String, lines: Iterator[String], cs: Charset): Array[Byte] = {
      val sb = new java.lang.StringBuilder
      lines.foreach { l => sb.append(l).append('\n'); rows(table) += 1 }
      sb.toString.getBytes(cs)
    }
    def add(zip: String, member: String, bytes: Array[Byte]): Unit = {
      mkZip(src, zip, member, bytes); zips += zip
    }
    for (p <- 0 until 10) {
      add(s"Empresas$p.zip", s"K3241.K03200Y$p.D50913.EMPRECSV",
        csv("rfb_empresas", part(p).map { id =>
          val porte = Portes(pick(seed, id, 4, Portes.size))
          perPorte(porte) += 1
          s"${basico(id)};EMPRESA COMERCIAL LTDA $id;2062;49;" +
            s"${pick(seed, id, 5, 100000)},${pick(seed, id, 6, 100)};$porte;"
        }, StandardCharsets.UTF_8))
      add(s"Estabelecimentos$p.zip", s"K3241.K03200Y$p.D50913.ESTABELE",
        csv("rfb_estabelecimentos", part(p).map { id =>
          // each change flips the key's registration status
          val flips = (1 to m).count(k => changed(seed, k, id))
          val active = (pick(seed, id, 7, 10) < 7) != (flips % 2 == 1)
          val sit = if (active) "02" else "08"
          val cnae = Cnaes(pick(seed, id, 8, Cnaes.size))
          val uf = Ufs(pick(seed, id, 9, Ufs.size))
          val d = dv(seed, id)
          if (active) activePerCnae(cnae) += 1
          perUf(uf) += 1
          if (graft.functions.Cnpj.isValidStr(basico(id) + "0001" + d)) valid += 1
          s"${basico(id)};0001;$d;1;PADARIA SÃO JOÃO $id;$sit;20100312;00;;;" +
            s"2005${pad2(1 + pick(seed, id, 10, 12))}07;$cnae;4721102,4729699;" +
            s"RUA;AÇAÍ;${pick(seed, id, 11, 2000)};;CENTRO;01310100;$uf;7107;11;" +
            "33334444;;;;;PADARIA@EXEMPLO.COM.BR;;"
        }, StandardCharsets.ISO_8859_1))
      add(s"Socios$p.zip", s"K3241.K03200Y$p.D50913.SOCIOCSV",
        csv("rfb_socios", part(p).map { id =>
          s"${basico(id)};2;JOSÉ DA SILVA $id;***123456**;49;20150101;;;;00;4"
        }, StandardCharsets.UTF_8))
    }
    add("Simples.zip", "K3241.K03200Y0.D50913.SIMPLES",
      csv("rfb_simples", ids.iterator.filter(_ % 3 == 0).map { id =>
        s"${basico(id)};S;20070701;;N;;"
      }, StandardCharsets.UTF_8))
    def dim(zip: String, member: String, table: String, codes: Seq[String],
        label: String, cs: Charset, bom: Boolean = false): Unit = {
      val body = csv(table, codes.iterator.map(c => s"$c;$label $c"), cs)
      add(zip, member,
        if (bom) Array(0xEF, 0xBB, 0xBF).map(_.toByte) ++ body else body)
    }
    dim("Cnaes.zip", "K1.D509.CNAECSV", "rfb_cnaes", Cnaes,
      "Comércio varejista", StandardCharsets.UTF_8)
    dim("Motivos.zip", "K1.D509.MOTIV", "rfb_motivos",
      (0 until 50).map(i => f"$i%02d"), "Motivo", StandardCharsets.UTF_8)
    dim("Municipios.zip", "K1.D509.MUNIC", "rfb_municipios",
      (0 until 50).map(i => f"${7100 + i}%04d"), "Município",
      StandardCharsets.ISO_8859_1)
    dim("Naturezas.zip", "K1.D509.NATJU", "rfb_naturezas",
      (0 until 50).map(i => f"${2000 + i}%04d"), "Natureza",
      StandardCharsets.UTF_8, bom = true)
    dim("Paises.zip", "K1.D509.PAIS", "rfb_paises",
      (0 until 50).map(i => f"$i%03d"), "País", StandardCharsets.UTF_8)
    dim("Qualificacoes.zip", "K1.D509.QUALS", "rfb_qualificacoes",
      (0 until 50).map(i => f"$i%02d"), "Qualificação", StandardCharsets.UTF_8)
    Files.write(src.resolve("listing.html"),
      ("<html><body>" + zips.map(z => s"""<a href="$z">$z</a>""").mkString +
        """<a href="leiame.pdf">doc</a></body></html>""")
        .getBytes(StandardCharsets.UTF_8))
    val diff =
      if (m == 0) Map.empty[String, Long]
      else {
        val before = keys(seed, m - 1, n).toSeq
        Map("removed" -> before.count(removed(seed, m, _)).toLong,
          "changed" -> before.count(changed(seed, m, _)).toLong,
          "added" -> added(n))
      }
    Expected(zips.size, rows.toMap, rows.values.sum, activePerCnae.toMap,
      valid, perUf.toMap, perPorte.toMap, diff)
  }
}
