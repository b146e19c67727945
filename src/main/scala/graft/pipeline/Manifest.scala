package graft.pipeline

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._
import scala.util.Try

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.module.scala.DefaultScalaModule

/** Pipeline status machine values (reference `main.py:65-71`). */
object Status {
  val Pendente = "pendente"
  val Sucesso = "sucesso"
  val Falhou = "falhou"
  val Ignorada = "ignorada"
}

/** One manifest entry per source zip — the per-file state machine that makes
  * the pipeline resumable and idempotent at file granularity (reference
  * `main.py:65-71`, `:51-53`). The reference's nested `validacoes` map is
  * flattened into the `linhas*`/`registros*` fields.
  * `registrosCorrigidos` is aligned with `arquivosCorrigidos`: the
  * non-empty CSV record count of each corrected file, counted by the fix
  * pass's re-read of that file and used by the load as its expected count.
  * Empty for entries written before it existed; the load then counts the
  * files itself.
  *
  * Divergence from the reference (deliberate, documented): `arquivosCorrigidos`
  * is a list — ALL files of a multi-entry zip are corrected and loaded, not
  * just the first (`main.py:130` quirk, SURVEY §3.3).
  */
case class ManifestEntry(
    arquivo: String,
    url: String,
    statusDownload: String = Status.Pendente,
    statusExtracao: String = Status.Pendente,
    statusCorrecao: String = Status.Pendente,
    statusCarga: String = Status.Pendente,
    tentativasDownload: Int = 0,
    caminhoZip: String = "",
    arquivosExtraidos: Seq[String] = Nil,
    arquivosCorrigidos: Seq[String] = Nil,
    tabelasDestino: Seq[String] = Nil,
    linhasOriginais: Long = -1L,
    linhasCorrigidas: Long = -1L,
    registrosCarregados: Long = -1L,
    registrosCorrigidos: Seq[Long] = Nil)

/** Manifest persistence: one JSON object per entry, one line per object
  * (SURVEY §1.3). Saved after every per-file state transition, matching the
  * reference's crash-resume granularity (`main.py:103,120,162,220`).
  *
  * Both directions go driver-side via java.nio through one Jackson
  * `mapper`, so this object is the one owner of the format. The manifest is
  * tiny (~37 rows/month): a Spark job per save or load would be pure
  * overhead, and a driver-local file needs no filesystem scheme.
  */
object Manifest {
  def exists(path: String): Boolean = Files.exists(Paths.get(path))

  // Jackson (Spark's own bundled copy + scala module) instead of the old
  // hand-rolled field-by-field writer: that one had to be kept in lockstep
  // with ManifestEntry by hand, and a field added to the case class but
  // not to save() silently vanished on the round-trip (r10 review)
  private val mapper = {
    val m = new ObjectMapper()
    m.registerModule(DefaultScalaModule)
    m
  }

  def save(path: String, entries: Seq[ManifestEntry]): Unit = {
    val lines = entries.map(mapper.writeValueAsString)
    val p = Paths.get(path)
    if (p.getParent != null) Files.createDirectories(p.getParent)
    val tmp = Paths.get(path + ".tmp")
    Files.write(tmp, lines.mkString("\n").getBytes(StandardCharsets.UTF_8))
    Files.move(tmp, p, StandardCopyOption.REPLACE_EXISTING,
      StandardCopyOption.ATOMIC_MOVE)
  }

  /** The entries [[save]] wrote at `path`; empty when there is no file.
    *
    * NULL-TOLERANT field mapping, not a typed decode of the case class: a
    * manifest written by a previous build lacks every field added since,
    * and crash-resume must work exactly when the code changed (r11
    * review). So an absent or null field takes the case-class default, a
    * null count inside `registrosCorrigidos` reads as -1 (the load rescans
    * that file), and unknown fields are ignored. Blank lines are skipped.
    * A line that does not parse, or has no `arquivo`, is unidentifiable
    * (externally corrupt; save() is atomic): dropped, so its work is
    * re-planned as new — idempotent repeat, never silent data loss.
    */
  def load(path: String): Seq[ManifestEntry] =
    if (!exists(path)) Seq.empty
    else Files.readAllLines(Paths.get(path), StandardCharsets.UTF_8)
      .asScala.toSeq
      .filter(_.trim.nonEmpty)
      .flatMap(line => Try(mapper.readTree(line)).toOption)
      .flatMap(entry)

  private def entry(node: JsonNode): Option[ManifestEntry] = {
    def get(n: String): Option[JsonNode] =
      Option(node.get(n)).filterNot(_.isNull)
    def s(n: String, dv: String): String = get(n).fold(dv)(_.asText)
    def num(n: String, dv: Long): Long =
      get(n).filter(_.isNumber).fold(dv)(_.asLong)
    def sq(n: String): Seq[String] = get(n).fold(Seq.empty[String])(
      _.asScala.map(e => if (e.isNull) null else e.asText).toSeq)
    def nums(n: String): Seq[Long] = get(n).fold(Seq.empty[Long])(
      _.asScala.map(e => if (e.isNumber) e.asLong else -1L).toSeq)
    val d = ManifestEntry("", "")
    get("arquivo").map(a => ManifestEntry(
      arquivo = a.asText,
      url = s("url", d.url),
      statusDownload = s("statusDownload", d.statusDownload),
      statusExtracao = s("statusExtracao", d.statusExtracao),
      statusCorrecao = s("statusCorrecao", d.statusCorrecao),
      statusCarga = s("statusCarga", d.statusCarga),
      tentativasDownload =
        num("tentativasDownload", d.tentativasDownload.toLong).toInt,
      caminhoZip = s("caminhoZip", d.caminhoZip),
      arquivosExtraidos = sq("arquivosExtraidos"),
      arquivosCorrigidos = sq("arquivosCorrigidos"),
      tabelasDestino = sq("tabelasDestino"),
      linhasOriginais = num("linhasOriginais", d.linhasOriginais),
      linhasCorrigidas = num("linhasCorrigidas", d.linhasCorrigidas),
      registrosCarregados =
        num("registrosCarregados", d.registrosCarregados),
      registrosCorrigidos = nums("registrosCorrigidos")))
  }
}
