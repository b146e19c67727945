package graft.pipeline

import org.apache.spark.sql.{Encoders, SparkSession}

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

/** Manifest persistence: a `Dataset[ManifestEntry]` checkpointed as JSON
  * (SURVEY §1.3). Saved after every per-file state transition, matching the
  * reference's crash-resume granularity (`main.py:103,120,162,220`).
  *
  * Writes go driver-side via java.nio (atomic rename) — the manifest is tiny
  * (~37 rows/month) so a Spark job per save would be pure overhead; reads go
  * through the Spark JSON source so the schema stays the Encoder's.
  */
object Manifest {
  private val schema = Encoders.product[ManifestEntry].schema

  def exists(path: String): Boolean =
    java.nio.file.Files.exists(java.nio.file.Paths.get(path))

  // Jackson (Spark's own bundled copy + scala module) instead of the old
  // hand-rolled field-by-field writer: that one had to be kept in lockstep
  // with ManifestEntry by hand, and a field added to the case class but
  // not to save() silently vanished on the round-trip (r10 review)
  private val mapper = {
    val m = new com.fasterxml.jackson.databind.ObjectMapper()
    m.registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)
    m
  }

  def save(path: String, entries: Seq[ManifestEntry]): Unit = {
    val lines = entries.map(mapper.writeValueAsString)
    val p = java.nio.file.Paths.get(path)
    if (p.getParent != null) java.nio.file.Files.createDirectories(p.getParent)
    val tmp = java.nio.file.Paths.get(path + ".tmp")
    java.nio.file.Files.write(tmp,
      lines.mkString("\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    java.nio.file.Files.move(tmp, p,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
  }

  def load(spark: SparkSession, path: String): Seq[ManifestEntry] = {
    if (!exists(path)) Seq.empty
    // pin the file: scheme: save/exists are driver-local java.nio, but a
    // schemeless path here would resolve against fs.defaultFS — on an HDFS
    // cluster exists() says true and the read then misses the file,
    // breaking exactly the crash-resume this manifest exists for (r10
    // review). Raw path after the scheme, NOT toUri's percent-encoded
    // form: Hadoop Path never decodes %XX, so a non-ASCII workDir (the
    // lake uses pt-BR folder names) would percent-encode here and read a
    // nonexistent literal %-named file (r15 review — the same latent bug
    // the corrected-CSV read hit on cp437 member names)
    else {
      val d = ManifestEntry("", "")
      spark.read.schema(schema)
        .json("file:" +
          java.nio.file.Paths.get(path).toAbsolutePath.toString)
        .collect().toSeq
        // NULL-TOLERANT row mapping, not .as[ManifestEntry]: the typed
        // deserializer threw 'Null value appeared in non-nullable field'
        // on any line missing a primitive field — i.e. every manifest
        // written by a previous build after a field is ADDED — making
        // crash-resume impossible exactly when the code changed (r11
        // review). Missing fields take the case-class defaults. A line
        // whose `arquivo` itself is null is unidentifiable (externally
        // corrupt; save() is atomic): dropped, so its work is re-planned
        // as new — idempotent repeat, never silent data loss.
        .filter(r => r.getAs[String]("arquivo") != null)
        .map { r =>
          def s(n: String, dv: String): String =
            Option(r.getAs[String](n)).getOrElse(dv)
          def num(n: String, dv: Long): Long = {
            val i = r.fieldIndex(n)
            if (r.isNullAt(i)) dv else r.getAs[Number](i).longValue
          }
          def sq(n: String): Seq[String] = {
            val i = r.fieldIndex(n)
            if (r.isNullAt(i)) Nil else r.getSeq[String](i).toSeq
          }
          def nums(n: String): Seq[Long] = {
            val i = r.fieldIndex(n)
            if (r.isNullAt(i)) Nil
            else r.getSeq[Any](i).map {
              case x: Number => x.longValue
              case _ => -1L // a null count: unknown, the load rescans
            }.toSeq
          }
          ManifestEntry(
            arquivo = r.getAs[String]("arquivo"),
            url = s("url", ""),
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
            registrosCorrigidos = nums("registrosCorrigidos"))
        }
    }
  }
}
