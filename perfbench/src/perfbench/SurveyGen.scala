package perfbench

import java.nio.charset.StandardCharsets
import java.util.SplittableRandom

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.etl.{ColumnRename, EntityTypeMap, EtlConfig, GroupRange}

/** What a correct pipeline run over a generated survey must produce: the
  * four quarantine partitions and the row count of every star table.
  * The generator plants these numbers; the library never computes them.
  */
final case class SurveyTruth(
    rows: Long, valid: Long, duplicates: Long, unmatched: Long, badName: Long,
    tables: Map[String, Long])

/** Seeded survey inputs in the shape of the FEFAL yearly batch: one wide
  * sheet, one row per municipality or parish answer, entity names typed
  * by hand (prefixes, case, accents, stray spaces), resubmissions, rows
  * naming entities the registry does not hold, and sentinel names.
  */
object SurveyGen {

  val Year = 2026

  private val identHeaders = Seq(
    "Nome da Entidade", "Tipo de Entidade", "Nome do Responsável", "Existe Responsável",
    "Percentagem Preenchido", "Hora de início", "Hora de conclusão", "Data de submissão")

  private val courses = Seq(
    "Excel Avançado", "SIG Municipal", "Gestão de Projetos", "Atendimento ao Público",
    "Contratação Pública", "Proteção de Dados", "Liderança de Equipas", "Gestão Documental",
    "Higiene e Segurança", "Primeiros Socorros", "Comunicação Digital", "Redes Sociais",
    "Orçamento Municipal", "Contabilidade Pública", "Fiscalização de Obras", "Urbanismo",
    "Gestão Florestal", "Proteção Civil", "Ação Social", "Educação Ambiental",
    "Cibersegurança", "Modernização Administrativa", "Inglês Técnico", "Gestão de Conflitos",
    "Mobilidade Urbana", "Eficiência Energética", "Turismo Local", "Património Cultural",
    "Gestão de Resíduos", "Recursos Humanos")

  private val areas = Seq(
    "Liderança", "Inovação", "Ambiente", "Digitalização", "Saúde Pública", "Cultura",
    "Desporto", "Juventude", "Envelhecimento Ativo", "Economia Local", "Agricultura",
    "Transportes", "Habitação", "Igualdade de Género")

  private val slots = for {
    d <- Seq("Segunda", "Terça", "Quarta", "Quinta", "Sexta", "Sábado", "Domingo")
    p <- Seq("manhã", "tarde")
  } yield s"$d - $p"

  private val prefs = Seq(
    "Preferência: Presencial", "Preferência: E-learning", "Preferência: B-learning",
    "Preferência: Síncrono", "Preferência: Assíncrono")

  /** Comment texts and the sentence count the pipeline's splitter must
    * find in each (terminal punctuation, or a comma before a capital).
    */
  private val comments = Seq(
    "Muito útil." -> 1,
    "Muito útil. Repetir!" -> 2,
    "Formação essencial para a equipa; Prioridade alta." -> 2,
    "Interessante, Gostaríamos de mais sessões." -> 2,
    "Sim, mas apenas online" -> 1,
    "Precisamos de formação prática. Horário pós-laboral? Contactar a divisão." -> 3)

  /** The wide layout: 8 identification, 30 formation, 14 x 3 interest,
    * 2 x 14 availability and 5 preference columns (113 in all).
    */
  val headers: Seq[String] =
    identHeaders ++
      courses.map(c => s"Quantos formandos [$c]") ++
      areas.flatMap(a => Seq(a, s"$a [comentario]", s"Nº de formandos previstos $a")) ++
      Seq("Presencial", "Online").flatMap(t => slots.map(s => s"$t - [$s]")) ++
      prefs

  val config: EtlConfig = {
    val f0 = identHeaders.size + 1
    val i0 = f0 + courses.size
    val d0 = i0 + 3 * areas.size
    val p0 = d0 + 2 * slots.size
    EtlConfig(
      renames = Seq(
        ColumnRename("Nome da Entidade", "nome_entidade", critical = true),
        ColumnRename("Tipo de Entidade", "tipo_entidade"),
        ColumnRename("Nome do Responsável", "nome_responsavel"),
        ColumnRename("Existe Responsável", "existe_responsavel"),
        ColumnRename("Percentagem Preenchido", "percentagem_preenchido"),
        ColumnRename("Hora de início", "data_inicio"),
        ColumnRename("Hora de conclusão", "data_fim"),
        ColumnRename("Data de submissão", "data_submissao")),
      groups = Map(
        "identificacao" -> GroupRange(1, identHeaders.size),
        "formacoes" -> GroupRange(f0, i0 - 1),
        "interesses" -> GroupRange(i0, d0 - 1),
        "disponibilidade" -> GroupRange(d0, p0 - 1),
        "tipo de ensino" -> GroupRange(p0, p0 + prefs.size - 1)),
      entityTypes = Seq(
        EntityTypeMap("Câmara Municipal", "municipios"),
        EntityTypeMap("Freguesias", "freguesias"),
        EntityTypeMap("Municípios", "municipios")))
  }

  final case class Entity(id: Long, name: String, tipo: String)

  final case class Yearly(
      registry: Seq[Entity], header: Seq[String], rows: Seq[Array[String]], truth: SurveyTruth)

  private val syllables = Seq(
    "ba", "ca", "da", "fa", "ga", "la", "ma", "na", "pa", "ra", "sa", "ta", "va", "be", "ce",
    "de", "fe", "le", "me", "ne", "pe", "re", "se", "te", "ve", "bi", "ci", "di", "fi", "li",
    "mi", "ni", "pi", "ri", "si", "ti", "vi", "bo", "co", "do", "fo", "go", "lo", "mo", "no",
    "po", "ro", "so", "to", "vo", "bu", "cu", "du", "lu", "mu", "nu", "ru", "tu", "ção", "lhã",
    "nhe", "rão", "são", "tó", "zé", "ça")

  private def fold(s: String): String =
    java.text.Normalizer.normalize(s, java.text.Normalizer.Form.NFD)
      .replaceAll("\\p{M}+", "").toLowerCase(java.util.Locale.ROOT)

  private def word(r: SplittableRandom): String = {
    val w = (0 until 2 + r.nextInt(2)).map(_ => syllables(r.nextInt(syllables.size))).mkString
    w.head.toUpper + w.tail
  }

  private def placeName(r: SplittableRandom): String = r.nextInt(4) match {
    case 0 => s"${word(r)} de ${word(r)}"
    case 1 => s"${word(r)} ${word(r)}"
    case _ => word(r)
  }

  /** A pool of place names, distinct after accent folding and case. */
  private def names(r: SplittableRandom, n: Int, taken: Set[String]): Seq[String] = {
    val seen = scala.collection.mutable.Set.empty[String] ++= taken
    val out = Seq.newBuilder[String]
    var k = 0
    while (k < n) {
      val s = placeName(r)
      if (seen.add(fold(s))) { out += s; k += 1 }
    }
    out.result()
  }

  private def pick[T](r: SplittableRandom, xs: Seq[T]): T = xs(r.nextInt(xs.size))

  /** How a respondent types the entity's name: a designator prefix, the
    * bare name, shouting, or stray whitespace. All normalize to the
    * registry key.
    */
  private def typed(r: SplittableRandom, e: Entity): (String, String) =
    if (e.tipo == "municipios") {
      val n = r.nextInt(5) match {
        case 0 => s"Município de ${e.name}"
        case 1 => s"Câmara Municipal de ${e.name}"
        case 2 => s"MUNICÍPIO DE ${e.name.toUpperCase(java.util.Locale.ROOT)}"
        case 3 => s"  ${e.name}  "
        case _ => e.name
      }
      n -> (if (r.nextBoolean()) "Câmara Municipal" else "Municípios")
    } else {
      val n = r.nextInt(5) match {
        case 0 => s"Junta de Freguesia de ${e.name}"
        case 1 => s"Freguesia de ${e.name}"
        case 2 => s"União das Freguesias de ${e.name}"
        case 3 => e.name.replace(" ", "  ")
        case _ => e.name
      }
      n -> "Freguesias"
    }

  private val badNames: Seq[String] =
    Seq(null, "N/A", "nd", "Sem dados", "   ", "Não definido", "NaN")

  /** Row counts the written star tables must hold for one kept row. */
  private final case class Facts(formacao: Int, interesse: Int, comentario: Int,
      preferencia: Int, disponibilidade: Int) {
    def +(o: Facts): Facts = Facts(formacao + o.formacao, interesse + o.interesse,
      comentario + o.comentario, preferencia + o.preferencia, disponibilidade + o.disponibilidade)
  }

  /** The answer cells of one submission, and the facts they load. */
  private def answers(r: SplittableRandom): (Seq[String], Facts) = {
    val form = courses.map { _ =>
      r.nextInt(10) match {
        case 0 => null
        case 1 => "-"
        case _ => r.nextInt(26).toString
      }
    }
    var sims = 0
    var sentences = 0
    val inter = areas.flatMap { _ =>
      val v = r.nextInt(6) match {
        case 0 | 1 => "Sim"
        case 2 => " sim "
        case 3 => "Não"
        case 4 => "NÃO"
        case _ => null
      }
      val sim = v != null && v.trim.equalsIgnoreCase("sim")
      if (sim) sims += 1
      val c = r.nextInt(8) match {
        case 0 | 1 | 2 => null
        case 3 => (1 + r.nextInt(20)).toString
        case _ =>
          val (t, k) = pick(r, comments)
          if (sim) sentences += k
          t
      }
      Seq(v, c, r.nextInt(15).toString)
    }
    val disp = (0 until 2 * slots.size).map { _ =>
      r.nextInt(4) match { case 0 => null; case 1 => "Não"; case _ => "Sim" }
    }
    var nPref = 0
    val pref = prefs.map { _ =>
      r.nextInt(6) match {
        case 0 => null
        case 1 => "n/a"
        case _ => nPref += 1; (1 + r.nextInt(5)).toString
      }
    }
    (form ++ inter ++ disp ++ pref,
      Facts(courses.size, sims, sentences, nPref, 2 * slots.size))
  }

  /** 3,300 submissions over a registry of 308 municipalities and 3,092
    * parishes (Portugal's counts); exact shares of sentinel names,
    * unregistered entities and resubmissions are planted.
    */
  def yearly(seed: Long): Yearly = {
    val (rows, municipios, freguesias) = (3300, 308, 3092)
    val r = new SplittableRandom(seed)
    val regNames = names(r, municipios + freguesias, Set.empty)
    val registry = regNames.zipWithIndex.map { case (n, i) =>
      Entity(i + 1L, n, if (i < municipios) "municipios" else "freguesias")
    }
    val nBad = rows * 2 / 100
    val nUnmatched = rows * 4 / 100
    val nDup = rows * 6 / 100
    val strangers = names(r, nUnmatched, regNames.map(fold).toSet).iterator
    val shuffle = new scala.util.Random(r.nextLong())
    val classes = shuffle.shuffle(Seq.fill(nBad)('b') ++ Seq.fill(nUnmatched)('u') ++
      Seq.fill(nDup)('d') ++ Seq.fill(rows - nBad - nUnmatched - nDup)('f')).toArray
    // a resubmission needs an earlier submission of the same entity
    classes(classes.indexOf('f')) = classes(0)
    classes(0) = 'f'
    val firstPick = shuffle.shuffle(registry).iterator
    val seen = scala.collection.mutable.ArrayBuffer.empty[Entity]
    var sums = Facts(0, 0, 0, 0, 0)
    val out = classes.toSeq.zipWithIndex.map { case (cls, i) =>
      val (ans, facts) = answers(r)
      val (name, tipo) = cls match {
        case 'b' => pick(r, badNames) -> pick(r, Seq("Câmara Municipal", "Freguesias"))
        case 'u' =>
          if (r.nextBoolean()) strangers.next() -> pick(r, Seq("Câmara Municipal", "Freguesias"))
          else {
            // a registered name under the other entity type
            val e = pick(r, registry)
            e.name -> (if (e.tipo == "municipios") "Freguesias" else "Municípios")
          }
        case 'd' => typed(r, seen(r.nextInt(seen.size)))
        case _ =>
          val e = firstPick.next()
          seen += e
          sums = sums + facts
          typed(r, e)
      }
      val start = 1740000000L + i * 517L
      val end = start + 300 + r.nextInt(3000)
      val ident = Seq(
        name, tipo, s"${word(r)} ${word(r)}", if (r.nextBoolean()) "Sim" else "Não",
        if (r.nextInt(20) == 0) "" else (r.nextInt(1001) / 10.0).toString,
        ts(start), ts(end), if (r.nextInt(10) == 0) null else ts(end + 60))
      (ident ++ ans).toArray
    }
    val valid = seen.size.toLong
    Yearly(registry, headers, out, SurveyTruth(
      rows = rows, valid = valid, duplicates = nDup, unmatched = nUnmatched, badName = nBad,
      tables = Map(
        "fato_inquerito" -> valid,
        "fato_formacao_inquerito" -> sums.formacao,
        "fato_interesse_area" -> sums.interesse,
        "comentario" -> sums.comentario,
        "fato_preferencia_ensino" -> sums.preferencia,
        "fato_disponibilidade_horaria" -> sums.disponibilidade,
        "dim_formacao" -> courses.size,
        "dim_area_tematica" -> areas.size,
        "dim_preferencia_ensino" -> prefs.size,
        "dim_horario" -> 2 * slots.size)))
  }

  private val tsFmt = java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")
    .withZone(java.time.ZoneOffset.UTC)
  private def ts(epoch: Long): String = tsFmt.format(java.time.Instant.ofEpochSecond(epoch))

  def registryFrame(spark: SparkSession, reg: Seq[Entity]): DataFrame = {
    import spark.implicits._
    reg.map(e => (e.id, e.name, e.tipo)).toDF("id_entidades", "ent_nome", "ent_tipo")
  }

  /** UTF-8 bytes of every non-null cell, headers included. */
  def cellBytes(header: Seq[String], rows: Seq[Array[String]]): Long =
    (header.iterator ++ rows.iterator.flatMap(_.iterator))
      .filter(_ != null).map(_.getBytes(StandardCharsets.UTF_8).length.toLong).sum

  /** Write the sheet as a minimal OOXML workbook with a shared-string
    * table, the layout survey tools export.
    */
  def writeXlsx(path: String, header: Seq[String], rows: Seq[Array[String]]): Unit = {
    val index = scala.collection.mutable.LinkedHashMap.empty[String, Int]
    def sst(s: String): Int = index.getOrElseUpdate(s, index.size)
    def esc(s: String): String =
      s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;").replace("\"", "&quot;")
    def colRef(c: Int): String =
      if (c < 26) ('A' + c).toChar.toString else colRef(c / 26 - 1) + ('A' + c % 26).toChar
    val sheet = new StringBuilder
    sheet ++= """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>"""
    sheet ++= """<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"><sheetData>"""
    (header.toArray +: rows).zipWithIndex.foreach { case (cells, i) =>
      sheet ++= s"""<row r="${i + 1}">"""
      cells.zipWithIndex.foreach { case (v, c) =>
        if (v != null) sheet ++= s"""<c r="${colRef(c)}${i + 1}" t="s"><v>${sst(v)}</v></c>"""
      }
      sheet ++= "</row>"
    }
    sheet ++= "</sheetData></worksheet>"
    val strings = new StringBuilder
    strings ++= """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>"""
    strings ++= s"""<sst xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" count="${index.size}" uniqueCount="${index.size}">"""
    index.keys.foreach(s => strings ++= s"""<si><t xml:space="preserve">${esc(s)}</t></si>""")
    strings ++= "</sst>"
    val parts = Seq(
      "[Content_Types].xml" ->
        ("""<?xml version="1.0" encoding="UTF-8" standalone="yes"?><Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">""" +
          """<Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/><Default Extension="xml" ContentType="application/xml"/>""" +
          """<Override PartName="/xl/workbook.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>""" +
          """<Override PartName="/xl/worksheets/sheet1.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.worksheet+xml"/>""" +
          """<Override PartName="/xl/sharedStrings.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sharedStrings+xml"/></Types>"""),
      "_rels/.rels" ->
        ("""<?xml version="1.0" encoding="UTF-8" standalone="yes"?><Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">""" +
          """<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/officeDocument" Target="xl/workbook.xml"/></Relationships>"""),
      "xl/workbook.xml" ->
        ("""<?xml version="1.0" encoding="UTF-8" standalone="yes"?><workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships">""" +
          """<sheets><sheet name="Respostas" sheetId="1" r:id="rId1"/></sheets></workbook>"""),
      "xl/_rels/workbook.xml.rels" ->
        ("""<?xml version="1.0" encoding="UTF-8" standalone="yes"?><Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">""" +
          """<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet" Target="worksheets/sheet1.xml"/>""" +
          """<Relationship Id="rId2" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/sharedStrings" Target="sharedStrings.xml"/></Relationships>"""),
      "xl/worksheets/sheet1.xml" -> sheet.toString,
      "xl/sharedStrings.xml" -> strings.toString)
    val zip = new java.util.zip.ZipOutputStream(
      new java.io.BufferedOutputStream(new java.io.FileOutputStream(path)))
    try parts.foreach { case (name, body) =>
      val e = new java.util.zip.ZipEntry(name)
      e.setTime(0L)
      zip.putNextEntry(e)
      zip.write(body.getBytes(StandardCharsets.UTF_8))
      zip.closeEntry()
    } finally zip.close()
  }
}

/** Seeded twin of `graft.tools.SyntheticSurvey`: the same 25-column
  * layout and 50,000-entity registry, generated from `spark.range` so no
  * file is read, with sentinel names, unregistered entities and
  * resubmissions planted by a seeded hash of the row id. A resubmission
  * repeats its entity's answers, so the kept row's facts do not depend on
  * which submission the dedup keeps.
  */
object VolumeGen {

  val Entities = 50000L

  def registry(spark: SparkSession): DataFrame =
    spark.range(Entities).select(
      (col("id") + 1).as("id_entidades"),
      concat(lit("Entidade "), col("id")).as("ent_nome"),
      when(col("id") % 2 === 0, "municipios").otherwise("freguesias").as("ent_tipo"))

  /** (survey, truth): the survey frame holds only the 25 survey columns. */
  def survey(spark: SparkSession, seed: Long, rows: Long): (DataFrame, SurveyTruth) = {
    def h(k: Int, key: org.apache.spark.sql.Column) = xxhash64(lit(seed), lit(k), key)
    def rowHash(k: Int, m: Int) = pmod(h(k, col("id")), lit(m.toLong))
    val cls = rowHash(1, 100)
    val ent = pmod(h(2, col("id")), lit(Entities))
    val base = spark.range(rows).select(
      col("id"),
      when(cls < 2, "bad").when(cls < 5, "unmatched").otherwise("matched").as("cls"),
      ent.as("ent"))
    val matched = col("cls") === "matched"
    val key = when(matched, col("ent")).otherwise(lit(-1L) - col("id"))
    def a(k: Int, m: Int) = pmod(h(k, key), lit(m.toLong))
    val e = col("ent").cast("string")
    val muni = col("ent") % 2 === 0
    val name =
      when(matched, element_at(
        when(muni, array(concat(lit("Município de Entidade "), e),
            concat(lit("Câmara Municipal de Entidade "), e),
            concat(lit("ENTIDADE "), e), concat(lit(" Entidade  "), e, lit(" "))))
          .otherwise(array(concat(lit("Junta de Freguesia de Entidade "), e),
            concat(lit("Freguesia de Entidade "), e),
            concat(lit("ENTIDADE "), e), concat(lit("Entidade  "), e))),
        (rowHash(3, 4) + 1).cast("int")))
        .when(col("cls") === "unmatched",
          when(rowHash(3, 2) === 0, concat(lit("Fantasma "), col("id")))
            .otherwise(concat(lit("Entidade "), (col("id") + Entities).cast("string"))))
        .otherwise(element_at(
          array(lit(null).cast("string"), lit("N/A"), lit("nd"), lit("Sem dados")),
          (rowHash(3, 4) + 1).cast("int")))
    val tipo =
      when(matched && muni,
        when(rowHash(4, 2) === 0, "Câmara Municipal").otherwise("Municípios"))
        .when(matched, "Freguesias").otherwise("Câmara Municipal")
    def simNao(k: Int, m: Int) = when(a(k, m) === 0, "Sim").otherwise("Não")
    def stamp(offset: org.apache.spark.sql.Column) =
      date_format(timestamp_seconds(lit(1740000000L) + offset), "yyyy-MM-dd HH:mm:ss")
    val full = base.select(
      col("cls"), col("ent"),
      name.as("Nome da Entidade"),
      tipo.as("Tipo de Entidade"),
      concat(lit("Resp "), col("id")).as("Nome do Responsável"),
      simNao(5, 2).as("Existe Responsável"),
      a(6, 101).cast("string").as("Percentagem Preenchido"),
      stamp(col("id") % 3600).as("Hora de início"),
      stamp(col("id") % 3600 + 300 + a(26, 3000)).as("Hora de conclusão"),
      stamp(lit(100000L) + a(27, 50000)).as("Data de submissão"),
      a(7, 30).cast("string").as("Quantos formandos [Excel Avançado]"),
      a(8, 7).cast("string").as("Quantos formandos [SIG Municipal]"),
      when(a(9, 5) === 0, "garbage").otherwise(a(10, 9).cast("string"))
        .as("Quantos formandos [Gestão]"),
      a(11, 4).cast("string").as("Quantos formandos [Atendimento]"),
      simNao(12, 2).as("Liderança"),
      when(a(13, 4) === 0, a(14, 40).cast("string"))
        .when(a(13, 4) === 1, "Muito útil. Repetir!").as("Liderança [comentario]"),
      a(15, 25).cast("string").as("Nº de formandos previstos Liderança"),
      simNao(16, 3).as("Inovação"),
      when(a(17, 4) === 1, "Interessante, Gostaríamos de mais sessões.")
        .as("Inovação [comentario]"),
      a(18, 12).cast("string").as("Nº de formandos previstos Inovação"),
      simNao(19, 2).as("Presencial - [Dias úteis - manhã]"),
      simNao(20, 3).as("Presencial - [Sábado]"),
      when(a(21, 5) === 0, "talvez").otherwise("Sim").as("Online - [Dias úteis - manhã]"),
      simNao(28, 7).as("Online - [Sábado]"),
      (a(22, 5) + 1).cast("string").as("Preferência: Presencial"),
      when(a(23, 6) === 0, "n/a").otherwise((a(24, 5) + 1).cast("string"))
        .as("Preferência: E-learning"),
      (a(25, 5) + 1).cast("string").as("Preferência: B-learning"),
      // planted facts of the row (both comment texts hold two sentences)
      ((a(12, 2) === 0).cast("int") + (a(16, 3) === 0).cast("int")).as("__sim"),
      ((a(12, 2) === 0 && a(13, 4) === 1).cast("int") * 2 +
        (a(16, 3) === 0 && a(17, 4) === 1).cast("int") * 2).as("__sentences"),
      (lit(2) + (a(23, 6) =!= 0).cast("int")).as("__prefs"))

    val counts = full.agg(
      count(lit(1)), sum((col("cls") === "bad").cast("long")),
      sum((col("cls") === "unmatched").cast("long"))).head()
    val perEntity = full.filter(matched)
      .select(col("ent"), col("__sim"), col("__sentences"), col("__prefs")).distinct()
      .agg(count(lit(1)), sum(col("__sim")), sum(col("__sentences")), sum(col("__prefs")))
      .head()
    val n = counts.getLong(0)
    val valid = perEntity.getLong(0)
    val bad = counts.getLong(1)
    val unmatched = counts.getLong(2)
    val truth = SurveyTruth(
      rows = n, valid = valid, duplicates = n - bad - unmatched - valid,
      unmatched = unmatched, badName = bad,
      tables = Map(
        "fato_inquerito" -> valid,
        "fato_formacao_inquerito" -> 4 * valid,
        "fato_interesse_area" -> perEntity.getLong(1),
        "comentario" -> perEntity.getLong(2),
        "fato_preferencia_ensino" -> perEntity.getLong(3),
        "fato_disponibilidade_horaria" -> 4 * valid,
        "dim_formacao" -> 4L,
        "dim_area_tematica" -> 2L,
        "dim_preferencia_ensino" -> 3L,
        "dim_horario" -> 4L))
    val surveyCols = full.columns.filterNot(c => c == "cls" || c == "ent" || c.startsWith("__"))
    (full.select(surveyCols.map(c => col(s"`$c`")): _*), truth)
  }

  /** UTF-8 bytes of every non-null survey cell. */
  def cellBytes(survey: DataFrame): Long =
    survey.select(survey.columns.map(c =>
        coalesce(octet_length(col(s"`$c`")), lit(0)).cast("long")).reduce(_ + _).as("b"))
      .agg(sum(col("b"))).head().getLong(0)
}
