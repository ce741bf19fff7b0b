package graft.sources

import java.io.InputStream
import java.nio.file.{Files, Path, Paths}
import java.util.zip.ZipFile

import javax.xml.stream.{XMLInputFactory, XMLStreamConstants}

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import scala.collection.mutable.ArrayBuffer

import graft.DriverThreads

/** Dependency-free Excel source (SURVEY.md S1). The reference ingests one
  * survey workbook per year (`pd.read_excel`, etl_ui.py:861); workbooks
  * are MB-scale, so parsing on the driver and parallelizing the rows is
  * the architecturally honest port (the cluster never needed to scan the
  * spreadsheet — it needs the DataFrame that comes out of it).
  *
  * Supports the common subset: sheet1, shared strings, inline strings,
  * numeric cells. Every value lands as a string — identical to the CSV
  * path (cells are heterogeneous; coercion is per-column downstream).
  * [[read]]/[[readRows]] dispatch on magic bytes, so legacy `.xls`
  * (BIFF8) workbooks route to [[Biff]] transparently — the same
  * two-format surface `pd.read_excel` gives the reference.
  */
object Xlsx {

  /** Read sheet `sheet` (1-based) of an .xlsx into a DataFrame: first row
    * = headers, all-string schema, ingest `row_id` attached (file order).
    * The driver already holds the rows in sheet order, so `row_id` (the
    * 0-based data-row index) is appended here while the rows are built
    * and the rows are parallelized once: reading runs no Spark job.
    */
  def read(spark: SparkSession, path: String, sheet: Int = 1): DataFrame = {
    val rows = readRows(path, sheet)
    require(rows.nonEmpty, s"empty workbook: $path")
    val headers = rows.head.map(h => if (h == null) "" else h)
    val width = headers.length
    val data = rows.tail.zipWithIndex.map { case (r, i) =>
      Row.fromSeq(r.padTo(width, null).take(width).toSeq :+ i.toLong)
    }
    val schema = StructType(headers.map(h => StructField(h, StringType, nullable = true)))
      .add(Readers.RowId, LongType, nullable = false)
    spark.createDataFrame(spark.sparkContext.parallelize(data), schema)
  }

  /** Raw cell grid of sheet `sheet` (1-based; driver-side). Numeric cells
    * whose style carries a date number format are surfaced as ISO strings
    * (pd.read_excel parity — etl_ui.py:861 sees datetimes, not raw
    * serial numbers); everything else — including percent-styled cells,
    * which pd.read_excel surfaces as their stored decimal, not the
    * display text — stays the literal cell text.
    *
    * Dispatches on the file's MAGIC BYTES, not its extension
    * (`pd.read_excel` parity — etl_ui.py:850 accepts `.xls` and `.xlsx`
    * uploads alike): a zip container parses as OOXML here, an OLE2
    * container routes to the [[Biff]] BIFF8 reader, and anything else —
    * including misnamed CSVs — fails with a typed, actionable error
    * instead of a zip crash.
    */
  def readRows(path: String, sheet: Int = 1): Vector[Array[String]] = {
    val magic = new Array[Byte](8)
    val in = new java.io.FileInputStream(path)
    val n = try in.read(magic) finally in.close()
    if (n >= 8 && Biff.isCfb(magic)) return Biff.readRows(path, sheet)
    if (n < 2 || magic(0) != 'P'.toByte || magic(1) != 'K'.toByte)
      throw new IllegalArgumentException(
        s"$path is neither an OOXML (.xlsx) nor an OLE2 (.xls) workbook — " +
          "export the data as .xlsx or CSV")
    val zip = new ZipFile(path)
    try {
      val shared = Option(zip.getEntry("xl/sharedStrings.xml"))
        .map(e => parseSharedStrings(zip.getInputStream(e)))
        .getOrElse(Vector.empty)
      val dateStyles = Option(zip.getEntry("xl/styles.xml"))
        .map(e => parseDateStyles(zip.getInputStream(e)))
        .getOrElse(Set.empty[Int])
      val part = sheetPart(zip, sheet)
      val sheetEntry = Option(zip.getEntry(part))
        .getOrElse(throw new IllegalArgumentException(s"no worksheet part $part in $path"))
      parseSheet(zip.getInputStream(sheetEntry), shared, dateStyles)
    } finally zip.close()
  }

  /** Physical worksheet part for a 1-based manifest position, resolved
    * through the workbook manifest's `r:id` -> `workbook.xml.rels`
    * indirection: Excel re-numbers `sheetN.xml` parts after sheet
    * delete/reorder, so manifest order need not match part numbering in
    * externally authored workbooks. Falls back to the conventional
    * `sheetN.xml` name when the indirection is absent (our own writer,
    * minimal test workbooks).
    */
  private def sheetPart(zip: ZipFile, sheet: Int): String = {
    val viaRels =
      for {
        wb <- Option(zip.getEntry("xl/workbook.xml"))
        rels <- Option(zip.getEntry("xl/_rels/workbook.xml.rels"))
        rid <- sheetRelIds(zip.getInputStream(wb)).lift(sheet - 1).flatten
        target <- relTargets(zip.getInputStream(rels)).get(rid)
      } yield if (target.startsWith("/")) target.drop(1) else "xl/" + target
    viaRels.getOrElse(s"xl/worksheets/sheet$sheet.xml")
  }

  /** The `r:id` of each sheet in the workbook manifest, in order (None
    * for sheets without one).
    */
  private def sheetRelIds(in: InputStream): Vector[Option[String]] = {
    val reader = secureFactory().createXMLStreamReader(in)
    val out = Vector.newBuilder[Option[String]]
    try {
      while (reader.hasNext) {
        if (reader.next() == XMLStreamConstants.START_ELEMENT &&
            reader.getLocalName == "sheet") {
          // the attribute is namespaced (r:id); match by local name
          val rid = (0 until reader.getAttributeCount)
            .find(i => reader.getAttributeLocalName(i) == "id")
            .map(reader.getAttributeValue)
          out += rid
        }
      }
    } finally reader.close()
    out.result()
  }

  /** Relationship Id -> Target of a .rels part. */
  private def relTargets(in: InputStream): Map[String, String] = {
    val reader = secureFactory().createXMLStreamReader(in)
    val out = Map.newBuilder[String, String]
    try {
      while (reader.hasNext) {
        if (reader.next() == XMLStreamConstants.START_ELEMENT &&
            reader.getLocalName == "Relationship") {
          for {
            id <- Option(reader.getAttributeValue(null, "Id"))
            target <- Option(reader.getAttributeValue(null, "Target"))
          } out += id -> target
        }
      }
    } finally reader.close()
    out.result()
  }

  /** Sheet names declared in the workbook manifest, in order. */
  def sheetNames(path: String): Vector[String] = {
    val zip = new ZipFile(path)
    try {
      val wb = Option(zip.getEntry("xl/workbook.xml"))
        .getOrElse(throw new IllegalArgumentException(s"no workbook.xml in $path"))
      val reader = secureFactory().createXMLStreamReader(zip.getInputStream(wb))
      val out = Vector.newBuilder[String]
      try {
        while (reader.hasNext) {
          if (reader.next() == XMLStreamConstants.START_ELEMENT &&
              reader.getLocalName == "sheet")
            out += Option(reader.getAttributeValue(null, "name")).getOrElse("")
        }
      } finally reader.close()
      out.result()
    } finally zip.close()
  }

  /** StAX factory with DTD and external-entity resolution disabled: a
    * crafted workbook must not be able to read local files or trigger
    * network fetches (XXE) — .xlsx frequently arrives from untrusted
    * senders.
    */
  private def secureFactory(): XMLInputFactory = {
    val f = XMLInputFactory.newInstance()
    f.setProperty(XMLInputFactory.SUPPORT_DTD, java.lang.Boolean.FALSE)
    f.setProperty(XMLInputFactory.IS_SUPPORTING_EXTERNAL_ENTITIES, java.lang.Boolean.FALSE)
    f
  }

  private def parseSharedStrings(in: InputStream): Vector[String] = {
    val reader = secureFactory().createXMLStreamReader(in)
    val out = Vector.newBuilder[String]
    var current: StringBuilder = null
    var inT = false
    try {
      while (reader.hasNext) {
        reader.next() match {
          case XMLStreamConstants.START_ELEMENT =>
            reader.getLocalName match {
              case "si" => current = new StringBuilder
              case "t" if current != null => inT = true
              case _ =>
            }
          case XMLStreamConstants.CHARACTERS if inT =>
            current.append(reader.getText)
          case XMLStreamConstants.END_ELEMENT =>
            reader.getLocalName match {
              case "t" => inT = false
              case "si" if current != null => out += current.toString; current = null
              case _ =>
            }
          case _ =>
        }
      }
    } finally reader.close()
    out.result()
  }

  /** Style indices (positions in `cellXfs`) whose number format renders
    * as a date/time. Builtin date format ids plus custom `numFmt`s whose
    * code contains date tokens outside quoted/bracketed/escaped spans —
    * the same heuristic pd.read_excel inherits from openpyxl.
    */
  private[sources] def parseDateStyles(in: InputStream): Set[Int] = {
    val reader = secureFactory().createXMLStreamReader(in)
    val custom = scala.collection.mutable.Map.empty[Int, String]
    val xfFmts = Vector.newBuilder[Int]
    var inCellXfs = false
    try {
      while (reader.hasNext) {
        reader.next() match {
          case XMLStreamConstants.START_ELEMENT =>
            reader.getLocalName match {
              case "cellXfs" => inCellXfs = true
              case "numFmt" =>
                for {
                  id <- Option(reader.getAttributeValue(null, "numFmtId"))
                  code <- Option(reader.getAttributeValue(null, "formatCode"))
                  i <- id.toIntOption
                } custom(i) = code
              case "xf" if inCellXfs =>
                xfFmts += Option(reader.getAttributeValue(null, "numFmtId"))
                  .flatMap(_.toIntOption).getOrElse(0)
              case _ =>
            }
          case XMLStreamConstants.END_ELEMENT if reader.getLocalName == "cellXfs" =>
            inCellXfs = false
          case _ =>
        }
      }
    } finally reader.close()
    xfFmts.result().zipWithIndex
      .collect { case (fmt, idx) if isDateFormat(fmt, custom.get(fmt)) => idx }
      .toSet
  }

  /** Builtin date/time numFmtIds (ECMA-376 §18.8.30). */
  private val BuiltinDateFmts: Set[Int] =
    ((14 to 22) ++ (27 to 36) ++ (45 to 47) ++ (50 to 58)).toSet

  private[sources] def isDateFormat(id: Int, code: Option[String]): Boolean =
    BuiltinDateFmts.contains(id) || code.exists { c =>
      val stripped = c.replaceAll("\"[^\"]*\"", "")
        .replaceAll("\\[[^\\]]*\\]", "")
        .replaceAll("\\\\.", "")
      stripped.exists(ch => "ymdhsYMDHS".indexOf(ch.toInt) >= 0)
    }

  /** Excel serial date -> ISO string ("yyyy-MM-dd" for whole days,
    * "yyyy-MM-dd HH:mm:ss" for whole seconds, else with ".SSS" —
    * rounded to the millisecond, the finest unit a day-fraction double
    * reliably carries). 1900 date system with openpyxl's
    * phantom-leap-day convention (what `pd.read_excel` sees): serials
    * below 60 are offset from 1899-12-31; 60 and up from 1899-12-30,
    * so the phantom 1900-02-29 (serial 60) collapses onto 1900-02-28
    * exactly as openpyxl's `from_excel(60)` does.
    */
  private[sources] def serialToIso(v: String): Option[String] =
    v.trim.toDoubleOption.filter(_ >= 0).map { serial =>
      val base =
        if (serial < 60) java.time.LocalDate.of(1899, 12, 31)
        else java.time.LocalDate.of(1899, 12, 30)
      val totalMs = math.round(serial * 86400000.0)
      // seconds and millis added separately: totalMs * 1_000_000 ns
      // overflows Long for dates past ~2192 (e.g. the 9999-12-31
      // sentinel), which would silently wrap to a bogus 1816 date
      val dt = base.atStartOfDay()
        .plusSeconds(totalMs / 1000)
        .plusNanos((totalMs % 1000) * 1000000L)
      if (totalMs % 86400000 == 0) dt.toLocalDate.toString
      else if (totalMs % 1000 == 0) IsoDateTimeFmt.format(dt)
      else IsoDateTimeMsFmt.format(dt)
    }

  private val IsoDateTimeFmt =
    java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")
  private val IsoDateTimeMsFmt =
    java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss.SSS")

  /** Column index from an A1-style reference ("BC12" -> 54). */
  private[sources] def colIndex(ref: String): Int = {
    var i = 0
    var acc = 0
    while (i < ref.length && ref.charAt(i).isLetter) {
      acc = acc * 26 + (ref.charAt(i).toUpper - 'A' + 1)
      i += 1
    }
    acc - 1
  }

  // ---- writer (S7: the reference's multi-sheet export,
  //      etl_ui.py:2144-2159) -------------------------------------------

  /** Write one DataFrame as a single-sheet workbook. Typed columns are
    * written as native cells ([[writeSheets]]); string columns as inline
    * strings; null cells are omitted.
    */
  def write(df: DataFrame, path: String, sheetName: String = "Sheet1"): Unit =
    writeSheets(Seq(sheetName -> df), path)

  /** Hard cap on rows per exported sheet. XLSX assembly is a driver-side
    * operation for MB-scale human artifacts (see [[writeSheets]]); a
    * caller handing it a corpus-sized DataFrame would OOM the driver
    * after minutes of streaming, so misuse fails fast instead. The value
    * is Excel's own worksheet row limit (2^20), which any workbook this
    * writer could produce must respect anyway — spreadsheets past it
    * belong in parquet/CSV sinks.
    */
  val MaxExportRows: Long = 1048576L

  /** Multi-sheet workbook export — the writer complement of [[read]].
    * Like the reader, the workbook is assembled on the driver (MB-scale
    * artifact for humans, not cluster data); rows stream through
    * `toLocalIterator`, so only one partition per sheet is resident at a
    * time.
    * The output is a minimal but complete OPC package ([Content_Types],
    * rels, workbook manifest, styles, one worksheet part per sheet)
    * that [[read]]/[[readRows]] round-trip and spreadsheet tools accept.
    *
    * Number-format fidelity (`pd.ExcelWriter` parity, etl_ui.py:2144):
    * typed columns become native cells, not text — numeric types are
    * plain numeric cells, DateType/TimestampType are serial numbers
    * carrying a builtin date (14) / datetime (22) style, so Excel shows
    * dates and sums numbers instead of flagging "number stored as
    * text". Non-finite doubles and pre-1900-03-01 dates (which Excel's
    * serial scheme cannot represent unambiguously) fall back to inline
    * text. [[read]] maps the styled serials back to the same ISO
    * strings, so the write->read round trip is lossless for dates and
    * millisecond-precision for timestamps (sub-millisecond digits —
    * which Excel's own UI never shows — round at read time).
    *
    * Thread model ([[graft.DriverThreads.all]], one driver thread per
    * distinct source frame, inheriting the caller's Spark local
    * properties; a frame passed for several sheets is counted and
    * streamed once):
    *  1. every frame's row count runs concurrently, and all of them pass
    *     the [[MaxExportRows]] guard before any byte is written;
    *  2. every frame is then streamed and rendered concurrently, each
    *     sheet to its own temporary part in a hidden directory beside
    *     `path`;
    *  3. the zip is assembled at `path` from those parts in sheet order.
    * A failed count or render fails the call only after every thread has
    * finished, with the first failure in sheet order rethrown and the
    * rest suppressed; `path` is then not opened at all. The temporary
    * parts are deleted on success and on failure.
    */
  def writeSheets(sheets: Seq[(String, DataFrame)], path: String): Unit =
    writeSheetViews(sheets.map { case (name, df) => (name, df, df.columns.indices) }, path)

  /** [[writeSheets]] over column views: each sheet is (name, source
    * frame, positions of the source's columns it shows, in order). Sheets
    * whose source is the same frame (by reference) share one row-count
    * guard and one `toLocalIterator` stream, rendered into all of their
    * parts at once; the thread model and failure semantics are
    * [[writeSheets]]'s, with one thread per distinct source frame.
    */
  private[graft] def writeSheetViews(
      sheets: Seq[(String, DataFrame, Seq[Int])], path: String): Unit = {
    require(sheets.nonEmpty, "writeSheets needs at least one sheet")
    // distinct source frames in order of first use, each with the
    // indices of its sheets
    val firstUse = sheets.map(s => sheets.indexWhere(_._2 eq s._2))
    val sources = firstUse.distinct.map(f => sheets(f)._2 -> sheets.indices.filter(firstUse(_) == f))
    // One count per source before any byte is written: cheap next to the
    // export itself (column-pruned to a count-star scan) and it turns a
    // driver OOM into an actionable error naming every sheet of the
    // offending frame.
    DriverThreads.all(sources.map { case (df, idx) => () =>
      val n = df.count()
      require(n + 1 <= MaxExportRows, // +1: the header row the writer adds
        s"${if (idx.size == 1) "sheet" else "sheets"} '${idx.map(sheets(_)._1).mkString("', '")}' " +
          s"${if (idx.size == 1) "has" else "each have"} $n rows; XLSX export is a driver-side artifact " +
          s"capped at ${MaxExportRows - 1} data rows (Excel's sheet limit) — " +
          "write parquet/CSV for corpus-scale data")
    })
    val n = sheets.length
    // Sanitize AND deduplicate up front: two names that sanitize/truncate
    // to the same 31-char string would otherwise emit duplicate <sheet
    // name> entries, which Excel rejects as an invalid workbook. Excel
    // compares names case-insensitively.
    val tabNames: Seq[String] = {
      val used = scala.collection.mutable.Set.empty[String]
      sheets.map { case (name, _, _) =>
        val base = sanitizeSheetName(name)
        var cand = base
        var k = 2
        while (!used.add(cand.toLowerCase(java.util.Locale.ROOT))) {
          val suffix = s"_$k"
          cand = base.take(31 - suffix.length) + suffix
          k += 1
        }
        cand
      }
    }
    val target = Paths.get(path).toAbsolutePath
    val partsDir = Files.createTempDirectory(target.getParent, s".${target.getFileName}.parts")
    val parts = (1 to n).map(i => partsDir.resolve(s"sheet$i.xml"))
    try {
      DriverThreads.all(sources.map { case (df, idx) =>
        () => renderSheets(df, idx.map(i => sheets(i)._3 -> parts(i)))
      })
      val out = new java.util.zip.ZipOutputStream(
        new java.io.BufferedOutputStream(new java.io.FileOutputStream(path)),
        java.nio.charset.StandardCharsets.UTF_8)
      def entry(name: String)(body: StringBuilder => Unit): Unit = {
        out.putNextEntry(new java.util.zip.ZipEntry(name))
        val sb = new StringBuilder
        body(sb)
        out.write(sb.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        out.closeEntry()
      }
      try {
        entry("[Content_Types].xml") { sb =>
          sb ++= """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>"""
          sb ++= """<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">"""
          sb ++= """<Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/>"""
          sb ++= """<Default Extension="xml" ContentType="application/xml"/>"""
          sb ++= """<Override PartName="/xl/workbook.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>"""
          sb ++= """<Override PartName="/xl/styles.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.styles+xml"/>"""
          (1 to n).foreach(i => sb ++=
            s"""<Override PartName="/xl/worksheets/sheet$i.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.worksheet+xml"/>""")
          sb ++= "</Types>"
        }
        entry("_rels/.rels") { sb =>
          sb ++= """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>"""
          sb ++= """<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">"""
          sb ++= """<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/officeDocument" Target="xl/workbook.xml"/>"""
          sb ++= "</Relationships>"
        }
        entry("xl/workbook.xml") { sb =>
          sb ++= """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>"""
          sb ++= """<workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships"><sheets>"""
          tabNames.zipWithIndex.foreach { case (name, i) =>
            sb ++= s"""<sheet name="${escapeXml(name)}" sheetId="${i + 1}" r:id="rId${i + 1}"/>"""
          }
          sb ++= "</sheets></workbook>"
        }
        entry("xl/_rels/workbook.xml.rels") { sb =>
          sb ++= """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>"""
          sb ++= """<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">"""
          (1 to n).foreach(i => sb ++=
            s"""<Relationship Id="rId$i" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet" Target="worksheets/sheet$i.xml"/>""")
          sb ++= s"""<Relationship Id="rId${n + 1}" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/styles" Target="styles.xml"/>"""
          sb ++= "</Relationships>"
        }
        // style 0: General; 1: builtin date (14); 2: builtin datetime (22)
        // — the same indices StyleDate/StyleDateTime below write on cells
        entry("xl/styles.xml") { sb =>
          sb ++= """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>"""
          sb ++= """<styleSheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">"""
          sb ++= """<fonts count="1"><font/></fonts>"""
          sb ++= """<fills count="1"><fill><patternFill patternType="none"/></fill></fills>"""
          sb ++= """<borders count="1"><border/></borders>"""
          sb ++= """<cellStyleXfs count="1"><xf numFmtId="0"/></cellStyleXfs>"""
          sb ++= """<cellXfs count="3">"""
          sb ++= """<xf numFmtId="0" fontId="0" fillId="0" borderId="0" xfId="0"/>"""
          sb ++= """<xf numFmtId="14" fontId="0" fillId="0" borderId="0" xfId="0" applyNumberFormat="1"/>"""
          sb ++= """<xf numFmtId="22" fontId="0" fillId="0" borderId="0" xfId="0" applyNumberFormat="1"/>"""
          sb ++= """</cellXfs></styleSheet>"""
        }
        parts.zipWithIndex.foreach { case (part, i) =>
          out.putNextEntry(new java.util.zip.ZipEntry(s"xl/worksheets/sheet${i + 1}.xml"))
          Files.copy(part, out)
          out.closeEntry()
        }
      } finally out.close()
    } finally {
      parts.foreach(Files.deleteIfExists)
      Files.deleteIfExists(partsDir)
    }
  }

  /** Worksheet parts of one source frame: each view's header row, then
    * `df`'s rows streamed once through `toLocalIterator`, every row
    * written to every part as that view's columns.
    */
  private def renderSheets(df: DataFrame, views: Seq[(Seq[Int], Path)]): Unit = {
    val parts = ArrayBuffer.empty[SheetPart]
    try {
      views.foreach { case (cols, part) => parts += new SheetPart(part, cols.map(df.columns(_))) }
      val it = df.toLocalIterator()
      while (it.hasNext) {
        val row = it.next()
        parts.zip(views).foreach { case (p, (cols, _)) => p.writeRow(cols.map(row.get)) }
      }
      parts.foreach(_.finish())
    } finally parts.foreach(_.close())
  }

  /** One worksheet part being written: the header row on open, then one
    * `writeRow` per data row (each as wide as the header), then `finish`.
    */
  private final class SheetPart(part: Path, header: Seq[String]) {
    // an OutputStreamWriter, not Files.newBufferedWriter: it replaces an
    // unpaired surrogate instead of failing the export on it
    private val w = new java.io.BufferedWriter(new java.io.OutputStreamWriter(
      new java.io.FileOutputStream(part.toFile), java.nio.charset.StandardCharsets.UTF_8))
    private var rowIdx = 1
    // each column's A1 name, computed once for every row
    private val colRefs = header.indices.map(colName).toArray
    // a part whose header fails never reaches the caller's close list,
    // so it closes its own stream before rethrowing
    try {
      w.write("""<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""")
      w.write("""<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"><sheetData>""")
      writeRow(header)
    } catch { case e: Throwable =>
      try w.close() catch { case c: Throwable => e.addSuppressed(c) }
      throw e
    }

    private def text(c: Int, v: Any): Unit = {
      w.write(s"""<c r="${colRefs(c)}$rowIdx" t="inlineStr"><is><t>""")
      w.write(escapeXml(String.valueOf(v)))
      w.write("</t></is></c>")
    }
    private def num(c: Int, v: String, style: Int): Unit = {
      val s = if (style > 0) s""" s="$style"""" else ""
      w.write(s"""<c r="${colRefs(c)}$rowIdx"$s><v>$v</v></c>""")
    }
    def writeRow(cells: Seq[Any]): Unit = {
      w.write(s"""<row r="$rowIdx">""")
      cells.zipWithIndex.foreach { case (v, c) =>
        v match {
          case null =>
          case n: java.lang.Byte => num(c, n.toString, 0)
          case n: java.lang.Short => num(c, n.toString, 0)
          case n: java.lang.Integer => num(c, n.toString, 0)
          case n: java.lang.Long => num(c, n.toString, 0)
          case n: java.lang.Float if !n.isNaN && !n.isInfinite => num(c, n.toString, 0)
          case n: java.lang.Double if !n.isNaN && !n.isInfinite => num(c, n.toString, 0)
          case n: java.math.BigDecimal =>
            // Spark widens decimals (e.g. to (38,18)); the padded
            // zeros are representation, not value — strip them
            num(c, n.stripTrailingZeros.toPlainString, 0)
          case d: java.sql.Date =>
            dateToSerial(d.toLocalDate) match {
              case Some(serial) => num(c, serial.toString, StyleDate)
              case None => text(c, d) // pre-1900: no valid serial
            }
          case t: java.sql.Timestamp =>
            val ldt = t.toLocalDateTime
            dateToSerial(ldt.toLocalDate) match {
              case Some(serial) =>
                // nano-precision fraction; Locale.ROOT: the f""
                // interpolator uses the default locale, and a
                // decimal-comma locale would emit a corrupt cell
                val frac = ldt.toLocalTime.toNanoOfDay / 86400.0e9
                num(c, String.format(java.util.Locale.ROOT, "%.10f", Double.box(serial + frac)),
                  StyleDateTime)
              case None => // pre-1900 fallback keeps ms precision too
                text(c, (if (ldt.getNano != 0) IsoDateTimeMsFmt else IsoDateTimeFmt).format(ldt))
            }
          case other => text(c, other)
        }
      }
      w.write("</row>")
      rowIdx += 1
    }
    def finish(): Unit = w.write("</sheetData></worksheet>")
    def close(): Unit = w.close()
  }

  /** cellXfs indices the writer's styles part defines. */
  private val StyleDate = 1     // numFmtId 14: "m/d/yy"
  private val StyleDateTime = 2 // numFmtId 22: "m/d/yy h:mm"

  /** Excel 1900-system serial for a date, inverse of [[serialToIso]]'s
    * >=61 branch (days since 1899-12-30). Dates before 1900-03-01 sit in
    * the phantom-leap-day ambiguity zone — no faithful serial exists, so
    * the writer falls back to text (None).
    */
  private[sources] def dateToSerial(d: java.time.LocalDate): Option[Long] = {
    val serial = java.time.temporal.ChronoUnit.DAYS.between(
      java.time.LocalDate.of(1899, 12, 30), d)
    if (serial >= 61) Some(serial) else None
  }

  /** A1-style column name from a 0-based index (54 -> "BC"); inverse of
    * [[colIndex]].
    */
  private[sources] def colName(idx: Int): String = {
    var i = idx
    val sb = new StringBuilder
    while (i >= 0) {
      sb.insert(0, ('A' + i % 26).toChar)
      i = i / 26 - 1
    }
    sb.toString
  }

  /** XML 1.0 text/attribute escape; control chars XML forbids are
    * dropped rather than emitted as ill-formed output.
    */
  private def escapeXml(s: String): String = {
    val sb = new StringBuilder(s.length + 16)
    s.foreach {
      case '&' => sb ++= "&amp;"
      case '<' => sb ++= "&lt;"
      case '>' => sb ++= "&gt;"
      case '"' => sb ++= "&quot;"
      case c if c >= ' ' || c == '\t' || c == '\n' || c == '\r' => sb += c
      case _ =>
    }
    sb.toString
  }

  /** Excel sheet-name constraints: no []:*?/\ and at most 31 chars. */
  private def sanitizeSheetName(s: String): String = {
    val cleaned = s.map(c => if ("[]:*?/\\".contains(c)) '_' else c).take(31)
    if (cleaned.isEmpty) "Sheet" else cleaned
  }

  private def parseSheet(
      in: InputStream,
      shared: Vector[String],
      dateStyles: Set[Int] = Set.empty): Vector[Array[String]] = {
    val reader = secureFactory().createXMLStreamReader(in)
    val rows = Vector.newBuilder[Array[String]]
    var row: ArrayBuffer[String] = null
    var cellCol = -1
    var cellType: String = null
    var cellStyle = -1
    var cellValue: StringBuilder = null
    var inV = false
    var inIs = false
    try {
      while (reader.hasNext) {
        reader.next() match {
          case XMLStreamConstants.START_ELEMENT =>
            reader.getLocalName match {
              case "row" => row = ArrayBuffer.empty
              case "c" =>
                cellCol = Option(reader.getAttributeValue(null, "r"))
                  .map(colIndex).getOrElse(row.length)
                cellType = reader.getAttributeValue(null, "t")
                cellStyle = Option(reader.getAttributeValue(null, "s"))
                  .flatMap(_.toIntOption).getOrElse(-1)
                cellValue = null
              case "v" => inV = true; cellValue = new StringBuilder
              case "is" => inIs = true
              case "t" if inIs => inV = true; cellValue = new StringBuilder
              case _ =>
            }
          case XMLStreamConstants.CHARACTERS if inV =>
            cellValue.append(reader.getText)
          case XMLStreamConstants.END_ELEMENT =>
            reader.getLocalName match {
              case "v" => inV = false
              case "t" if inIs => inV = false
              case "is" => inIs = false
              case "c" =>
                val v: String =
                  if (cellValue == null) null
                  else cellType match {
                    case "s" => shared.lift(cellValue.toString.trim.toInt).orNull
                    case null | "n" if dateStyles.contains(cellStyle) =>
                      // date-formatted numeric cell: surface the date the
                      // user sees, not the raw serial number
                      serialToIso(cellValue.toString).getOrElse(cellValue.toString)
                    case _ => cellValue.toString
                  }
                if (v != null) {
                  while (row.length < cellCol) row += null
                  if (row.length == cellCol) row += v else row(cellCol) = v
                }
              case "row" if row != null =>
                rows += row.toArray; row = null
              case _ =>
            }
          case _ =>
        }
      }
    } finally reader.close()
    rows.result()
  }
}
