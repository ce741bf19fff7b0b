package graft.sources

import java.io.FileOutputStream
import java.nio.charset.StandardCharsets
import java.nio.file.Files
import java.util.zip.{ZipEntry, ZipOutputStream}

import scala.jdk.CollectionConverters._

import graft.SparkSpec

/** Builds a minimal .xlsx by hand (zip of XML parts) and reads it back —
  * covers shared strings, inline strings, numeric cells, sparse rows.
  */
class XlsxSpec extends SparkSpec {

  private def writeXlsx(): String = {
    val f = Files.createTempFile("graft-test", ".xlsx").toFile
    val zip = new ZipOutputStream(new FileOutputStream(f))
    def put(name: String, content: String): Unit = {
      zip.putNextEntry(new ZipEntry(name))
      zip.write(content.getBytes(StandardCharsets.UTF_8))
      zip.closeEntry()
    }
    put("[Content_Types].xml",
      """<?xml version="1.0"?><Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">
        |<Default Extension="xml" ContentType="application/xml"/>
        |<Override PartName="/xl/workbook.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>
        |</Types>""".stripMargin)
    put("xl/workbook.xml",
      """<?xml version="1.0"?><workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">
        |<sheets><sheet name="Sheet1" sheetId="1"/></sheets></workbook>""".stripMargin)
    put("xl/sharedStrings.xml",
      """<?xml version="1.0"?><sst xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" count="3" uniqueCount="3">
        |<si><t>Nome da Entidade</t></si>
        |<si><t>Percentagem</t></si>
        |<si><t>Município de Águeda</t></si>
        |</sst>""".stripMargin)
    put("xl/worksheets/sheet1.xml",
      """<?xml version="1.0"?><worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"><sheetData>
        |<row r="1"><c r="A1" t="s"><v>0</v></c><c r="B1" t="s"><v>1</v></c></row>
        |<row r="2"><c r="A2" t="s"><v>2</v></c><c r="B2"><v>80</v></c></row>
        |<row r="3"><c r="B3"><v>42.5</v></c></row>
        |<row r="4"><c r="A4" t="inlineStr"><is><t>Inline Lda</t></is></c></row>
        |</sheetData></worksheet>""".stripMargin)
    zip.close()
    f.getAbsolutePath
  }

  test("colIndex decodes A1 references") {
    assert(Xlsx.colIndex("A1") == 0)
    assert(Xlsx.colIndex("Z9") == 25)
    assert(Xlsx.colIndex("AA12") == 26)
    assert(Xlsx.colIndex("BC3") == 54)
  }

  test("reads shared strings, numbers, inline strings, sparse rows") {
    val df = Xlsx.read(spark, writeXlsx())
    assert(df.columns.toSeq == Seq("Nome da Entidade", "Percentagem", "row_id"))
    val rows = df.orderBy("row_id").collect()
    assert(rows.length == 3)
    assert(rows(0).getString(0) == "Município de Águeda")
    assert(rows(0).getString(1) == "80")
    assert(rows(1).getString(0) == null) // sparse: A3 missing
    assert(rows(1).getString(1) == "42.5")
    assert(rows(2).getString(0) == "Inline Lda")
    assert(rows(2).getString(1) == null)
  }

  test("xlsx feeds the pipeline like csv") {
    val df = Xlsx.read(spark, writeXlsx())
    // all-string schema + row_id — same contract as Readers.csv
    assert(df.schema.fields.init.forall(_.dataType.typeName == "string"))
    assert(df.schema.fields.last.name == "row_id")
  }

  test("colName is the inverse of colIndex") {
    assert(Xlsx.colName(0) == "A")
    assert(Xlsx.colName(25) == "Z")
    assert(Xlsx.colName(26) == "AA")
    assert(Xlsx.colName(54) == "BC")
    (0 until 1000).foreach(i => assert(Xlsx.colIndex(Xlsx.colName(i) + "1") == i))
  }

  test("write/read round-trips values incl nulls, accents, XML specials") {
    import spark.implicits._
    val f = Files.createTempFile("graft-wr", ".xlsx").toString
    val df = Seq(
      ("Município de Águeda", "80", "a < b & c > \"d\""),
      (null, "42.5", ""),
      ("Inline Lda", null, "fim")).toDF("Nome da Entidade", "Percentagem", "Obs")
    Xlsx.write(df, f)
    val back = Xlsx.read(spark, f)
    assert(back.columns.toSeq == Seq("Nome da Entidade", "Percentagem", "Obs", "row_id"))
    val got = back.orderBy("row_id").drop("row_id")
      .collect().map(_.toSeq).toSeq
    assert(got == df.collect().map(_.toSeq).toSeq)
  }

  test("date-formatted numeric cells surface as ISO strings (pd.read_excel parity)") {
    val f = Files.createTempFile("graft-dates", ".xlsx").toFile
    val zip = new ZipOutputStream(new FileOutputStream(f))
    def put(name: String, content: String): Unit = {
      zip.putNextEntry(new ZipEntry(name)); zip.write(content.getBytes(StandardCharsets.UTF_8)); zip.closeEntry()
    }
    put("xl/workbook.xml",
      """<?xml version="1.0"?><workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">
        |<sheets><sheet name="S" sheetId="1"/></sheets></workbook>""".stripMargin)
    // style 0: General; style 1: builtin date (14); style 2: custom
    // datetime code; style 3: custom NON-date code
    put("xl/styles.xml",
      """<?xml version="1.0"?><styleSheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">
        |<numFmts count="2">
        |<numFmt numFmtId="164" formatCode="dd/mm/yyyy hh:mm"/>
        |<numFmt numFmtId="165" formatCode="0.00&quot;kg&quot;"/>
        |</numFmts>
        |<cellXfs count="4">
        |<xf numFmtId="0"/><xf numFmtId="14" applyNumberFormat="1"/>
        |<xf numFmtId="164" applyNumberFormat="1"/><xf numFmtId="165" applyNumberFormat="1"/>
        |</cellXfs></styleSheet>""".stripMargin)
    put("xl/worksheets/sheet1.xml",
      """<?xml version="1.0"?><worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"><sheetData>
        |<row r="1"><c r="A1" t="inlineStr"><is><t>data</t></is></c><c r="B1" t="inlineStr"><is><t>quando</t></is></c><c r="C1" t="inlineStr"><is><t>peso</t></is></c><c r="D1" t="inlineStr"><is><t>raw</t></is></c></row>
        |<row r="2"><c r="A2" s="1"><v>44927</v></c><c r="B2" s="2"><v>44927.5</v></c><c r="C2" s="3"><v>42.5</v></c><c r="D2"><v>44927</v></c></row>
        |<row r="3"><c r="A3" s="1"><v>1</v></c><c r="B3" s="2"><v>61.25</v></c><c r="C3" s="3"><v>0.5</v></c><c r="D3"><v>7</v></c></row>
        |</sheetData></worksheet>""".stripMargin)
    zip.close()
    val rows = Xlsx.readRows(f.getAbsolutePath)
    assert(rows(1).toSeq == Seq("2023-01-01", "2023-01-01 12:00:00", "42.5", "44927"))
    // serial 1 = 1900-01-01 (pre-phantom-leap-day offset);
    // 61.25 = 1900-03-01 06:00; non-date styles keep the literal text
    assert(rows(2).toSeq == Seq("1900-01-01", "1900-03-01 06:00:00", "0.5", "7"))
  }

  test("styled date + percent cells: dates -> ISO, percent -> raw decimal (pd.read_excel parity)") {
    // pd.read_excel (the reference's ingest, etl_ui.py:861) converts ONLY
    // date/time-formatted cells; percent-styled cells come back as their
    // stored decimal (0.155 for a cell displaying "15.5%"), never the
    // display text. Pin both halves: ISO conversion for the date cell,
    // raw pass-through for builtin (9, 10) and custom percent formats —
    // i.e. percent formats must never be misclassified as date formats.
    val f = Files.createTempFile("graft-pct", ".xlsx").toFile
    val zip = new ZipOutputStream(new FileOutputStream(f))
    def put(name: String, content: String): Unit = {
      zip.putNextEntry(new ZipEntry(name)); zip.write(content.getBytes(StandardCharsets.UTF_8)); zip.closeEntry()
    }
    put("xl/workbook.xml",
      """<?xml version="1.0"?><workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">
        |<sheets><sheet name="S" sheetId="1"/></sheets></workbook>""".stripMargin)
    // style 0: General; 1: builtin date 14; 2: builtin percent 9 ("0%");
    // 3: builtin percent 10 ("0.00%"); 4: custom percent "0.0%"
    put("xl/styles.xml",
      """<?xml version="1.0"?><styleSheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">
        |<numFmts count="1">
        |<numFmt numFmtId="166" formatCode="0.0%"/>
        |</numFmts>
        |<cellXfs count="5">
        |<xf numFmtId="0"/><xf numFmtId="14" applyNumberFormat="1"/>
        |<xf numFmtId="9" applyNumberFormat="1"/><xf numFmtId="10" applyNumberFormat="1"/>
        |<xf numFmtId="166" applyNumberFormat="1"/>
        |</cellXfs></styleSheet>""".stripMargin)
    put("xl/worksheets/sheet1.xml",
      """<?xml version="1.0"?><worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"><sheetData>
        |<row r="1"><c r="A1" t="inlineStr"><is><t>data</t></is></c><c r="B1" t="inlineStr"><is><t>taxa</t></is></c><c r="C1" t="inlineStr"><is><t>taxa2</t></is></c><c r="D1" t="inlineStr"><is><t>taxa3</t></is></c></row>
        |<row r="2"><c r="A2" s="1"><v>45658</v></c><c r="B2" s="2"><v>0.155</v></c><c r="C2" s="3"><v>0.8</v></c><c r="D2" s="4"><v>1.25</v></c></row>
        |</sheetData></worksheet>""".stripMargin)
    zip.close()
    val rows = Xlsx.readRows(f.getAbsolutePath)
    assert(rows(1).toSeq == Seq("2025-01-01", "0.155", "0.8", "1.25"))
    // the format classifier itself: percent codes are not dates
    assert(!Xlsx.isDateFormat(9, None))
    assert(!Xlsx.isDateFormat(10, None))
    assert(!Xlsx.isDateFormat(166, Some("0.0%")))
    assert(Xlsx.isDateFormat(14, None))
  }

  test("sheet index resolves through r:id -> rels, not part numbering") {
    val f = Files.createTempFile("graft-rels", ".xlsx").toFile
    val zip = new ZipOutputStream(new FileOutputStream(f))
    def put(name: String, content: String): Unit = {
      zip.putNextEntry(new ZipEntry(name)); zip.write(content.getBytes(StandardCharsets.UTF_8)); zip.closeEntry()
    }
    // manifest position 1 points (via rId7) at the part named sheet2.xml:
    // the naive sheetNames(path).indexOf + "sheet$i.xml" pattern would
    // silently read the wrong sheet
    put("xl/workbook.xml",
      """<?xml version="1.0"?><workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships">
        |<sheets><sheet name="First" sheetId="1" r:id="rId7"/><sheet name="Second" sheetId="2" r:id="rId3"/></sheets></workbook>""".stripMargin)
    put("xl/_rels/workbook.xml.rels",
      """<?xml version="1.0"?><Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">
        |<Relationship Id="rId7" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet" Target="worksheets/sheet2.xml"/>
        |<Relationship Id="rId3" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet" Target="worksheets/sheet1.xml"/>
        |</Relationships>""".stripMargin)
    def sheetXml(marker: String) =
      s"""<?xml version="1.0"?><worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"><sheetData>
         |<row r="1"><c r="A1" t="inlineStr"><is><t>$marker</t></is></c></row>
         |</sheetData></worksheet>""".stripMargin
    put("xl/worksheets/sheet1.xml", sheetXml("IN_PART_1"))
    put("xl/worksheets/sheet2.xml", sheetXml("IN_PART_2"))
    zip.close()
    assert(Xlsx.readRows(f.getAbsolutePath, 1).head.toSeq == Seq("IN_PART_2"))
    assert(Xlsx.readRows(f.getAbsolutePath, 2).head.toSeq == Seq("IN_PART_1"))
  }

  test("colliding sanitized sheet names are disambiguated, workbook stays valid") {
    import spark.implicits._
    val f = Files.createTempFile("graft-collide", ".xlsx").toString
    val df1 = Seq(("1")).toDF("v")
    val df2 = Seq(("2")).toDF("v")
    val df3 = Seq(("3")).toDF("v")
    val longA = "quarentena de registos invalidados em 2026" // truncates to 31
    val longB = "quarentena de registos invalidados em 2025"
    Xlsx.writeSheets(Seq("a/b" -> df1, "a_b" -> df2, longA -> df3,
      longB -> df1, "DADOS" -> df2, "dados" -> df3), f)
    val names = Xlsx.sheetNames(f)
    assert(names.size == 6)
    assert(names.map(_.toLowerCase).distinct.size == 6) // Excel-style uniqueness
    assert(names.forall(_.length <= 31))
    assert(names(0) == "a_b" && names(1) == "a_b_2")
    assert(names(4) == "DADOS" && names(5) == "dados_2")
    // every tab still readable and mapped to the right data
    assert(Xlsx.read(spark, f, sheet = 2).select("v").collect().head.getString(0) == "2")
    assert(Xlsx.read(spark, f, sheet = 6).select("v").collect().head.getString(0) == "3")
  }

  test("writeSheets emits a multi-tab workbook, each tab readable") {
    import spark.implicits._
    val f = Files.createTempFile("graft-multi", ".xlsx").toString
    val s1 = Seq(("x", "1")).toDF("k", "v")
    val s2 = Seq(("y", "2"), ("z", "3")).toDF("col a", "col b")
    Xlsx.writeSheets(Seq("dados" -> s1, "quarentena: inválidos/2026" -> s2), f)
    assert(Xlsx.sheetNames(f) == Vector("dados", "quarentena_ inválidos_2026"))
    assert(Xlsx.read(spark, f, sheet = 1).drop("row_id").collect().map(_.toSeq).toSeq
      == s1.collect().map(_.toSeq).toSeq)
    val b2 = Xlsx.read(spark, f, sheet = 2)
    assert(b2.columns.toSeq == Seq("col a", "col b", "row_id"))
    assert(b2.count() == 2)
  }

  test("typed columns export as native cells and round-trip through read") {
    // pd.ExcelWriter parity (etl_ui.py:2144): numbers become numeric
    // cells, dates/timestamps become styled serials — not text. Our
    // reader then surfaces the date serials as the same ISO strings the
    // pandas reader would, so write->read is lossless.
    import spark.implicits._
    val f = Files.createTempFile("graft-typed", ".xlsx").toString
    val df = Seq(
      (80L, 42.5, java.math.BigDecimal.valueOf(123450, 2) /* 1234.50 */,
        java.sql.Date.valueOf("2025-01-01"),
        java.sql.Timestamp.valueOf("2025-01-01 12:34:56"), "texto"),
      (-3L, Double.NaN, java.math.BigDecimal.ONE,
        java.sql.Date.valueOf("1899-06-15"), // pre-1900: no valid serial
        java.sql.Timestamp.valueOf("2026-08-12 00:00:00"), null),
      (7L, 0.5, java.math.BigDecimal.TEN,
        java.sql.Date.valueOf("2025-06-01"),
        java.sql.Timestamp.valueOf("2025-06-01 01:02:03.25"), "ms"))
      .toDF("n", "x", "dec", "dia", "quando", "nome")
    Xlsx.write(df, f)

    // raw grid: date/timestamp cells must be SERIALS with a date style,
    // numerics plain <v> — assert through the reader's style mapping
    val rows = Xlsx.readRows(f)
    assert(rows(0).toSeq == Seq("n", "x", "dec", "dia", "quando", "nome"))
    assert(rows(1).toSeq == Seq("80", "42.5", "1234.5", "2025-01-01",
      "2025-01-01 12:34:56", "texto"))
    // NaN and the pre-1900 date fall back to text; midnight timestamp
    // reads back date-only (serialToIso whole-day rule)
    assert(rows(2).toSeq == Seq("-3", "NaN", "1", "1899-06-15", "2026-08-12"))
    // sub-second precision survives to the millisecond
    assert(rows(3).toSeq == Seq("7", "0.5", "10", "2025-06-01",
      "2025-06-01 01:02:03.250", "ms"))

    // and the sheet XML really does carry serials, not text, for dates
    val zip = new java.util.zip.ZipFile(f)
    val sheet = try {
      val e = zip.getEntry("xl/worksheets/sheet1.xml")
      new String(zip.getInputStream(e).readAllBytes(), StandardCharsets.UTF_8)
    } finally zip.close()
    assert(sheet.contains("""<c r="D2" s="1"><v>45658</v></c>"""))
    assert(sheet.contains("""<c r="A2"><v>80</v></c>"""))
    assert(!sheet.contains("2025-01-01</t>")) // the date is not text
  }

  test("phantom leap day: serials 59/60/61 follow openpyxl collapse") {
    import graft.sources.Xlsx
    assert(Xlsx.serialToIso("59") == Some("1900-02-28"))
    assert(Xlsx.serialToIso("60") == Some("1900-02-28"))   // phantom 1900-02-29
    assert(Xlsx.serialToIso("60.5") == Some("1900-02-28 12:00:00"))
    assert(Xlsx.serialToIso("61") == Some("1900-03-01"))
  }

  test("far-future serials don't overflow: 9999-12-31 sentinel round-trips") {
    import graft.sources.Xlsx
    // totalMs * 1e6 ns overflowed Long for serials past ~2192, wrapping
    // the 9999-12-31 sentinel to a bogus 1816 date
    assert(Xlsx.dateToSerial(java.time.LocalDate.of(9999, 12, 31)) == Some(2958465L))
    assert(Xlsx.serialToIso("2958465") == Some("9999-12-31"))
    assert(Xlsx.serialToIso("2958465.5") == Some("9999-12-31 12:00:00"))
  }

  test("corpus-sized exports fail fast instead of OOMing the driver") {
    import spark.implicits._
    // XLSX assembly is driver-side by design (MB-scale human artifacts);
    // a row count past Excel's own sheet limit must be a loud error
    // BEFORE any byte is written, naming the offending sheet
    val big = spark.range(graft.sources.Xlsx.MaxExportRows).toDF("id")
    val f = Files.createTempFile("graft", ".xlsx").toString
    val e = intercept[IllegalArgumentException] {
      graft.sources.Xlsx.writeSheets(Seq("ok" -> Seq(1).toDF("id"), "huge" -> big), f)
    }
    assert(e.getMessage.contains("huge") && e.getMessage.contains("parquet"))
    // a frame that backs several sheets is counted once and named by all
    val shared = intercept[IllegalArgumentException] {
      Xlsx.writeSheetViews(Seq(("ok", Seq(1).toDF("id"), Seq(0)),
        ("first", big, Seq(0)), ("second", big, Seq(0))), f)
    }
    assert(shared.getMessage.contains("sheets 'first', 'second' each have"))
    // nothing was written: the guard ran before assembly started
    assert(Files.size(java.nio.file.Paths.get(f)) == 0L)
  }

  test("read attaches row_id 0..n-1 in sheet order on the driver: zero Spark jobs (.xlsx and .xls)") {
    import spark.implicits._
    val f = Files.createTempFile("graft-rowid", ".xlsx").toString
    // 2,000 rows: more than one parallelize slice, so order across
    // partitions is exercised too
    Xlsx.write(spark.range(2000).selectExpr("cast(id * 7 as string) AS v"), f)
    val (df, jobs) = jobsDuring(Xlsx.read(spark, f))
    assert(jobs == 0)
    assert(df.schema("row_id").dataType == org.apache.spark.sql.types.LongType)
    assert(df.rdd.getNumPartitions > 1)
    assert(df.select($"row_id", $"v").as[(Long, String)].collect().toSeq ==
      (0L until 2000L).map(i => (i, (i * 7).toString)))

    // the .xls route: BiffFixture's grid, first cell of each data row
    val xls = BiffFixture.write(BiffFixture.cfb(BiffFixture.workbookStream()))
    val (biff, biffJobs) = jobsDuring(Xlsx.read(spark, xls))
    assert(biffJobs == 0)
    assert(biff.select($"row_id", $"header_a").as[(Long, String)].collect().toSeq ==
      Seq((0L, "3.25"), (1L, "2023-03-15"), (2L, "7.5")))
  }

  test("writeSheets leaves no temporary sheet part behind, on success or on failure") {
    import org.apache.spark.sql.functions.{lit, raise_error}
    import spark.implicits._
    def listing(d: java.nio.file.Path): Set[String] = {
      val s = Files.list(d)
      try s.iterator().asScala.map(_.getFileName.toString).toSet finally s.close()
    }
    val ok = Files.createTempDirectory("graft-parts-ok")
    Xlsx.writeSheets(Seq("a" -> Seq(("x", 1)).toDF("k", "v"), "b" -> spark.range(500).toDF("id")),
      ok.resolve("out.xlsx").toString)
    assert(listing(ok) == Set("out.xlsx"))
    assert(Xlsx.read(spark, ok.resolve("out.xlsx").toString, sheet = 2).count() == 500)

    // the count guard passes (a count prunes the failing projection);
    // the render of sheet "bad" fails after sheet "a" rendered its part
    val failed = Files.createTempDirectory("graft-parts-failed")
    val bad = spark.range(3).select(raise_error(lit("render boom")).cast("string").as("x"))
    val e = intercept[Exception] {
      Xlsx.writeSheets(Seq("a" -> spark.range(500).toDF("id"), "bad" -> bad),
        failed.resolve("out.xlsx").toString)
    }
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(t => String.valueOf(t.getMessage).contains("render boom")))
    // neither a part nor a partial workbook: the zip is opened only once
    // every sheet has rendered
    assert(listing(failed).isEmpty)
  }

  test("column views of one frame: one count, the same bytes as projected frames") {
    import spark.implicits._
    val df = Seq(
      (1L, "a & b", 2.5, java.sql.Date.valueOf("2025-01-01"),
        java.sql.Timestamp.valueOf("2025-01-01 12:34:56")),
      (2L, null, Double.NaN, java.sql.Date.valueOf("1899-06-15"), null),
      (3L, "ç", -0.5, null, java.sql.Timestamp.valueOf("2026-08-12 00:00:00.25")))
      .toDF("id", "texto", "x", "dia", "quando").repartition(2, $"id")
    val other = Seq(("q", 9)).toDF("k", "v")
    val projected = Files.createTempFile("graft-projected", ".xlsx").toString
    Xlsx.writeSheets(Seq("ids" -> df.select("id", "dia"), "textos" -> df.select("quando", "texto"),
      "outro" -> other, "tudo" -> df), projected)
    val views = Files.createTempFile("graft-views", ".xlsx").toString
    val (_, executions) = executionsDuring(Xlsx.writeSheetViews(Seq(("ids", df, Seq(0, 3)),
      ("textos", df, Seq(4, 1)), ("outro", other, Seq(0, 1)), ("tudo", df, df.columns.indices)),
      views))
    assert(executions.count(_.startsWith("count at")) == 2, executions.mkString("; "))
    def entries(f: String): Seq[(String, Seq[Byte])] = {
      val z = new java.util.zip.ZipFile(f)
      try z.entries().asScala.toSeq.map(e => e.getName -> z.getInputStream(e).readAllBytes().toSeq)
      finally z.close()
    }
    assert(entries(views) == entries(projected))
  }
}
