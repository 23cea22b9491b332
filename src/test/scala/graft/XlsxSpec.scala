package graft

import java.util.zip.{ZipEntry, ZipOutputStream}
import org.scalatest.funsuite.AnyFunSuite
import graft.ingest.{Ingest, Xlsx}

/** Excel ingest (O1 parity): the dependency-free XLSX reader against a
  * workbook assembled from the actual OOXML parts — shared strings,
  * inline strings, numbers, booleans, missing cells, and the rich-text
  * split shared-string case openpyxl emits.
  */
class XlsxSpec extends AnyFunSuite with SparkSuite {
  private def writeZip(parts: Seq[(String, String)]): String = {
    val path = java.nio.file.Files.createTempFile("graft_wb", ".xlsx").toString
    val zos = new ZipOutputStream(new java.io.FileOutputStream(path))
    parts.foreach { case (name, content) =>
      zos.putNextEntry(new ZipEntry(name))
      zos.write(content.getBytes("UTF-8"))
      zos.closeEntry()
    }
    zos.close()
    path
  }

  private def writeWorkbook(): String = {
    val path = java.nio.file.Files.createTempFile("graft_wb", ".xlsx").toString
    val zos = new ZipOutputStream(new java.io.FileOutputStream(path))
    def put(name: String, content: String): Unit = {
      zos.putNextEntry(new ZipEntry(name))
      zos.write(content.getBytes("UTF-8"))
      zos.closeEntry()
    }
    put("[Content_Types].xml",
      """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
        |<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">
        |<Default Extension="xml" ContentType="application/xml"/>
        |</Types>""".stripMargin)
    put("xl/workbook.xml",
      """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
        |<workbook><sheets><sheet name="Sheet1" sheetId="1" r:id="rId1"
        | xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships"/></sheets></workbook>""".stripMargin)
    // index 2 is a rich-text string split across runs ("Da" + "ta")
    put("xl/sharedStrings.xml",
      """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
        |<sst count="4" uniqueCount="4">
        |<si><t>Product Name</t></si>
        |<si><t>widget</t></si>
        |<si><r><t>Da</t></r><r><t>ta</t></r></si>
        |<si><t>N Sold?</t></si>
        |</sst>""".stripMargin)
    // header: A=Product Name (s0), B=N Sold? (s3), C=score, D=ok
    // row2: widget, 42, 1.5, true  row3: Data, 7, missing C, false
    put("xl/worksheets/sheet1.xml",
      """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
        |<worksheet><sheetData>
        |<row r="1">
        |<c r="A1" t="s"><v>0</v></c><c r="B1" t="s"><v>3</v></c>
        |<c r="C1" t="inlineStr"><is><t>score</t></is></c>
        |<c r="D1" t="inlineStr"><is><t>ok</t></is></c>
        |</row>
        |<row r="2">
        |<c r="A2" t="s"><v>1</v></c><c r="B2"><v>42</v></c>
        |<c r="C2"><v>1.5</v></c><c r="D2" t="b"><v>1</v></c>
        |</row>
        |<row r="3">
        |<c r="A3" t="s"><v>2</v></c><c r="B3"><v>7</v></c>
        |<c r="D3" t="b"><v>0</v></c>
        |</row>
        |</sheetData></worksheet>""".stripMargin)
    zos.close()
    path
  }

  test("column reference letters map to 0-based indices") {
    assert(Xlsx.colIndex("A1") == 0)
    assert(Xlsx.colIndex("Z9") == 25)
    assert(Xlsx.colIndex("AA7") == 26)
    assert(Xlsx.colIndex("AB12") == 27)
  }

  test("reads a workbook: header, shared/inline/rich strings, inferred types, nulls") {
    val df = Ingest.readExcel(spark, writeWorkbook())
    assert(df.columns.toSeq == Seq("Product Name", "N Sold?", "score", "ok"))
    val types = df.schema.fields.map(_.dataType.simpleString).toSeq
    assert(types == Seq("string", "bigint", "double", "boolean"), types)
    val rows = df.collect().map(_.toSeq).toSeq
    assert(rows == Seq(
      Seq("widget", 42L, 1.5, true),
      Seq("Data", 7L, null, false)), rows)
  }

  test("excel ingest composes with the reference sanitize/rename pipeline") {
    val df = Ingest.readExcel(spark, writeWorkbook())
    val sanitized = Ingest.sanitizeColumns(df)
    assert(sanitized.columns.toSeq == Seq("product_name", "n_sold", "score", "ok"))
  }

  /** A workbook with a date column: styles.xml gives style 1 the
    * builtin date fmt 14 (m/d/yyyy) and style 2 a custom dd.mm.yyyy —
    * the shape openpyxl writes for the reference's `дата` column
    * (ETLManager.py:42-48). Serials must decode to timestamps the way
    * pandas' datetime64[ns] does.
    */
  private def writeDateWorkbook(date1904: Boolean): String = writeZip(Seq(
    "xl/workbook.xml" ->
      s"""<?xml version="1.0"?><workbook>
         |<workbookPr date1904="${if (date1904) "1" else "0"}"/>
         |<sheets><sheet name="S" sheetId="1"/></sheets></workbook>""".stripMargin,
    "xl/styles.xml" ->
      """<?xml version="1.0"?><styleSheet>
        |<numFmts count="1"><numFmt numFmtId="164" formatCode="dd.mm.yyyy"/></numFmts>
        |<cellXfs count="3">
        |<xf numFmtId="0"/><xf numFmtId="14"/><xf numFmtId="164"/>
        |</cellXfs></styleSheet>""".stripMargin,
    "xl/worksheets/sheet1.xml" ->
      """<?xml version="1.0"?><worksheet><sheetData>
        |<row r="1"><c r="A1" t="inlineStr"><is><t>дата</t></is></c>
        |<c r="B1" t="inlineStr"><is><t>qty</t></is></c>
        |<c r="C1" t="inlineStr"><is><t>when</t></is></c></row>
        |<row r="2"><c r="A2" s="1"><v>45292</v></c><c r="B2"><v>3</v></c>
        |<c r="C2" s="2"><v>45292.5</v></c></row>
        |<row r="3"><c r="A3" s="1"><v>45323</v></c><c r="B3"><v>4</v></c>
        |<c r="C3" s="2"><v>45323.25</v></c></row>
        |</sheetData></worksheet>""".stripMargin))

  test("date-styled serials decode to timestamps (builtin + custom formats)") {
    val df = Ingest.readExcel(spark, writeDateWorkbook(date1904 = false))
    val types = df.schema.fields.map(_.dataType.simpleString).toSeq
    assert(types == Seq("timestamp_ntz", "bigint", "timestamp_ntz"), types)
    val rows = df.collect().map(_.toSeq).toSeq
    // serial 45292 (1900 system, pandas origin 1899-12-30) = 2024-01-01
    assert(rows == Seq(
      Seq(java.time.LocalDateTime.of(2024, 1, 1, 0, 0), 3L,
          java.time.LocalDateTime.of(2024, 1, 1, 12, 0)),
      Seq(java.time.LocalDateTime.of(2024, 2, 1, 0, 0), 4L,
          java.time.LocalDateTime.of(2024, 2, 1, 6, 0))), rows)
  }

  test("the 1904-epoch workbook flag shifts the serial origin") {
    val df = Ingest.readExcel(spark, writeDateWorkbook(date1904 = true))
    val first = df.collect().head.getAs[java.time.LocalDateTime](0)
    // 1904 epoch lags the 1900 system by 1462 days
    assert(first == java.time.LocalDateTime.of(2024, 1, 1, 0, 0).plusDays(1462))
  }

  test("date format-code heuristic: date tokens after stripping brackets/quotes/escapes") {
    assert(Xlsx.isDateFormatCode("dd.mm.yyyy"))
    assert(Xlsx.isDateFormatCode("[$-409]h:mm AM/PM"))
    assert(!Xlsx.isDateFormatCode("0.00"))
    assert(!Xlsx.isDateFormatCode("#,##0"))
    assert(!Xlsx.isDateFormatCode("\"yes\";\"no\""))   // quoted literals don't count
    assert(!Xlsx.isDateFormatCode("0.00E+00"))
  }

  test("duplicate header names dedup pandas-style (name, name.1, …)") {
    assert(Xlsx.dedupHeaders(Seq("a", "b", "a", "a")) == Seq("a", "b", "a.1", "a.2"))
    val path = writeZip(Seq(
      "xl/workbook.xml" -> """<?xml version="1.0"?><workbook/>""",
      "xl/worksheets/sheet1.xml" ->
        """<?xml version="1.0"?><worksheet><sheetData>
          |<row r="1"><c r="A1" t="inlineStr"><is><t>x</t></is></c>
          |<c r="B1" t="inlineStr"><is><t>x</t></is></c></row>
          |<row r="2"><c r="A2"><v>1</v></c><c r="B2"><v>2</v></c></row>
          |</sheetData></worksheet>""".stripMargin))
    val df = Ingest.readExcel(spark, path)
    assert(df.columns.toSeq == Seq("x", "x.1"))
    assert(df.select("`x.1`").collect().head.getLong(0) == 2L)
  }
}
