package graft.sources

import graft.SparkSpecBase
import java.io.ByteArrayOutputStream
import java.util.zip.{ZipEntry, ZipOutputStream}

/** JDK-only XLSX codec (S4 scan / S6 sink). */
class XlsxSpec extends SparkSpecBase {
  import spark.implicits._

  private def tmp(name: String): String =
    s"${tempDir("xlsx_spec")}/$name.xlsx"

  test("multi-sheet write → read roundtrip, named-sheet resolution") {
    val a = Seq(("1", "alpha"), ("2", "beta & <gamma>")).toDF("id", "name")
    val b = Seq(("x", "9"), ("y", null: String)).toDF("k", "v")
    val path = tmp("rt")
    Xlsx.writeSheets(Seq("First" -> a, "Second Sheet" -> b), path)
    val gotA = Xlsx.read(spark, path, Some("First")).collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(gotA == Set(("1", "alpha"), ("2", "beta & <gamma>"))) // XML escaping survives
    val gotB = Xlsx.read(spark, path, Some("Second Sheet")).collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(gotB == Set(("x", "9"), ("y", null))) // null -> blank cell -> null
    // default = first sheet
    assert(Xlsx.read(spark, path).columns.toSeq == Seq("id", "name"))
  }

  test("shared-string cells resolve through xl/sharedStrings.xml") {
    // hand-built workbook using the shared-strings encoding (our writer uses
    // inline strings, so this path needs its own fixture)
    val bos = new ByteArrayOutputStream()
    val zip = new ZipOutputStream(bos)
    def part(n: String, b: String): Unit = {
      zip.putNextEntry(new ZipEntry(n)); zip.write(b.getBytes("UTF-8")); zip.closeEntry()
    }
    part("xl/workbook.xml",
      """<workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships"><sheets><sheet name="S" sheetId="1" r:id="rId1"/></sheets></workbook>""")
    part("xl/_rels/workbook.xml.rels",
      """<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships"><Relationship Id="rId1" Type="t" Target="worksheets/sheet1.xml"/></Relationships>""")
    part("xl/sharedStrings.xml",
      """<sst xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"><si><t>hdr</t></si><si><t>hello</t></si></sst>""")
    part("xl/worksheets/sheet1.xml",
      """<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"><sheetData>""" +
        """<row r="1"><c r="A1" t="s"><v>0</v></c></row>""" +
        """<row r="2"><c r="A2" t="s"><v>1</v></c><c r="B2"><v>42</v></c></row>""" +
        """</sheetData></worksheet>""")
    zip.close()
    val sheets = Xlsx.parseWorkbook(bos.toByteArray)
    assert(sheets.length == 1)
    val (name, header, rows) = sheets.head
    // row 2 is wider than the header row: header padded (blank name), the
    // numeric cell read as its raw <v> text
    assert(name == "S" && header == Seq("hdr", ""))
    assert(rows == Seq(Seq("hello", "42")))
  }

  test("sparse rows: skipped cells come back null at their column position") {
    val bos = new ByteArrayOutputStream()
    val zip = new ZipOutputStream(bos)
    def part(n: String, b: String): Unit = {
      zip.putNextEntry(new ZipEntry(n)); zip.write(b.getBytes("UTF-8")); zip.closeEntry()
    }
    part("xl/workbook.xml",
      """<workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships"><sheets><sheet name="S" sheetId="1" r:id="rId1"/></sheets></workbook>""")
    part("xl/_rels/workbook.xml.rels",
      """<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships"><Relationship Id="rId1" Type="t" Target="worksheets/sheet1.xml"/></Relationships>""")
    part("xl/worksheets/sheet1.xml",
      """<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"><sheetData>""" +
        """<row r="1"><c r="A1" t="inlineStr"><is><t>a</t></is></c><c r="C1" t="inlineStr"><is><t>c</t></is></c></row>""" +
        """<row r="2"><c r="B2"><v>7</v></c></row>""" +
        """</sheetData></worksheet>""")
    zip.close()
    val (_, header, rows) = Xlsx.parseWorkbook(bos.toByteArray).head
    assert(header == Seq("a", null, "c").map(h => if (h == null) "" else h))
    assert(rows == Seq(Seq(null, "7", null)))
  }

  test("many workbooks scan as one DataFrame via glob (one task per file)") {
    val dir = tempDir("xlsx_spec_multi")
    (1 to 3).foreach { i =>
      val df = Seq((s"$i", s"wb$i")).toDF("id", "src")
      Xlsx.writeSheets(Seq("Data" -> df), s"$dir/wb$i.xlsx")
    }
    val got = Xlsx.read(spark, s"$dir/*.xlsx", Some("Data"))
    assert(got.columns.toSeq == Seq("id", "src"))
    assert(got.collect().map(_.getString(1)).sorted.toSeq == Seq("wb1", "wb2", "wb3"))
    // the scan parallelizes per FILE: 3 files -> 3 input partitions
    assert(got.rdd.getNumPartitions >= 3)
  }

  test("reads the reference's real production crosswalk workbook") {
    // produced by Excel/openxlsx, not our own writer — validates the codec
    // against shared-string encoding and real-world part layout
    val p = "/root/reference/chicago/legacy_permits/crosswalk.xlsx"
    assume(new java.io.File(p).exists())
    val df = Xlsx.read(spark, p)
    assert(df.columns.toSeq == Seq("meta_pin", "year", "tab", "original_pin"))
    val rows = df.collect()
    assert(rows.length == 49)
    // a real reviewer artifact: mostly 14-digit pin pairs, plus a zero row
    // and free-text annotation rows at the tail — all read faithfully
    val pinRows = rows.filter(r =>
      r.getString(0) != null && r.getString(0).matches("\\d{14}"))
    assert(pinRows.length >= 45)
    assert(pinRows.forall(_.getString(3).matches("\\d{14}")))
    assert(pinRows.map(_.getString(1)).toSet.subsetOf(Set("2021", "2022", "2023")))
    assert(rows.exists(r => r.getString(0) != null && r.getString(0).contains("Green font")))
  }

  test("reads a crosswalk-shaped workbook in a foreign writer's part layout") {
    // the parts an Excel-family writer emits, unlike our own writer:
    // sharedStrings.xml with t="s" cells (a repeated string shares one
    // index), numeric <v> cells, styled cells, dimension/sheetViews/cols,
    // row spans, theme + docProps parts, and the crosswalk's 4-column shape
    // with a zero row and free-text annotation rows at the tail
    val bos = new ByteArrayOutputStream()
    val zip = new ZipOutputStream(bos)
    def part(n: String, b: String): Unit = {
      zip.putNextEntry(new ZipEntry(n)); zip.write(b.getBytes("UTF-8")); zip.closeEntry()
    }
    val decl = """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""" + "\r\n"
    val main = "http://schemas.openxmlformats.org/spreadsheetml/2006/main"
    val rel = "http://schemas.openxmlformats.org/officeDocument/2006/relationships"
    part("[Content_Types].xml", decl +
      """<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">""" +
      """<Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/>""" +
      """<Default Extension="xml" ContentType="application/xml"/>""" +
      """<Override PartName="/xl/workbook.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>""" +
      """<Override PartName="/xl/worksheets/sheet1.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.worksheet+xml"/>""" +
      """<Override PartName="/xl/theme/theme1.xml" ContentType="application/vnd.openxmlformats-officedocument.theme+xml"/>""" +
      """<Override PartName="/xl/styles.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.styles+xml"/>""" +
      """<Override PartName="/xl/sharedStrings.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sharedStrings+xml"/>""" +
      """<Override PartName="/docProps/app.xml" ContentType="application/vnd.openxmlformats-officedocument.extended-properties+xml"/>""" +
      """</Types>""")
    part("_rels/.rels", decl +
      """<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">""" +
      s"""<Relationship Id="rId2" Type="$rel/extended-properties" Target="docProps/app.xml"/>""" +
      s"""<Relationship Id="rId1" Type="$rel/officeDocument" Target="xl/workbook.xml"/>""" +
      """</Relationships>""")
    part("docProps/app.xml", decl +
      """<Properties xmlns="http://schemas.openxmlformats.org/officeDocument/2006/extended-properties"><Application>Microsoft Excel</Application></Properties>""")
    part("xl/workbook.xml", decl +
      s"""<workbook xmlns="$main" xmlns:r="$rel"><fileVersion appName="xl" lastEdited="7" rupBuild="27328"/>""" +
      """<bookViews><workbookView xWindow="0" yWindow="0" windowWidth="28800" windowHeight="12300"/></bookViews>""" +
      """<sheets><sheet name="Sheet1" sheetId="1" r:id="rId1"/></sheets><calcPr calcId="191029"/></workbook>""")
    part("xl/_rels/workbook.xml.rels", decl +
      """<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">""" +
      s"""<Relationship Id="rId3" Type="$rel/styles" Target="styles.xml"/>""" +
      s"""<Relationship Id="rId2" Type="$rel/theme" Target="theme/theme1.xml"/>""" +
      s"""<Relationship Id="rId1" Type="$rel/worksheet" Target="worksheets/sheet1.xml"/>""" +
      s"""<Relationship Id="rId4" Type="$rel/sharedStrings" Target="sharedStrings.xml"/>""" +
      """</Relationships>""")
    part("xl/theme/theme1.xml", decl +
      """<a:theme xmlns:a="http://schemas.openxmlformats.org/drawingml/2006/main" name="Office Theme"/>""")
    // xf 1 = green font, no fill: font colour is not fill metadata
    part("xl/styles.xml", decl +
      s"""<styleSheet xmlns="$main"><fonts count="2"><font><sz val="11"/><name val="Calibri"/></font>""" +
      """<font><sz val="11"/><color rgb="FF00B050"/><name val="Calibri"/></font></fonts>""" +
      """<fills count="2"><fill><patternFill patternType="none"/></fill><fill><patternFill patternType="gray125"/></fill></fills>""" +
      """<borders count="1"><border><left/><right/><top/><bottom/><diagonal/></border></borders>""" +
      """<cellStyleXfs count="1"><xf numFmtId="0" fontId="0" fillId="0" borderId="0"/></cellStyleXfs>""" +
      """<cellXfs count="2"><xf numFmtId="0" fontId="0" fillId="0" borderId="0" xfId="0"/>""" +
      """<xf numFmtId="0" fontId="1" fillId="0" borderId="0" xfId="0" applyFont="1"/></cellXfs>""" +
      """<cellStyles count="1"><cellStyle name="Normal" xfId="0" builtinId="0"/></cellStyles></styleSheet>""")
    val strings = Seq(
      "meta_pin", "year", "tab", "original_pin",                    // 0-3
      "17051000010000", "Permits 2021", "17051000010001",            // 4-6
      "17051000020000", "17051000020001", "Permits 2022",            // 7-9
      "25344000300000", "Permits 2023", "25344000300017",            // 10-12
      "Green font = PIN verified against the 2023 roll",            // 13
      "  Rows below were added by hand  ")                           // 14
    part("xl/sharedStrings.xml", decl +
      s"""<sst xmlns="$main" count="22" uniqueCount="${strings.length}">""" +
      strings.map(t => s"""<si><t xml:space="preserve">$t</t></si>""").mkString + "</sst>")
    def ss(ref: String, i: Int, style: String = "") = s"""<c r="$ref"$style t="s"><v>$i</v></c>"""
    def num(ref: String, v: String) = s"""<c r="$ref"><v>$v</v></c>"""
    def row(r: Int, cells: String*) = s"""<row r="$r" spans="1:4" x14ac:dyDescent="0.25">${cells.mkString}</row>"""
    part("xl/worksheets/sheet1.xml", decl +
      s"""<worksheet xmlns="$main" xmlns:r="$rel" xmlns:x14ac="http://schemas.microsoft.com/office/spreadsheetml/2009/9/ac">""" +
      """<dimension ref="A1:D9"/><sheetViews><sheetView tabSelected="1" workbookViewId="0"/></sheetViews>""" +
      """<sheetFormatPr defaultRowHeight="15" x14ac:dyDescent="0.25"/>""" +
      """<cols><col min="1" max="1" width="17.7109375" customWidth="1"/><col min="4" max="4" width="17.7109375" customWidth="1"/></cols>""" +
      "<sheetData>" +
      row(1, ss("A1", 0), ss("B1", 1), ss("C1", 2), ss("D1", 3)) +
      row(2, ss("A2", 4), num("B2", "2021"), ss("C2", 5), ss("D2", 6)) +
      row(3, ss("A3", 4), num("B3", "2021"), ss("C3", 5), ss("D3", 4)) +
      row(4, ss("A4", 7), num("B4", "2022"), ss("C4", 9), ss("D4", 8)) +
      row(5, ss("A5", 10, """ s="1""""), num("B5", "2023"), ss("C5", 11), ss("D5", 12, """ s="1"""")) +
      row(6, num("A6", "0"), num("B6", "2023"), ss("C6", 11), num("D6", "0")) +
      row(8, ss("A8", 13, """ s="1"""")) +
      row(9, ss("A9", 14)) +
      "</sheetData>" +
      """<pageMargins left="0.7" right="0.7" top="0.75" bottom="0.75" header="0.3" footer="0.3"/></worksheet>""")
    zip.close()
    val path = tmp("foreign")
    val f = new java.io.File(path)
    f.getParentFile.mkdirs()
    java.nio.file.Files.write(f.toPath, bos.toByteArray)

    val df = Xlsx.read(spark, path)
    assert(df.columns.toSeq == Seq("meta_pin", "year", "tab", "original_pin"))
    val got = df.collect().map(r => Seq(r.getString(0), r.getString(1), r.getString(2), r.getString(3))).toSeq
    // the skipped row 7 is absent, not a blank row; whitespace in a
    // preserved shared string survives
    assert(got == Seq(
      Seq("17051000010000", "2021", "Permits 2021", "17051000010001"),
      Seq("17051000010000", "2021", "Permits 2021", "17051000010000"),
      Seq("17051000020000", "2022", "Permits 2022", "17051000020001"),
      Seq("25344000300000", "2023", "Permits 2023", "25344000300017"),
      Seq("0", "2023", "Permits 2023", "0"),
      Seq("Green font = PIN verified against the 2023 roll", null, null, null),
      Seq("  Rows below were added by hand  ", null, null, null)))
    // the green-font cells carry no fill, so the fill reader reports none
    assert(Xlsx.readWithFill(spark, path, None, "meta_pin").collect().forall(_.isNullAt(4)))
  }

  test("XML escaping writes & < > \" as entities and drops illegal control characters") {
    val v = "a&b<c>d\"e\u0001f\u001fg\th\ni"
    val bytes = Xlsx.buildWorkbook(Seq("R&D <1>" -> Seq(Seq("plain text"), Seq(v))))
    val zin = new java.util.zip.ZipInputStream(new java.io.ByteArrayInputStream(bytes))
    val parts = Iterator.continually(zin.getNextEntry).takeWhile(_ != null)
      .map(e => e.getName -> new String(zin.readAllBytes(), "UTF-8")).toMap
    assert(parts("xl/workbook.xml").contains("""<sheet name="R&amp;D &lt;1&gt;" sheetId="1" r:id="rId1"/>"""))
    val sheet = parts("xl/worksheets/sheet1.xml")
    assert(sheet.contains("""<c r="A1" t="inlineStr"><is><t xml:space="preserve">plain text</t></is></c>"""))
    assert(sheet.contains(
      "<c r=\"A2\" t=\"inlineStr\"><is><t xml:space=\"preserve\">a&amp;b&lt;c&gt;d&quot;efg\th\ni</t></is></c>"))
    val (name, header, rows) = Xlsx.parseWorkbook(bytes).head
    assert(name == "R&D <1>" && header == Seq("plain text") && rows == Seq(Seq("a&b<c>d\"efg\th\ni")))
  }

  test("multi-file scan aligns heterogeneous workbooks by header name") {
    val dir = tempDir("xlsx_spec_hetero")
    // a_* sorts first -> its header (id, src) is the schema; the second
    // workbook has the columns REVERSED plus an extra one
    Xlsx.writeSheets(Seq("Data" -> Seq(("1", "wb1")).toDF("id", "src")), s"$dir/a_wb1.xlsx")
    Xlsx.writeSheets(Seq("Data" -> Seq(("wb2", "extra", "2")).toDF("src", "junk", "id")), s"$dir/b_wb2.xlsx")
    val got = Xlsx.read(spark, s"$dir/*.xlsx", Some("Data")).collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(got == Set(("1", "wb1"), ("2", "wb2")), s"by-name alignment broken: $got")
  }

  test("schema falls back to the first file that HAS the sheet; absent everywhere fails loudly") {
    val dir = tempDir("xlsx_spec_fallback")
    // a_* sorts first but lacks the "Data" sheet — its file must contribute
    // neither schema nor rows, NOT collapse the scan to zero columns
    Xlsx.writeSheets(Seq("Other" -> Seq(("x", "y")).toDF("p", "q")), s"$dir/a_other.xlsx")
    Xlsx.writeSheets(Seq("Data" -> Seq(("1", "wb1")).toDF("id", "src")), s"$dir/b_data.xlsx")
    val got = Xlsx.read(spark, s"$dir/*.xlsx", Some("Data"))
    assert(got.columns.toSeq == Seq("id", "src"))
    assert(got.collect().map(r => (r.getString(0), r.getString(1))).toSeq == Seq(("1", "wb1")))
    val err = intercept[IllegalArgumentException] {
      Xlsx.read(spark, s"$dir/*.xlsx", Some("Nope")).collect()
    }
    assert(err.getMessage.contains("Nope"))
  }

  test("duplicate header names disambiguate positionally instead of last-wins") {
    // two "v" columns (hand-built: real-world sheets have them, our own
    // writer can't): both must survive with distinct schema names, values
    // kept in their original positions
    val path = tmp("dupes")
    val bytes = Xlsx.buildWorkbook(
      Seq("Data" -> Seq(Seq("k", "v", "v"), Seq("a", "first", "second")))
    )
    val f = new java.io.File(path)
    f.getParentFile.mkdirs()
    java.nio.file.Files.write(f.toPath, bytes)
    val got = Xlsx.read(spark, path, Some("Data"))
    assert(got.columns.toSeq == Seq("k", "v", "v_2"))
    val r = got.collect().head
    assert((r.getString(0), r.getString(1), r.getString(2)) == (("a", "first", "second")))
  }

  test("mangleDupes bumps past literal collisions: [amount, amount, amount_2]") {
    // pre-r5 defect: the seen-counter keyed on the ORIGINAL name mangled
    // this header to [amount, amount_2, amount_2] — a NEW collision the
    // helper exists to prevent. Candidates must bump until unique.
    assert(
      Xlsx.mangleDupes(Seq("amount", "amount", "amount_2")) ==
        Seq("amount", "amount_2", "amount_2_2"))
    val tricky = Seq("amount", "amount_2", "amount", "amount", "amount_2")
    val mangled = Xlsx.mangleDupes(tricky)
    assert(mangled.distinct == mangled, s"still colliding: $mangled")
    assert(mangled.head == "amount" && mangled(1) == "amount_2")
    // and through the full scan: three same-named columns survive positionally
    val path = tmp("dupes3")
    val bytes = Xlsx.buildWorkbook(
      Seq("Data" -> Seq(Seq("amount", "amount", "amount_2"), Seq("first", "second", "third")))
    )
    val f = new java.io.File(path)
    f.getParentFile.mkdirs()
    java.nio.file.Files.write(f.toPath, bytes)
    val got = Xlsx.read(spark, path, Some("Data"))
    assert(got.columns.toSeq == Seq("amount", "amount_2", "amount_2_2"))
    val r = got.collect().head
    assert((r.getString(0), r.getString(1), r.getString(2)) == (("first", "second", "third")))
  }

  test("cell fill colors roundtrip through styles.xml (S5 surface)") {
    val path = tmp("fills")
    val df = Seq(
      ("p1", "FFFFFF00"),                     // yellow flag
      ("p2", "FFFFC000"),                     // orange flag
      ("p3", "theme:7:0.3999755851924192"),   // the theme-encoded flag color
      ("p4", "FF92D050"),                     // green: colored but NOT a flag
      ("p5", null: String)                    // unfilled
    ).toDF("pin", "pin_fill")
    Xlsx.writeSheets(Seq("Reviewed" -> df), path, fillColumns = Map("pin" -> "pin_fill"))
    val got = Xlsx.readWithFill(spark, path, Some("Reviewed"), "pin")
    // the spec column was consumed as formatting, not written as data
    assert(got.columns.toSeq == Seq("pin", "fill_spec"))
    val specs = got.collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(specs == Map(
      "p1" -> "FFFFFF00", "p2" -> "FFFFC000",
      "p3" -> "theme:7:0.3999755851924192", "p4" -> "FF92D050", "p5" -> null))
    // the reference's flag predicate (yellow/orange/theme-7) over the column
    import org.apache.spark.sql.functions.col
    val flagged = got.filter(Xlsx.fillIsFlagged(col("fill_spec")))
      .collect().map(_.getString(0)).toSet
    assert(flagged == Set("p1", "p2", "p3"))
    // the plain reader still reads the same file, ignoring formatting
    assert(Xlsx.read(spark, path, Some("Reviewed")).collect().map(_.getString(0)).toSet ==
      Set("p1", "p2", "p3", "p4", "p5"))
  }

  test("removeFlaggedRows deletes flagged rows, preserves other rows' fills and other sheets") {
    val dir = tempDir("xlsx_spec_qc")
    val orig = s"$dir/orig.xlsx"
    val cleaned = s"$dir/cleaned.xlsx"
    val data = Seq(
      ("p1", "keep1", null: String),
      ("p2", "drop-yellow", "FFFFFF00"),
      ("p3", "keep-green", "FF92D050"),
      ("p4", "drop-theme", "theme:7:0.3999755851924192"),
      ("p5", "drop-orange", "FFFFC000")
    ).toDF("pin", "note", "pin_fill")
    val other = Seq(("x", "y")).toDF("a", "b")
    Xlsx.writeSheets(
      Seq("Sheet1" -> data, "Other" -> other), orig, fillColumns = Map("pin" -> "pin_fill"))
    Xlsx.removeFlaggedRows(orig, cleaned, "Sheet1", "pin")
    val got = Xlsx.readWithFill(spark, cleaned, Some("Sheet1"), "pin")
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
    // flagged rows gone; the green NON-flag fill survives the rewrite
    assert(got == Set(("p1", "keep1", null), ("p3", "keep-green", "FF92D050")))
    // untouched sheet passes through with its data intact
    assert(Xlsx.read(spark, cleaned, Some("Other")).collect()
      .map(r => (r.getString(0), r.getString(1))).toSeq == Seq(("x", "y")))
  }

  test("removeFlaggedRows round-trips header-row fills like the reference's in-place edit") {
    val dir = tempDir("xlsx_spec_qc_hdr")
    val orig = s"$dir/orig.xlsx"
    val cleaned = s"$dir/cleaned.xlsx"
    // workbook with a FILLED header row (blue on both header cells) plus a
    // flagged and an unflagged data row — built via the styled writer since
    // writeSheets only styles data cells
    val rows = Seq(
      Seq("pin", "note"),
      Seq("p1", "keep"),
      Seq("p2", "drop")
    )
    val fills = Seq(
      Seq("FF00B0F0", "FF00B0F0"),       // header fills
      Seq(null: String, null: String),
      Seq("FFFFFF00", null: String)      // p2 flagged yellow
    )
    val bytes = Xlsx.buildWorkbookStyled(Seq(("Sheet1", rows, fills)))
    val f = new java.io.File(orig)
    f.getParentFile.mkdirs()
    java.nio.file.Files.write(f.toPath, bytes)
    Xlsx.removeFlaggedRows(orig, cleaned, "Sheet1", "pin")
    val got = Xlsx.parseWorkbookStyled(
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(cleaned))).head
    assert(got.header == Seq("pin", "note"))
    assert(got.rows == Seq(Seq("p1", "keep")))       // flagged row deleted
    assert(got.headerFills == Seq("FF00B0F0", "FF00B0F0"), "header fills must survive the QC rewrite")
    assert(got.fills == Seq(Seq(null, null)))
  }

  test("fillIsFlagged mirrors the reference's RGB/alpha/theme normalization") {
    import org.apache.spark.sql.functions.col
    val cases = Seq(
      ("FFFFFF00", true), ("FFFFC000", true),          // ARGB exact
      ("#FFFFFF00", true), ("ffffc000", true),         // hash prefix, case fold
      ("FFFF00", true), ("FFC000", true),              // 6-char RGB, alpha assumed
      ("theme:7:0.3999755851924192", true),            // theme fill, tint rounded
      ("theme:7:0.39997600", true),                    // same tint after round(6)
      ("theme:4:0.3999755851924192", false),           // wrong theme index
      ("theme:7:0.2", false),                          // wrong tint
      ("FF92D050", false), ("FFFFFFFF", false),        // non-flag colors
      (null: String, false)                            // unfilled
    )
    val got = cases.map(_._1).toDF("spec")
      .select(col("spec"), Xlsx.fillIsFlagged(col("spec")).as("f"))
      .collect().map(r => r.getString(0) -> r.getBoolean(1)).toMap
    cases.foreach { case (spec, want) =>
      assert(got(spec) == want, s"spec '$spec' expected $want")
    }
  }

  test("rich-text inline strings concatenate runs; phonetic runs are skipped") {
    val bos = new ByteArrayOutputStream()
    val zip = new ZipOutputStream(bos)
    def part(n: String, b: String): Unit = {
      zip.putNextEntry(new ZipEntry(n)); zip.write(b.getBytes("UTF-8")); zip.closeEntry()
    }
    part("xl/workbook.xml",
      """<workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships"><sheets><sheet name="S" sheetId="1" r:id="rId1"/></sheets></workbook>""")
    part("xl/_rels/workbook.xml.rels",
      """<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships"><Relationship Id="rId1" Type="t" Target="worksheets/sheet1.xml"/></Relationships>""")
    part("xl/sharedStrings.xml",
      """<sst xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"><si><t>東京</t><rPh sb="0" eb="2"><t>トウキョウ</t></rPh></si></sst>""")
    part("xl/worksheets/sheet1.xml",
      """<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"><sheetData>""" +
        """<row r="1"><c r="A1" t="inlineStr"><is><r><t>Hello </t></r><r><t>World</t></r></is></c><c r="B1" t="s"><v>0</v></c></row>""" +
        """</sheetData></worksheet>""")
    zip.close()
    val (_, header, _) = Xlsx.parseWorkbook(bos.toByteArray).head
    assert(header == Seq("Hello World", "東京"))
  }

  test("column reference math") {
    assert(Xlsx.colRef(0) == "A" && Xlsx.colRef(25) == "Z" && Xlsx.colRef(26) == "AA")
    assert(Xlsx.colIndex("A1") == 0 && Xlsx.colIndex("Z9") == 25 && Xlsx.colIndex("BC12") == 54)
    (0 until 200).foreach(i => assert(Xlsx.colIndex(Xlsx.colRef(i) + "1") == i))
  }
}
