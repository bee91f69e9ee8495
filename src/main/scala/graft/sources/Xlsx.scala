package graft.sources

import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
import java.util.zip.{ZipEntry, ZipInputStream, ZipOutputStream}
import javax.xml.stream.{XMLInputFactory, XMLStreamConstants}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** S4 XLSX scan + S6 workbook sink with NO external codec: an .xlsx is a
  * zip of XML parts (ECMA-376), so JDK-only `java.util.zip` + StAX cover
  * the reference's xlsx surface (`pd.read_excel` of review sheets,
  * `xlsxwriter` workbook with Permits + Universe-of-Valid-PINs sheets —
  * chicago/permit_cleaning.py:962-1134,
  * format_reviewed_permits_for_upload.py:71-90).
  *
  * Scale stance:
  *   - READ is executor-parallel per FILE: `binaryFile` source → flatMap
  *     parse, one task per workbook. A single workbook is reviewer-scale by
  *     format contract (Excel caps a sheet at 2^20 rows) — many workbooks
  *     (e.g. one per legacy year×tab) scan in parallel across executors.
  *   - WRITE collects to the driver: justified for the same reason — a
  *     workbook is a reviewer artifact with a hard 2^20-row ceiling, never
  *     bulk data (bulk output goes to the parquet/CSV sinks). Enforced with
  *     an explicit row-count guard rather than silently truncating.
  *
  * Cells are read/written as strings (the reference's sheets are typed
  * downstream by the pipeline's own parsers, SURVEY §2.9); formatting/
  * protection decoration stays scoped out per SURVEY §7.4.
  */
object Xlsx {

  /** Hard ceiling per sheet (the xlsx format's own row limit). */
  val MaxRows: Int = 1048576

  // ======================= read =======================

  /** All sheets' (sheetName, header, rows) parsed from one workbook's bytes.
    * Cell types handled: shared string (t="s"), inline string
    * (t="inlineStr"), formula-string (t="str"), and raw numeric/plain <v>.
    * Missing cells inside a row are null; rows are padded to header width.
    */
  private[graft] def parseWorkbook(bytes: Array[Byte]): Seq[(String, Seq[String], Seq[Seq[String]])] =
    parseWorkbookStyled(bytes).map(s => (s.name, s.header, s.rows))

  /** One parsed sheet with styling: `fills` aligns with `rows` (data rows);
    * `headerFills` carries the header row's own fill specs so workbook
    * rewrites ([[removeFlaggedRows]]) can round-trip header formatting the
    * way the reference's in-place openpyxl edit preserves it.
    */
  private[graft] final case class StyledSheet(
      name: String,
      header: Seq[String],
      rows: Seq[Seq[String]],
      fills: Seq[Seq[String]],
      headerFills: Seq[String]
  )

  /** [[parseWorkbook]] plus, per data row, the FILL SPEC of every cell —
    * the S5 formatting-metadata surface. A fill spec is `null` (no solid
    * fill), an uppercase ARGB string (`"FFFFFF00"`), or
    * `"theme:<idx>:<tint>"` for theme-based fills — the two encodings
    * openpyxl exposes and the reference's flag-color predicate checks
    * (format_reviewed_permits_for_upload.py:31-83). Resolved through
    * styles.xml: cell `s` attribute → cellXfs xf → fillId → fills entry.
    */
  private[graft] def parseWorkbookStyled(bytes: Array[Byte]): Seq[StyledSheet] = {
    val parts = readZip(bytes)
    val shared = parts.get("xl/sharedStrings.xml").map(parseSharedStrings).getOrElse(Vector.empty)
    val styleFills = parts.get("xl/styles.xml").map(parseStyles).getOrElse(IndexedSeq.empty)
    val sheetTargets = sheetNameToTarget(parts)
    sheetTargets.map { case (name, target) =>
      val (rows, fills) = parts
        .get(target)
        .map(parseSheet(_, shared, styleFills))
        .getOrElse((Seq.empty, Seq.empty))
      // width covers the fills too — a colored BLANK cell may sit past the
      // last valued cell of every row
      val width = (rows.iterator ++ fills.iterator).foldLeft(0)((w, r) => math.max(w, r.length))
      val padded = rows.map(r => r.padTo(width, null: String))
      val paddedFills = fills.map(r => r.padTo(width, null: String))
      if (padded.isEmpty)
        StyledSheet(name, Seq.empty, Seq.empty, Seq.empty, Seq.empty)
      else
        StyledSheet(
          name,
          padded.head.map(h => if (h == null) "" else h),
          padded.tail,
          if (paddedFills.isEmpty) Seq.empty else paddedFills.tail,
          if (paddedFills.isEmpty) padded.head.map(_ => null: String) else paddedFills.head
        )
    }
  }

  /** styles.xml → cell style index (the cell's `s` attribute) to fill
    * spec. Walks the fills list (each `<fill><patternFill>` with an
    * optional `<fgColor rgb=…/theme=…/tint=…>`), then maps each cellXfs
    * `<xf fillId=…>` to its fill's spec. Non-solid pattern fills (none,
    * gray125) and fills without a foreground color yield null.
    */
  private[graft] def parseStyles(bytes: Array[Byte]): IndexedSeq[String] = {
    val r = newReader(bytes)
    val fillSpecs = IndexedSeq.newBuilder[String]
    val xfFillIds = IndexedSeq.newBuilder[Int]
    var inFills = false
    var inCellXfs = false
    var inFill = false
    var fillPattern = ""
    var fillSpec: String = null
    while (r.hasNext) {
      r.next() match {
        case XMLStreamConstants.START_ELEMENT =>
          r.getLocalName match {
            case "fills"   => inFills = true
            case "cellXfs" => inCellXfs = true
            case "fill" if inFills =>
              inFill = true; fillPattern = ""; fillSpec = null
            case "patternFill" if inFill =>
              fillPattern = Option(r.getAttributeValue(null, "patternType")).getOrElse("")
            case "fgColor" if inFill && fillPattern == "solid" =>
              val rgb = Option(r.getAttributeValue(null, "rgb"))
              val theme = Option(r.getAttributeValue(null, "theme"))
              val tint = Option(r.getAttributeValue(null, "tint")).getOrElse("0")
              fillSpec = rgb
                .map(_.toUpperCase)
                .orElse(theme.map(t => s"theme:$t:$tint"))
                .orNull
            case "xf" if inCellXfs =>
              xfFillIds += Option(r.getAttributeValue(null, "fillId")).map(_.toInt).getOrElse(0)
            case _ => ()
          }
        case XMLStreamConstants.END_ELEMENT =>
          r.getLocalName match {
            case "fills"          => inFills = false
            case "cellXfs"        => inCellXfs = false
            case "fill" if inFill => inFill = false; fillSpecs += fillSpec
            case _                => ()
          }
        case _ => ()
      }
    }
    r.close()
    val fills = fillSpecs.result()
    xfFillIds.result().map(fid => fills.lift(fid).orNull)
  }

  private def readZip(bytes: Array[Byte]): Map[String, Array[Byte]] = {
    val zin = new ZipInputStream(new ByteArrayInputStream(bytes))
    val out = Map.newBuilder[String, Array[Byte]]
    var e: ZipEntry = zin.getNextEntry
    while (e != null) {
      if (!e.isDirectory) out += e.getName -> zin.readAllBytes()
      e = zin.getNextEntry
    }
    zin.close()
    out.result()
  }

  /** workbook.xml sheet order + name, resolved through workbook.xml.rels to
    * the worksheet part path.
    */
  private def sheetNameToTarget(parts: Map[String, Array[Byte]]): Seq[(String, String)] = {
    val rels: Map[String, String] = parts
      .get("xl/_rels/workbook.xml.rels")
      .map { b =>
        collectAttrs(b, "Relationship", Seq("Id", "Target")).map { a =>
          val t = a("Target")
          a("Id") -> (if (t.startsWith("/")) t.drop(1) else "xl/" + t)
        }.toMap
      }
      .getOrElse(Map.empty)
    parts
      .get("xl/workbook.xml")
      .map { b =>
        collectAttrs(b, "sheet", Seq("name", "id")).map { a =>
          a("name") -> rels.getOrElse(a("id"), "xl/worksheets/sheet1.xml")
        }
      }
      .getOrElse(Seq.empty)
  }

  /** StAX pass collecting the wanted attributes of every `elem` element.
    * The r:id attribute is matched by local name ("id") to dodge namespace
    * prefix variance across producers.
    */
  private def collectAttrs(
      bytes: Array[Byte],
      elem: String,
      wanted: Seq[String]
  ): Seq[Map[String, String]] = {
    val r = newReader(bytes)
    val out = Seq.newBuilder[Map[String, String]]
    while (r.hasNext) {
      if (r.next() == XMLStreamConstants.START_ELEMENT && r.getLocalName == elem) {
        val m = (0 until r.getAttributeCount).map { i =>
          r.getAttributeLocalName(i) -> r.getAttributeValue(i)
        }.toMap
        if (wanted.forall(m.contains)) out += m
      }
    }
    r.close()
    out.result()
  }

  private def parseSharedStrings(bytes: Array[Byte]): Vector[String] = {
    val r = newReader(bytes)
    val out = Vector.newBuilder[String]
    var inSi = false
    var inRPh = false // phonetic (furigana) runs are annotations, not value
    val sb = new StringBuilder
    while (r.hasNext) {
      r.next() match {
        case XMLStreamConstants.START_ELEMENT if r.getLocalName == "si" =>
          inSi = true; sb.clear()
        case XMLStreamConstants.END_ELEMENT if r.getLocalName == "si" =>
          inSi = false; out += sb.toString
        case XMLStreamConstants.START_ELEMENT if r.getLocalName == "rPh" =>
          inRPh = true
        case XMLStreamConstants.END_ELEMENT if r.getLocalName == "rPh" =>
          inRPh = false
        case XMLStreamConstants.START_ELEMENT if inSi && !inRPh && r.getLocalName == "t" =>
          sb.append(r.getElementText) // getElementText advances past </t>
        case _ => ()
      }
    }
    r.close()
    out.result()
  }

  private def parseSheet(
      bytes: Array[Byte],
      shared: Vector[String],
      styleFills: IndexedSeq[String]
  ): (Seq[Seq[String]], Seq[Seq[String]]) = {
    val r = newReader(bytes)
    // IndexedSeq (Vector), NOT the default List builder: every consumer of
    // a parsed sheet aligns rows with fills by POSITION (`fills(ri)` /
    // `fills.length` inside a per-row loop — scan's alignment, the QC
    // rewrite, the workbook builder), and a List makes that loop O(rows²):
    // the r21 profile measured the 15k-row S5 data pass at 3.1 s of which
    // ~2.5 s was exactly this linear-indexing walk (the parse itself is
    // 0.08 s).
    val rows = IndexedSeq.newBuilder[Seq[String]]
    val fillRows = IndexedSeq.newBuilder[Seq[String]]
    var cells: scala.collection.mutable.ArrayBuffer[String] = null
    var fills: scala.collection.mutable.ArrayBuffer[String] = null
    var cellCol = -1
    var cellType = ""
    var inIs = false
    var inRPh = false
    val text = new StringBuilder
    val isBuf = new StringBuilder // inline strings may span several rich-text <t> runs
    while (r.hasNext) {
      r.next() match {
        case XMLStreamConstants.START_ELEMENT =>
          r.getLocalName match {
            case "row" =>
              cells = scala.collection.mutable.ArrayBuffer.empty[String]
              fills = scala.collection.mutable.ArrayBuffer.empty[String]
            case "c" if cells != null =>
              val ref = Option(r.getAttributeValue(null, "r"))
              cellCol = ref.map(colIndex).getOrElse(cells.length)
              cellType = Option(r.getAttributeValue(null, "t")).getOrElse("")
              // fill is recorded at <c> even for valueless cells — a colored
              // blank cell is meaningful formatting metadata
              Option(r.getAttributeValue(null, "s")).foreach { sAttr =>
                val spec = styleFills.lift(sAttr.toInt).orNull
                if (spec != null) putCell(fills, cellCol, spec)
              }
            case "is"  => inIs = true; isBuf.clear()
            case "rPh" => inRPh = true
            case "v" if cells != null =>
              text.clear(); text.append(r.getElementText)
              putCell(cells, cellCol, decode(text.toString, cellType, shared))
            case "t" if inIs && !inRPh && cells != null =>
              isBuf.append(r.getElementText)
            case _ => ()
          }
        case XMLStreamConstants.END_ELEMENT =>
          r.getLocalName match {
            case "row" =>
              rows += cells.toSeq; fillRows += fills.toSeq
              cells = null; fills = null
            case "is" =>
              inIs = false
              if (cells != null) putCell(cells, cellCol, isBuf.toString)
            case "rPh" => inRPh = false
            case _     => ()
          }
        case _ => ()
      }
    }
    r.close()
    (rows.result(), fillRows.result())
  }

  private def putCell(
      cells: scala.collection.mutable.ArrayBuffer[String],
      col: Int,
      v: String
  ): Unit = {
    while (cells.length <= col) cells += (null: String)
    cells(col) = v
  }

  private def decode(v: String, t: String, shared: Vector[String]): String = t match {
    case "s" => shared.lift(v.trim.toInt).orNull
    case _   => v
  }

  /** "BC12" -> 0-based column index 54. */
  private[graft] def colIndex(ref: String): Int = {
    var i = 0
    var acc = 0
    while (i < ref.length && ref.charAt(i).isLetter) {
      acc = acc * 26 + (ref.charAt(i).toUpper - 'A' + 1)
      i += 1
    }
    acc - 1
  }

  private def newReader(bytes: Array[Byte]) = {
    val f = XMLInputFactory.newInstance()
    // never resolve external entities from untrusted workbook XML
    f.setProperty(XMLInputFactory.IS_SUPPORTING_EXTERNAL_ENTITIES, false)
    f.setProperty(XMLInputFactory.SUPPORT_DTD, false)
    f.createXMLStreamReader(new ByteArrayInputStream(bytes))
  }

  /** Duplicate header names get pandas-style `_2`, `_3`… suffixes (first
    * occurrence keeps the bare name). Applied to BOTH the schema header and
    * each file's header before by-name alignment, so the nth "amount"
    * column of one file lands in the nth "amount" slot of the schema —
    * without this the by-name slot map silently last-wins and the
    * StructType carries duplicate field names.
    */
  private[graft] def mangleDupes(header: Seq[String]): Seq[String] = {
    val seen = scala.collection.mutable.Map.empty[String, Int]
    val produced = scala.collection.mutable.Set.empty[String]
    header.map { h =>
      var n = seen.getOrElse(h, 0) + 1
      var cand = if (n == 1) h else s"${h}_$n"
      // a candidate can collide with a LITERAL later/earlier header (e.g.
      // [amount, amount, amount_2] must not yield amount_2 twice) — keep
      // bumping the suffix until the name is new, pandas-style
      while (produced.contains(cand)) { n += 1; cand = s"${h}_$n" }
      seen(h) = n
      produced += cand
      cand
    }
  }

  /** Scan every workbook under `path` (glob ok) as one DataFrame: the
    * header row of `sheet` (default: each workbook's first sheet) in the
    * lexicographically first file CONTAINING that sheet becomes the
    * all-string schema (a workbook lacking the sheet contributes no rows
    * and no schema; if NO file has it, the scan fails loudly instead of
    * returning a zero-column frame). Every workbook's rows are aligned to
    * that schema BY HEADER NAME — reordered columns land correctly, columns
    * a file lacks are null, extra columns are dropped, duplicate header
    * names are disambiguated positionally (see [[mangleDupes]]). One task
    * per workbook file via the binaryFile source, so many workbooks parse
    * in parallel across executors.
    */
  def read(spark: SparkSession, path: String, sheet: Option[String] = None): DataFrame =
    scan(spark, path, sheet, colorColumn = None)

  /** [[read]] plus one extra `fill_spec` column: the FILL SPEC of each
    * row's cell in `colorColumn` (null = no solid fill; `"FFFFFF00"` ARGB;
    * `"theme:7:0.3999755851924192"` theme fills) — the S5 surface: the
    * reference partitions reviewed sheets on the PIN cell's background
    * color (format_reviewed_permits_for_upload.py:40-83), so formatting
    * metadata is scanned as a first-class column and any Column predicate
    * can filter on it. Same executor-parallel one-task-per-workbook shape
    * as [[read]].
    */
  def readWithFill(
      spark: SparkSession,
      path: String,
      sheet: Option[String],
      colorColumn: String
  ): DataFrame =
    scan(spark, path, sheet, Some(colorColumn))

  private def scan(
      spark: SparkSession,
      path: String,
      sheet: Option[String],
      colorColumn: Option[String]
  ): DataFrame = {
    val bin = spark.read.format("binaryFile").load(path).select("path", "content")
    // header probe runs distributed (one parse per file, executors); only
    // the per-file (path, header) pairs come back to the driver
    val headers: Array[(String, Seq[String])] = bin.rdd.flatMap { row =>
      val all = parseWorkbookStyled(row.getAs[Array[Byte]](1))
      sheet.fold(all.headOption)(s => all.find(_.name == s))
        .map(c => row.getString(0) -> c.header)
    }.collect()
    require(
      headers.nonEmpty,
      s"no workbook under $path contains ${sheet.fold("any sheet")(s => s"sheet '$s'")}"
    )
    val refHeader = mangleDupes(headers.minBy(_._1)._2).toIndexedSeq
    colorColumn.foreach { cc =>
      require(
        refHeader.contains(cc),
        s"color column '$cc' not in schema header ${refHeader.mkString("[", ", ", "]")}"
      )
    }
    val parsed = bin.select("content").rdd.flatMap { row =>
      val all = parseWorkbookStyled(row.getAs[Array[Byte]](0))
      val chosen = sheet.fold(all.headOption)(s => all.find(_.name == s))
      chosen.toSeq.flatMap { case StyledSheet(_, fileHeader, rows, fills, _) =>
        // align this workbook's columns to the reference header by name
        val slot: Map[String, Int] = mangleDupes(fileHeader).zipWithIndex.toMap
        val take: IndexedSeq[Int] = refHeader.map(h => slot.getOrElse(h, -1))
        val colorIdx = colorColumn.map(cc => slot.getOrElse(cc, -1))
        rows.zipWithIndex.map { case (r, ri) =>
          val vals = take.map(i => if (i >= 0 && i < r.length) r(i) else null)
          colorIdx match {
            case None => Row.fromSeq(vals)
            case Some(ci) =>
              val fillRow = if (ri < fills.length) fills(ri) else Seq.empty
              val spec = if (ci >= 0 && ci < fillRow.length) fillRow(ci) else null
              Row.fromSeq(vals :+ spec)
          }
        }
      }
    }
    val outHeader = if (colorColumn.isDefined) refHeader :+ "fill_spec" else refHeader
    val schema = StructType(outHeader.map(h => StructField(h, StringType, nullable = true)))
    spark.createDataFrame(parsed, schema)
  }

  /** Scala twin of [[fillIsFlagged]] for driver-side workbook transforms
    * (same normalization: alpha-optional ARGB match, theme-7 tint rounded
    * to 6 places).
    */
  private[graft] def specFlagged(spec: String): Boolean = {
    if (spec == null) return false
    if (spec.startsWith("theme:")) {
      // split limit -1 keeps trailing empty segments, matching Spark's
      // `split`; the exact ==3 count rejects malformed multi-colon specs
      // identically in both twins
      val p = spec.split(":", -1)
      p.length == 3 && p(1) == "7" &&
      scala.util.Try(BigDecimal(p(2)).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
        .toOption.contains(0.399976)
    } else {
      val up = spec.stripPrefix("#").toUpperCase
      val flags = Set("FFFFFF00", "FFFFC000")
      flags.contains(up) || (up.length == 6 && flags.contains("FF" + up))
    }
  }

  /** The reference's QC artifact (format_reviewed_permits_for_upload.py:
    * 86-120): copy a workbook with every row whose `colorColumn` cell is
    * flag-colored DELETED. Formatting preservation is scoped to SOLID CELL
    * FILLS — on data rows AND the header row, matching the reference's
    * in-place openpyxl edit which leaves header formatting untouched.
    * Non-fill formatting (fonts, borders, number formats, column widths)
    * is not round-tripped; the QC content contract (which rows survive,
    * with which fills) is identical. Driver-side by the same
    * reviewer-scale contract as [[writeSheets]] — the reference itself
    * runs openpyxl on the driver. Sheets other than `sheet` pass through
    * with their fills intact.
    */
  def removeFlaggedRows(inPath: String, outPath: String, sheet: String, colorColumn: String): Unit = {
    val bytes = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(inPath))
    val all = parseWorkbookStyled(bytes)
    require(all.exists(_.name == sheet), s"sheet '$sheet' not found in $inPath")
    val rebuilt = all.map { case StyledSheet(name, header, rows, fills, headerFills) =>
      val paired = rows.zipWithIndex.map { case (r, i) =>
        (r, if (i < fills.length) fills(i) else Seq.empty[String])
      }
      val kept =
        if (name != sheet) paired
        else {
          val ci = mangleDupes(header).indexOf(colorColumn)
          require(ci >= 0, s"color column '$colorColumn' not in sheet '$sheet'")
          paired.filterNot { case (_, f) => specFlagged(if (ci < f.length) f(ci) else null) }
        }
      // header fills round-trip (the reference edits the workbook in place,
      // so its header formatting survives; ours must too)
      (name, header +: kept.map(_._1), headerFills +: kept.map(_._2))
    }
    val out = buildWorkbookStyled(rebuilt)
    val f = new java.io.File(outPath)
    Option(f.getParentFile).foreach(_.mkdirs())
    java.nio.file.Files.write(f.toPath, out)
  }

  /** The reference's flag predicate over a [[readWithFill]] `fill_spec`
    * column (format_reviewed_permits_for_upload.py:31-83): flagged iff the
    * fill is yellow FFFFFF00 or orange FFFFC000 (ARGB, with or without the
    * alpha prefix), or the theme-7 fill at tint ≈ 0.4 that Excel reports
    * only by theme — tint compared after round(…, 6), mirroring the
    * reference's float-precision normalization.
    */
  def fillIsFlagged(spec: Column): Column = {
    val up = upper(regexp_replace(spec, "^#", ""))
    val rgbFlag = up.isin("FFFFFF00", "FFFFC000") ||
      (length(up) === 6 && concat(lit("FF"), up).isin("FFFFFF00", "FFFFC000"))
    val p = split(spec, ":")
    val themeFlag = size(p) === 3 &&
      p.getItem(0) === "theme" &&
      p.getItem(1) === "7" &&
      round(p.getItem(2).try_cast("double"), 6) === 0.399976
    coalesce(rgbFlag || themeFlag, lit(false))
  }

  // ======================= write =======================

  /** Write DataFrames as one workbook, one sheet each (header = columns,
    * cells = string render, null = blank cell). Collects to the driver —
    * a workbook is a reviewer-scale artifact by format contract; exceeding
    * the xlsx row ceiling fails loudly instead of truncating.
    *
    * `fillColumns` maps a data column to a SIBLING column holding that
    * cell's fill spec (`"FFFFFF00"` ARGB or `"theme:7:<tint>"`, null = no
    * fill); spec columns are consumed as formatting and excluded from the
    * sheet — the inverse of [[readWithFill]], so flag colors round-trip
    * through the engine's own sink (the reference's reviewed sheets carry
    * exactly this metadata on the PIN column).
    */
  def writeSheets(
      sheets: Seq[(String, DataFrame)],
      path: String,
      fillColumns: Map[String, String] = Map.empty
  ): Unit = {
    val specCols = fillColumns.values.toSet
    val content = sheets.map { case (name, df) =>
      val header = df.columns.toSeq.filterNot(specCols)
      val all = df.columns.toSeq
      val idx = all.zipWithIndex.toMap
      val rendered = df
        .select(all.map(c => col(c).cast("string")): _*)
        .collect()
      require(
        rendered.length < MaxRows,
        s"sheet '$name' has ${rendered.length} rows; xlsx caps at $MaxRows — use the parquet/CSV sinks for bulk data"
      )
      val values = rendered.map(r => header.map(c => r.getString(idx(c)))).toSeq
      val fills = rendered.map { r =>
        header.map(c => fillColumns.get(c).map(sc => r.getString(idx(sc))).orNull)
      }.toSeq
      val noFill = header.map(_ => null: String)
      (name, header +: values, noFill +: fills)
    }
    val bytes = buildWorkbookStyled(content)
    val f = new java.io.File(path)
    Option(f.getParentFile).foreach(_.mkdirs())
    java.nio.file.Files.write(f.toPath, bytes)
  }

  /** Minimal valid ECMA-376 package: content types, root rels, workbook,
    * workbook rels, one sheet part per sheet. Inline strings only (no
    * sharedStrings part needed); no styles part (formatting-free form).
    */
  private[graft] def buildWorkbook(sheets: Seq[(String, Seq[Seq[String]])]): Array[Byte] =
    buildWorkbookStyled(sheets.map { case (name, rows) => (name, rows, Seq.empty[Seq[String]]) })

  /** [[buildWorkbook]] with per-cell solid fills: the third element gives a
    * fill spec per cell (aligned with `rows`; null = unfilled; `"FFFFFF00"`
    * ARGB or `"theme:<idx>:<tint>"`). Distinct specs become styles.xml
    * `<fill>` entries + one cellXf each; filled cells carry `s="<xf>"`. The
    * styles part is emitted only when at least one fill exists, keeping the
    * unstyled output byte-stable.
    */
  private[graft] def buildWorkbookStyled(
      sheets: Seq[(String, Seq[Seq[String]], Seq[Seq[String]])]
  ): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val zip = new ZipOutputStream(bos)
    def part(name: String, body: String): Unit = {
      zip.putNextEntry(new ZipEntry(name))
      zip.write(body.getBytes("UTF-8"))
      zip.closeEntry()
    }
    val n = sheets.length
    // distinct fill specs in first-appearance order -> stable xf indices
    val specs: IndexedSeq[String] = sheets
      .flatMap(_._3)
      .flatten
      .filter(_ != null)
      .distinct
      .toIndexedSeq
    val xfOf: Map[String, Int] = specs.zipWithIndex.map { case (s, k) => s -> (k + 1) }.toMap
    val styled = specs.nonEmpty
    part(
      "[Content_Types].xml",
      """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""" +
        """<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">""" +
        """<Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/>""" +
        """<Default Extension="xml" ContentType="application/xml"/>""" +
        """<Override PartName="/xl/workbook.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>""" +
        (if (styled)
           """<Override PartName="/xl/styles.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.styles+xml"/>"""
         else "") +
        (1 to n).map(i =>
          s"""<Override PartName="/xl/worksheets/sheet$i.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.worksheet+xml"/>"""
        ).mkString +
        """</Types>"""
    )
    part(
      "_rels/.rels",
      """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""" +
        """<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">""" +
        """<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/officeDocument" Target="xl/workbook.xml"/>""" +
        """</Relationships>"""
    )
    part(
      "xl/workbook.xml",
      """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""" +
        """<workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships"><sheets>""" +
        sheets.zipWithIndex.map { case ((name, _, _), i) =>
          s"""<sheet name="${escape(name)}" sheetId="${i + 1}" r:id="rId${i + 1}"/>"""
        }.mkString +
        """</sheets></workbook>"""
    )
    part(
      "xl/_rels/workbook.xml.rels",
      """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""" +
        """<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">""" +
        (1 to n).map(i =>
          s"""<Relationship Id="rId$i" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet" Target="worksheets/sheet$i.xml"/>"""
        ).mkString +
        (if (styled)
           s"""<Relationship Id="rId${n + 1}" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/styles" Target="styles.xml"/>"""
         else "") +
        """</Relationships>"""
    )
    if (styled) {
      def fillXml(spec: String): String =
        if (spec.startsWith("theme:")) {
          val p = spec.split(":", 3)
          s"""<fill><patternFill patternType="solid"><fgColor theme="${p(1)}" tint="${p(2)}"/><bgColor indexed="64"/></patternFill></fill>"""
        } else
          s"""<fill><patternFill patternType="solid"><fgColor rgb="${escape(spec)}"/><bgColor indexed="64"/></patternFill></fill>"""
      part(
        "xl/styles.xml",
        """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""" +
          """<styleSheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">""" +
          """<fonts count="1"><font><sz val="11"/><name val="Calibri"/></font></fonts>""" +
          s"""<fills count="${specs.length + 2}">""" +
          """<fill><patternFill patternType="none"/></fill>""" +
          """<fill><patternFill patternType="gray125"/></fill>""" +
          specs.map(fillXml).mkString +
          """</fills>""" +
          """<borders count="1"><border/></borders>""" +
          """<cellStyleXfs count="1"><xf numFmtId="0" fontId="0" fillId="0" borderId="0"/></cellStyleXfs>""" +
          s"""<cellXfs count="${specs.length + 1}">""" +
          """<xf numFmtId="0" fontId="0" fillId="0" borderId="0" xfId="0"/>""" +
          specs.zipWithIndex.map { case (_, k) =>
            s"""<xf numFmtId="0" fontId="0" fillId="${k + 2}" borderId="0" xfId="0" applyFill="1"/>"""
          }.mkString +
          """</cellXfs>""" +
          """<cellStyles count="1"><cellStyle name="Normal" xfId="0" builtinId="0"/></cellStyles>""" +
          """</styleSheet>"""
      )
    }
    sheets.zipWithIndex.foreach { case ((_, rows, fills), i) =>
      val body = new StringBuilder(
        """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""" +
          """<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"><sheetData>"""
      )
      rows.zipWithIndex.foreach { case (cells, ri) =>
        val fillRow: Seq[String] = if (ri < fills.length) fills(ri) else Seq.empty
        body.append(s"""<row r="${ri + 1}">""")
        cells.zipWithIndex.foreach { case (v, ci) =>
          val spec = if (ci < fillRow.length) fillRow(ci) else null
          val sAttr = if (spec != null) s""" s="${xfOf(spec)}"""" else ""
          if (v != null)
            body.append(
              s"""<c r="${colRef(ci)}${ri + 1}"$sAttr t="inlineStr"><is><t xml:space="preserve">${escape(v)}</t></is></c>"""
            )
          else if (spec != null)
            // colored blank cell: formatting without a value still round-trips
            body.append(s"""<c r="${colRef(ci)}${ri + 1}"$sAttr/>""")
        }
        body.append("</row>")
      }
      body.append("</sheetData></worksheet>")
      part(s"xl/worksheets/sheet${i + 1}.xml", body.toString)
    }
    zip.close()
    bos.toByteArray
  }

  /** 0-based column index -> "A", "Z", "AA", ... */
  private[graft] def colRef(idx: Int): String = {
    var i = idx + 1
    val sb = new StringBuilder
    while (i > 0) {
      val rem = (i - 1) % 26
      sb.insert(0, ('A' + rem).toChar)
      i = (i - 1) / 26
    }
    sb.toString
  }

  /** XML-escape; control characters below 0x20 (except tab/LF/CR) are
    * illegal in XML 1.0 even as numeric references, so they are dropped —
    * the same lossy mapping every spreadsheet writer applies. One pass per
    * cell; a string with nothing to escape is returned as is.
    */
  private def escape(s: String): String = {
    var sb: java.lang.StringBuilder = null
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      val rep = c match {
        case '&' => "&amp;"
        case '<' => "&lt;"
        case '>' => "&gt;"
        case '"' => "&quot;"
        case _ if c < ' ' && c != '\t' && c != '\n' && c != '\r' => ""
        case _ => null
      }
      if (rep != null && sb == null) sb = new java.lang.StringBuilder(s.length + 16).append(s, 0, i)
      if (sb != null) { if (rep != null) sb.append(rep) else sb.append(c) }
      i += 1
    }
    if (sb == null) s else sb.toString
  }
}
