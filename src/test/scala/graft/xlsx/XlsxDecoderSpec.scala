package graft.xlsx

import java.nio.charset.StandardCharsets
import java.nio.file.Files
import java.util.zip.{ZipEntry, ZipFile, ZipOutputStream}
import scala.collection.mutable.ArrayBuffer
import scala.util.Random
import org.apache.spark.sql.sources.{Filter, GreaterThan, IsNotNull}
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers
import XlsxParser._

/** Differential spec of the byte-level worksheet decoder against the
  * StAX reader it replaced ([[StaxOracle]]): row iteration, the columnar
  * scan (every column type, pruning, PERMISSIVE/FAILFAST/LIMIT, pushed
  * filters), number parsing, and refill boundaries of the read buffer.
  * Doubles are compared by raw bits throughout. */
class XlsxDecoderSpec extends AnyFunSuite with Matchers {

  private def tmp(name: String): String =
    Files.createTempDirectory("xlsxdec").resolve(name).toString

  private val Main = "http://schemas.openxmlformats.org/spreadsheetml/2006/main"

  /** A one-sheet workbook with the worksheet, sharedStrings and styles
    * parts given as raw bytes (null leaves a part out). */
  private def workbook(path: String, sheet: Array[Byte], shared: Array[Byte],
                       styles: Array[Byte] = stylesPart): String = {
    val z = new ZipOutputStream(new java.io.FileOutputStream(path))
    def entry(name: String, body: Array[Byte]): Unit =
      if (body != null) { z.putNextEntry(new ZipEntry(name)); z.write(body); z.closeEntry() }
    def utf8(s: String) = s.getBytes(StandardCharsets.UTF_8)
    entry("xl/workbook.xml", utf8(
      s"""<?xml version="1.0"?><workbook xmlns="$Main" xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships">
         |<workbookPr date1904='false'/><sheets><sheet name="S" sheetId="1" r:id="rId1"/></sheets></workbook>""".stripMargin))
    entry("xl/_rels/workbook.xml.rels", utf8(
      """<?xml version="1.0"?><Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">
        |<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet" Target="worksheets/sheet1.xml"/>
        |</Relationships>""".stripMargin))
    entry("xl/worksheets/sheet1.xml", sheet)
    entry("xl/sharedStrings.xml", shared)
    entry("xl/styles.xml", styles)
    z.close()
    path
  }

  /** Style 0 plain, style 1 a builtin date, style 2 a custom date. */
  private lazy val stylesPart: Array[Byte] =
    s"""<?xml version="1.0" encoding="UTF-8"?><styleSheet xmlns="$Main">
       |<numFmts count="1"><numFmt numFmtId="164" formatCode="yyyy\\-mm\\-dd&quot;T&quot;"/></numFmts>
       |<cellXfs count="3"><xf numFmtId="0"/><xf numFmtId="14"/><xf numFmtId="164"/></cellXfs>
       |</styleSheet>""".stripMargin.getBytes(StandardCharsets.UTF_8)

  private def sheetPart(rows: String, decl: String = """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""",
                        pad: String = ""): Array[Byte] =
    s"""$decl$pad<worksheet xmlns="$Main"><sheetData>$rows</sheetData></worksheet>"""
      .getBytes(StandardCharsets.UTF_8)

  private def sharedPart(items: String): Array[Byte] =
    s"""<?xml version="1.0" encoding="UTF-8"?><sst xmlns="$Main">$items</sst>""".getBytes(StandardCharsets.UTF_8)

  // ---- comparable forms ---------------------------------------------------

  private def cellKey(v: CellValue): Any = v match {
    case XNumber(d, date) => ("n", java.lang.Double.doubleToRawLongBits(d), date)
    case other => other
  }
  private def rowKey(r: Row): Any = (r.rowIndex, r.cells.toSeq.map { case (c, v) => (c, cellKey(v)) }, r.hasAnyCell)

  /** Rows or the error class, for both decoders. */
  private def newRows(path: String, want: Int => Boolean, failFast: Boolean,
                      bufSize: Int = XmlTokens.DefaultBuffer): Either[String, Seq[Any]] = {
    val zip = new ZipFile(path)
    try {
      val it = new RowIterator(zip, parseWorkbook(zip).sheets.head.partName, parseSharedStrings(zip),
        parseDateStyles(zip), want, failFast, bufSize)
      try Right(it.map(rowKey).toVector) finally it.close()
    } catch { case e: IllegalArgumentException => Left(e.getMessage) } finally zip.close()
  }
  private def oracleRows(path: String, want: Int => Boolean, failFast: Boolean): Either[String, Seq[Any]] = {
    val zip = new ZipFile(path)
    try {
      val it = new StaxOracle.RowIterator(zip, parseWorkbook(zip).sheets.head.partName,
        StaxOracle.parseSharedStrings(zip), StaxOracle.parseDateStyles(zip), want, failFast)
      try Right(it.map(rowKey).toVector) finally it.close()
    } catch { case e: Exception => Left(e.getMessage) } finally zip.close()
  }

  private def internalKey(v: Any): Any = v match {
    case d: Double => ("d", java.lang.Double.doubleToRawLongBits(d))
    case other => other
  }

  /** The columnar reader's rows (strings as Java strings). */
  private def columnar(path: String, full: StructType, required: StructType, headerRow: Boolean,
                       skipRows: Int, failFast: Boolean, limit: Int,
                       pushed: Array[Filter]): Either[String, Seq[Seq[Any]]] = {
    val o = XlsxDataSource.Opts(None, None, headerRow, inferTypes = true, 100, failFast, None, skipRows)
    val r = new XlsxColumnarReader(path, full, required, o, pushed, limit)
    try {
      val out = ArrayBuffer[Seq[Any]]()
      while (r.next()) {
        val b = r.get()
        for (i <- 0 until b.numRows()) out += required.fields.indices.map { j =>
          val v = b.column(j)
          if (v.isNullAt(i)) null
          else required.fields(j).dataType match {
            case DoubleType => internalKey(v.getDouble(i))
            case TimestampType => v.getLong(i)
            case BooleanType => v.getBoolean(i)
            case StringType => v.getUTF8String(i).toString
          }
        }
      }
      Right(out.toSeq)
    } catch { case e: IllegalArgumentException => Left(e.getMessage) } finally r.close()
  }

  /** The oracle's columnar rows: StAX rows + convert, then the filters. */
  private def oracleColumnar(path: String, full: StructType, required: StructType, headerRow: Boolean,
                             skipRows: Int, failFast: Boolean, limit: Int,
                             pushed: Array[Filter]): Either[String, Seq[Seq[Any]]] =
    try {
      val pos = required.fieldNames.zipWithIndex.toMap
      val filters = pushed.filter(_.references.forall(pos.contains))
      val rows = StaxOracle.scan(path, full, required, headerRow, skipRows, failFast, limit,
        r => filters.forall(XlsxFilterEval.eval(_, n => r(pos(n)) match {
          case s: String => org.apache.spark.unsafe.types.UTF8String.fromString(s)
          case other => other
        })))
      Right(rows.map(_.map(internalKey)))
    } catch { case e: IllegalArgumentException => Left(e.getMessage) }

  private val types = Seq(StringType, DoubleType, BooleanType, TimestampType)

  /** Every decoder comparison for one workbook: rows (all columns, even
    * columns; PERMISSIVE and FAILFAST) and the columnar scan with each
    * column read as each of the four types, pruned and not, in both
    * modes, with and without a limit and pushed filters. */
  private def diff(path: String, nCols: Int, rnd: Random): Unit = {
    val even: Int => Boolean = _ % 2 == 0
    for (want <- Seq[Int => Boolean](_ => true, even); ff <- Seq(false, true)) {
      val a = newRows(path, want, ff); val b = oracleRows(path, want, ff)
      withClue(s"rows of $path failFast=$ff: ")(a shouldBe b) // FAILFAST messages included
    }
    for (rot <- types.indices) {
      val full = StructType((0 until nCols).map(c => StructField(s"c$c", types((c + rot) % types.size))))
      val pruned = StructType(full.fields.zipWithIndex.collect { case (f, i) if i % 3 != 1 => f })
      for (required <- Seq(full, pruned); ff <- Seq(false, true)) {
        val headerRow = rnd.nextBoolean()
        val skip = if (rnd.nextInt(4) == 0) 1 else 0
        val limit = if (rnd.nextBoolean()) -1 else rnd.nextInt(8)
        val pushed: Array[Filter] =
          if (rnd.nextInt(3) == 0) Array(IsNotNull(required.fieldNames.head)) ++
            required.fields.find(_.dataType == DoubleType).map(f => GreaterThan(f.name, 0.0))
          else Array.empty
        val a = columnar(path, full, required, headerRow, skip, ff, limit, pushed)
        val b = oracleColumnar(path, full, required, headerRow, skip, ff, limit, pushed)
        withClue(s"columnar $path ${required.simpleString} header=$headerRow skip=$skip failFast=$ff " +
          s"limit=$limit filters=${pushed.mkString(",")}: ") {
          a.isLeft shouldBe b.isLeft
          if (a.isRight) a shouldBe b
        }
      }
    }
  }

  // ---- hand-written shapes ------------------------------------------------

  private val handShared =
    """<si><t>id</t></si><si><t>name &amp; &lt;tag&gt; &quot;q&quot; &apos;a&apos;</t></si>
      |<si><r><rPr><b/></rPr><t>rich</t></r><r><t xml:space="preserve"> text</t></r><rPh sb="0" eb="1"><t>ph</t></rPh></si>
      |<si><t>&#233;&#x4E2D;&#x1F600;</t></si><si><t><![CDATA[<raw & cdata>]]></t></si>
      |<si><t>crlf&#13;&#10;line
      |two</t></si><si><t/></si><!-- a comment --><?pi data?><si><t>last</t></si>""".stripMargin

  private val handRows =
    """<row r="1"><c r="A1" t="s"><v>0</v></c><c r="B1" t="s"><v>1</v></c><c r="C1" t='s'><v>2</v></c>
      |<c r = "D1" t = "s" ><v>3</v></c><c r="E1" t="inlineStr"><is><t>e</t></is></c></row>
      |<row r="2" spans="1:5"><c r="A2"><v>1</v></c><c r="B2" t="str"><v>a&amp;b&lt;c&gt;&#65;&#x42;</v></c>
      |<c r="C2" t="b"><v>1</v></c><c r="D2" s="1"><v>43831.5</v></c><c r="E2" t="d"><v> 2020-01-02T03:04:05Z </v></c></row>
      |<row r="3"/>
      |<row r="4"><c r="A4"><v><![CDATA[12]]>.5</v></c><c r="B4" t="str"><v>x<!-- skip -->y<?p i?>z</v></c>
      |<c r="C4" t="b"><v> 0 </v></c><c r="D4" s="2"><v>1e2</v></c><c r="E4" t="inlineStr"><is><r><t>in</t></r><r><t>line</t></r></is></c></row>
      |<row r="6"><c r="a6"><v>-0</v></c><c t="s"><v> 4 </v></c><c r="d6" t="e"><v>#N/A</v></c><c><v>.5</v></c></row>
      |<row><c r="A7"><f>SUM(A1:A2)</f><v>3</v></c><c r="B7"><f>NOW()</f></c><c r="C7"/><c r="D7"><v/></c><c r="E7" t="str"><v></v></c></row>
      |<row r="8"><c r="A8" t="s"><v>99</v></c><c r="B8" t="s"><v>-1</v></c><c r="C8" s="99"><v>2</v></c><c r="D8" s="x"><v>3</v></c><c r="E8" t="s"><v>5</v></c></row>
      |<row r="9"><c r="A9"><v>abc</v></c><c r="B9" t="str"><v>line1
      |line2</v></c><c r="C9" t="zz"><v>7</v></c><c r="D9" t="n"><v> 1.25E-3 </v></c><c r="E9" t="s"><v>6</v></c></row>
      |<row r="10"><c r="A10" t="s"><v>7</v></c><c r="C10" t="b"><v></v></c><c r="E10" t="d"><v>junk</v></c></row>""".stripMargin

  test("hand-written sheet: entities, CDATA, comments, PIs, prefixes, quoting, every cell type") {
    val crlfRows = handRows.replace("line1\nline2", "line1\r\nline2\rline3")
    val variants = Seq(
      "plain" -> sheetPart(crlfRows),
      "doctype" -> sheetPart(crlfRows,
        decl = """<?xml version="1.0"?><!DOCTYPE worksheet [ <!ELEMENT worksheet ANY> ]><!-- c -->"""),
      "prefixed" ->
        (s"""<?xml version="1.0"?><x:worksheet xmlns:x="$Main"><x:sheetData>""" +
          crlfRows.replaceAll("<(/?)(row|c|v|f|is|r|t)([ >/])", "<$1x:$2$3") +
          "</x:sheetData></x:worksheet>").getBytes(StandardCharsets.UTF_8),
      "utf16" -> {
        val xml = s"""<?xml version="1.0" encoding="UTF-16"?><worksheet xmlns="$Main"><sheetData>$crlfRows</sheetData></worksheet>"""
        Array(0xFE.toByte, 0xFF.toByte) ++ xml.getBytes(StandardCharsets.UTF_16BE)
      })
    for ((name, sheet) <- variants) withClue(s"$name: ") {
      val path = workbook(tmp(s"hand-$name.xlsx"), sheet, sharedPart(handShared))
      newRows(path, _ => true, failFast = false).isRight shouldBe true
      diff(path, 5, new Random(name.hashCode))
    }
    // the shared strings and styles match the StAX parse too
    val zip = new ZipFile(workbook(tmp("hand-meta.xlsx"), sheetPart(handRows), sharedPart(handShared)))
    try {
      parseSharedStrings(zip).toSeq shouldBe StaxOracle.parseSharedStrings(zip).toSeq
      parseSharedStrings(zip)(2) shouldBe "rich textph"
      parseDateStyles(zip).toSeq shouldBe Seq(false, true, true)
    } finally zip.close()
  }

  // ---- seeded random shapes -----------------------------------------------

  private def randomText(rnd: Random, max: Int): String = {
    val cps = "ab Z09&<>\"'é中😀\r\n\t;#.-".codePoints().toArray
    val sb = new StringBuilder
    for (_ <- 0 until rnd.nextInt(max + 1)) sb.appendAll(Character.toChars(cps(rnd.nextInt(cps.length))))
    sb.toString
  }
  /** XML text for `s`: entities in several spellings, CDATA runs,
    * comments and PIs between runs. */
  private def xmlText(rnd: Random, s: String): String = {
    val sb = new StringBuilder
    var i = 0
    while (i < s.length) {
      if (rnd.nextInt(10) == 0) sb.append(if (rnd.nextBoolean()) "<!-- - -->" else "<?pi x?>")
      if (rnd.nextInt(8) == 0) {
        val n = 1 + rnd.nextInt(3)
        val run = s.substring(i, (i + n) min s.length)
        sb.append("<![CDATA[").append(run).append("]]>")
        i += run.length
      } else {
        val ch = s.charAt(i)
        sb.append(ch match {
          case '&' => Seq("&amp;", "&#38;", "&#x26;")(rnd.nextInt(3))
          case '<' => Seq("&lt;", "&#60;")(rnd.nextInt(2))
          case '>' => Seq("&gt;", ">")(rnd.nextInt(2))
          case '"' => Seq("&quot;", "\"")(rnd.nextInt(2))
          case '\'' => Seq("&apos;", "'")(rnd.nextInt(2))
          case 'Z' if rnd.nextInt(3) == 0 => "&#90;"
          case c => c.toString
        })
        i += 1
      }
    }
    sb.toString
  }
  private def randomNumber(rnd: Random): String = rnd.nextInt(12) match {
    case 0 => Seq("abc", "", " ", "1e", "--1", "NaN", "Infinity", "1d", "0x1p3", "1_0", "١٢")(rnd.nextInt(11))
    case 1 => (rnd.nextDouble() * 1e6).toString
    case 2 => rnd.nextLong().toString
    case _ => NumberGen.decimal(rnd)
  }
  private def q(rnd: Random, name: String, v: String): String = {
    val quote = if (rnd.nextInt(4) == 0) "'" else "\""
    val eq = if (rnd.nextInt(5) == 0) " = " else "="
    s" $name$eq$quote$v$quote"
  }
  private def colName(c: Int): String = {
    var n = c + 1; val sb = new StringBuilder
    while (n > 0) { sb.insert(0, ('A' + (n - 1) % 26).toChar); n = (n - 1) / 26 }
    sb.toString
  }

  private def randomSheet(rnd: Random, nRows: Int, nCols: Int, nShared: Int): String = {
    val sb = new StringBuilder
    var r = 0
    for (_ <- 0 until nRows) {
      r += 1 + (if (rnd.nextInt(6) == 0) rnd.nextInt(3) else 0)
      val rAttr = if (rnd.nextInt(8) == 0) "" else q(rnd, "r", r.toString)
      if (rnd.nextInt(15) == 0) sb.append(s"<row$rAttr/>")
      else {
        sb.append(s"<row$rAttr>")
        for (c <- 0 until nCols if rnd.nextInt(5) != 0) {
          val ref = rnd.nextInt(10) match {
            case 0 => ""
            case 1 => q(rnd, "r", (colName(c) + r).toLowerCase)
            case _ => q(rnd, "r", colName(c) + r)
          }
          val style = rnd.nextInt(6) match {
            case 0 => q(rnd, "s", "1")
            case 1 => q(rnd, "s", "2")
            case 2 => q(rnd, "s", Seq("0", "99", "x", "-1", "+1")(rnd.nextInt(5)))
            case _ => ""
          }
          def v(text: String) = if (rnd.nextInt(20) == 0) "<v/>" else s"<v>$text</v>"
          sb.append(rnd.nextInt(13) match {
            case 0 | 1 | 2 => s"<c$ref$style>${v(xmlText(rnd, randomNumber(rnd)))}</c>"
            case 3 => s"<c$ref${q(rnd, "t", "n")}$style>${v(randomNumber(rnd))}</c>"
            case 4 | 5 =>
              val idx = if (rnd.nextInt(10) == 0) Seq("-1", "x", (nShared + 2).toString, " 1 ")(rnd.nextInt(4))
                        else rnd.nextInt(nShared).toString
              s"<c$ref${q(rnd, "t", "s")}>${v(idx)}</c>"
            case 6 => s"<c$ref${q(rnd, "t", "str")}>${v(xmlText(rnd, randomText(rnd, 6)))}</c>"
            case 7 =>
              val runs = (0 to rnd.nextInt(3)).map(_ => s"<t>${xmlText(rnd, randomText(rnd, 4))}</t>")
              val body = if (rnd.nextBoolean()) runs.mkString else runs.map(t => s"<r><rPr/>$t</r>").mkString
              s"<c$ref${q(rnd, "t", "inlineStr")}><is>$body</is></c>"
            case 8 => s"<c$ref${q(rnd, "t", "b")}>${v(Seq("0", "1", " 1 ", "2", "")(rnd.nextInt(5)))}</c>"
            case 9 => s"<c$ref${q(rnd, "t", "e")}>${v("#DIV/0!")}</c>"
            case 10 => s"<c$ref${q(rnd, "t", "d")}>${v(Seq("2021-03-04", "2021-03-04T05:06:07Z", "nope")(rnd.nextInt(3)))}</c>"
            case 11 => s"<c$ref$style><f>A1+1</f>${if (rnd.nextBoolean()) v(randomNumber(rnd)) else ""}</c>"
            case _ => if (rnd.nextBoolean()) s"<c$ref/>" else s"<c$ref$style></c>"
          })
          if (rnd.nextInt(6) == 0) sb.append(Seq("\n", "\r\n  ", "<!-- gap -->", "<?pi?>")(rnd.nextInt(4)))
        }
        sb.append("</row>")
      }
      if (rnd.nextInt(3) == 0) sb.append("\n")
    }
    sb.toString
  }

  private def randomShared(rnd: Random, n: Int): String =
    (0 until n).map { _ =>
      if (rnd.nextInt(4) == 0)
        "<si>" + (0 to rnd.nextInt(3)).map(_ => s"<r><t>${xmlText(rnd, randomText(rnd, 5))}</t></r>").mkString +
          "<rPh><t>p</t></rPh></si>"
      else s"<si><t>${xmlText(rnd, randomText(rnd, 8))}</t></si>"
    }.mkString

  test("seeded random sheets: rows and columnar vectors match the StAX oracle") {
    for (seed <- 1 to 40) withClue(s"seed $seed: ") {
      val rnd = new Random(seed)
      val nCols = 2 + rnd.nextInt(6)
      val nShared = 1 + rnd.nextInt(12)
      val path = workbook(tmp(s"rand-$seed.xlsx"),
        sheetPart(randomSheet(rnd, 5 + rnd.nextInt(30), nCols, nShared)),
        sharedPart(randomShared(rnd, nShared)))
      diff(path, nCols, rnd)
    }
  }

  // ---- number parsing -----------------------------------------------------

  private def parsed(s: String): Option[Double] = {
    val p = new NumberText
    val b = s.getBytes(StandardCharsets.UTF_8)
    if (p.parseDouble(b, 0, b.length)) Some(p.value) else None
  }
  private def bits(o: Option[Double]) = o.map(java.lang.Double.doubleToRawLongBits)

  test("number parse is bit-identical to trim.toDoubleOption (100k random decimals + edge list)") {
    val edge = Seq("-0", "+0", "0", "-0.0", ".5", "1.", "+5", "-.5", ".", "+", "-", "", " ", "e5", "1e", "1e+",
      "1234567890123456", "12345678901234567", "123456789012345678", "1234567890123456789",
      "12345678901234567890", "0.1234567890123456", "9007199254740993", "1e-400", "1e309", "1e308",
      "4.9e-324", "2.2250738585072014E-308", "1.7976931348623157e308", "NaN", "-NaN", "Infinity",
      "-Infinity", "0x1p3", "0X1P-2", "1d", "1f", "1D", "1.5F", " 42 ", "\t3.25\n", "\r\n-7e2 ",
      "1e22", "1e23", "1e-22", "1e-23", "123456789012345e22", "123456789012345e-22", "000000000000000000001",
      "0.000000000000000000000000001", "1E0", "1e+05", "1e-05", "1e0000010", "1__0", "١", "1,5", "1 0",
      "0e999999", "-0e-999999", "3.14159265358979323846", "100000000000000000000000")
    edge.foreach(s => withClue(s"'$s': ")(bits(parsed(s)) shouldBe bits(s.trim.toDoubleOption)))
    val rnd = new Random(7)
    for (_ <- 0 until 100000) {
      val s = NumberGen.decimal(rnd)
      withClue(s"'$s': ")(bits(parsed(s)) shouldBe bits(s.trim.toDoubleOption))
    }
  }

  test("integer parse matches toIntOption for shared-string, style and row indices") {
    val p = new NumberText
    val cases = Seq("0", "7", "-1", "+5", " 3 ", "", " ", "2147483647", "2147483648", "-2147483647",
      "999999999", "1000000000", "0003", "1e2", "x", "١٢")
    for (s <- cases; trim <- Seq(true, false)) withClue(s"'$s' trim=$trim: ") {
      val b = s.getBytes(StandardCharsets.UTF_8)
      val want = (if (trim) s.trim else s).toIntOption.getOrElse(Int.MinValue)
      p.parseInt(b, 0, b.length, trim) shouldBe want
    }
  }

  // ---- read-buffer boundaries ---------------------------------------------

  test("tokens longer than the buffer, and every refill offset, decode identically") {
    val small = 64
    val long = "L" * 300
    val rows =
      s"""<row r="1"><c r="A1" t="s"><v>0</v></c><c r="B1" t="str" custom="${"q" * 200}"><v>$long</v></c>
         |<c r="C1"><v>${"1" * 150}</v></c></row>
         |<row r="2"><c r="A2" t="s"><v>1</v></c><c r="B2" t="inlineStr"><is><t>${"i&amp;" * 40}</t></is></c>
         |<c r="C2" s="1"><v>43831.25</v></c></row>""".stripMargin
    val shared = s"<si><t>${"S" * 500}</t></si><si><t>short &lt;</t></si>"
    val base = workbook(tmp("long.xlsx"), sheetPart(rows), sharedPart(shared))
    val expected = oracleRows(base, _ => true, failFast = false)
    expected.isRight shouldBe true
    newRows(base, _ => true, failFast = false, bufSize = small) shouldBe expected
    newRows(base, _ => true, failFast = false) shouldBe expected

    // the same sheet with 0..buffer-size bytes of leading padding: every
    // tag, attribute and text node crosses a refill boundary somewhere
    val ordinary = (1 to 12).map(r =>
      s"""<row r="$r"><c r="A$r" t="s"><v>${r % 2}</v></c><c r="B$r"><v>$r.5</v></c><c r="C$r" t="b"><v>1</v></c></row>""").mkString
    for (pad <- 0 to small) withClue(s"pad $pad: ") {
      val padded = workbook(tmp(s"pad-$pad.xlsx"),
        sheetPart(rows + ordinary, pad = " " * pad), sharedPart(shared))
      val want = oracleRows(padded, _ => true, failFast = false)
      newRows(padded, _ => true, failFast = false, bufSize = small) shouldBe want
      newRows(padded, _ % 2 == 0, failFast = true, bufSize = small) shouldBe
        oracleRows(padded, _ % 2 == 0, failFast = true)
    }
  }

  test("the read buffer stays at its size for ordinary rows and grows only for an oversized token") {
    val rows = (1 to 5000).map(r =>
      s"""<row r="$r"><c r="A$r" t="s"><v>0</v></c><c r="B$r"><v>${r * 1.5}</v></c></row>""").mkString
    val path = workbook(tmp("bounded.xlsx"), sheetPart(rows), sharedPart("<si><t>k</t></si>"))
    def capacityAfterScan(p: String, bufSize: Int): Int = {
      val zip = new ZipFile(p)
      try {
        val cur = new SheetCursor(zip, "xl/worksheets/sheet1.xml", Array("k"), Array.empty, _ => true,
          failFast = false, bufSize)
        try { while (cur.advance() != SheetCursor.End) {}; cur.bufferCapacity } finally cur.close()
      } finally zip.close()
    }
    capacityAfterScan(path, 256) shouldBe 256
    capacityAfterScan(path, XmlTokens.DefaultBuffer) shouldBe XmlTokens.DefaultBuffer
    val big = workbook(tmp("bigtoken.xlsx"),
      sheetPart(rows + s"""<row r="6000"><c r="A6000" t="str"><v>${"x" * 5000}</v></c></row>"""),
      sharedPart("<si><t>k</t></si>"))
    val grown = capacityAfterScan(big, 256)
    grown should be >= 5000
    grown should be <= 4 * 5000
  }

  // ---- malformed cell references ------------------------------------------

  // a reference must be 1–3 letters then digits, naming a column ≤ XFD;
  // each shape once crashed (or, for ZZZZZ2, exhausted the heap in)
  // schema inference, which indexed its per-column stats by the column
  for ((bad, shape) <- Seq("1" -> "no letters", "ZZZZZZZZ2" -> "an Int-overflowing column",
                           "ZZZZZ2" -> "a column past XFD")) {
    test(s"malformed cell reference '$bad' ($shape): PERMISSIVE reads it positionally, FAILFAST names it") {
      val spark = graft.TestSpark.spark
      val path = workbook(tmp("badref.xlsx"), sheetPart(
        s"""<row r="1"><c r="A1" t="s"><v>0</v></c><c r="B1" t="s"><v>1</v></c></row>
           |<row r="2"><c r="A2"><v>5</v></c><c r="$bad"><v>7</v></c></row>""".stripMargin),
        sharedPart("<si><t>a</t></si><si><t>b</t></si>"))
      val df = spark.read.format("xlsx").load(path)
      df.schema shouldBe StructType.fromDDL("a DOUBLE, b DOUBLE")
      df.collect().map(r => (r.getDouble(0), r.getDouble(1))).toSeq shouldBe Seq((5.0, 7.0))
      val e = intercept[Exception](spark.read.format("xlsx").option("mode", "FAILFAST").load(path).collect())
      val msgs = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).map(_.getMessage).mkString(" | ")
      msgs should include(s"malformed cell reference '$bad' at row 2, column 2")
      colOf(bad) shouldBe -1
    }
  }

  test("colOf accepts 1-3 letters of either case then digits, up to XFD") {
    colOf("A1") shouldBe 0
    colOf("b3") shouldBe 1
    colOf("XFD1048576") shouldBe 16383
    colOf("xfd7") shouldBe 16383
    Seq("XFE1", "AAAA1", "A", "1", "", "A1B", "$A$1", "A-1", "É1").foreach(r => withClue(r)(colOf(r) shouldBe -1))
  }

  // ---- XML faults fail loudly with the part name --------------------------

  test("undeclared entities, foreign encodings and broken markup fail with the part name") {
    def fails(sheet: Array[Byte], what: String, staxRejects: Boolean = true): Unit = withClue(what + ": ") {
      val path = workbook(tmp("bad.xlsx"), sheet, sharedPart("<si><t>a</t></si>"))
      val r = newRows(path, _ => true, failFast = false)
      r.isLeft shouldBe true
      r.left.toOption.get should include("xl/worksheets/sheet1.xml")
      oracleRows(path, _ => true, failFast = false).isLeft shouldBe staxRejects
    }
    fails(sheetPart("""<row r="1"><c r="A1" t="str"><v>&nbsp;</v></c></row>"""), "entity")
    fails(sheetPart("""<row r="1"><c r="A1"><v>1</v></c><<</row>"""), "markup")
    fails(sheetPart("""<row r="1"><c r="A1"><v>1</v></row>"""), "mismatched end tag")
    fails(sheetPart("""<row r="1"><c r="A1"><v>1</v></c>""").dropRight(40), "truncated part")
    // StAX decodes latin-1; OPC allows only UTF-8 and UTF-16
    fails(sheetPart("", decl = """<?xml version="1.0" encoding="ISO-8859-1"?>"""), "latin-1 declaration",
      staxRejects = false)
  }
}

/** Random decimal text in the shapes number cells take: signs, leading
  * zeros, 0–20 integer and fraction digits, exponents, padding. */
object NumberGen {
  def decimal(rnd: Random): String = {
    val sb = new StringBuilder
    if (rnd.nextInt(6) == 0) sb.append(" " * rnd.nextInt(2)).append("\t" * rnd.nextInt(2))
    rnd.nextInt(5) match { case 0 => sb.append('-'); case 1 => sb.append('+'); case _ => }
    def digits(n: Int): Unit = for (_ <- 0 until n) sb.append(('0' + rnd.nextInt(10)).toChar)
    val intDigits = if (rnd.nextInt(3) == 0) rnd.nextInt(21) else rnd.nextInt(8)
    if (rnd.nextInt(8) == 0) sb.append("000")
    digits(intDigits)
    if (rnd.nextInt(3) != 0) {
      sb.append('.')
      digits(if (rnd.nextInt(3) == 0) rnd.nextInt(21) else rnd.nextInt(6))
    }
    if (rnd.nextInt(4) == 0) {
      sb.append(if (rnd.nextBoolean()) 'e' else 'E')
      rnd.nextInt(3) match { case 0 => sb.append('-'); case 1 => sb.append('+'); case _ => }
      digits(rnd.nextInt(4))
    }
    if (rnd.nextInt(6) == 0) sb.append(" " * (1 + rnd.nextInt(2)))
    sb.toString
  }
}
