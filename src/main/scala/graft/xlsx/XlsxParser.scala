package graft.xlsx

import java.nio.charset.StandardCharsets
import java.util.zip.ZipFile
import scala.collection.mutable.ArrayBuffer

/** Streaming OOXML spreadsheet parser on JDK-only primitives
  * (java.util.zip + the byte-level [[XmlTokens]] tokenizer) — no POI, no
  * general-purpose XML API. Covers the SpreadsheetML subset that
  * xlsx→database tools consume:
  *
  *  - workbook.xml sheet list (+ 1904-date-system flag) resolved through
  *    workbook.xml.rels to worksheet parts
  *  - sharedStrings.xml including rich-text runs (all <t> under an <si>
  *    are concatenated)
  *  - styles.xml cellXfs → numFmtId, with date-format detection for both
  *    builtin ids (14–22, 45–47) and custom formats (date letters outside
  *    brackets/quotes)
  *  - worksheet cells: t ∈ {s, str, inlineStr, b, e, d, n/absent}, sparse
  *    rows (missing r attributes), A1 references, blank cells
  *
  * Cells stream row-by-row (constant memory in rows); sharedStrings is
  * the only fully materialized part, as in every streaming xlsx reader.
  */
object XlsxParser {

  sealed trait CellValue
  case class XString(s: String) extends CellValue
  /** A numeric cell; `isDate` means its style carries a date number
    * format, which is the ONLY way OOXML distinguishes dates. */
  case class XNumber(d: Double, isDate: Boolean) extends CellValue
  case class XBool(b: Boolean) extends CellValue
  /** ISO-8601 date cell (t="d", rare). */
  case class XIsoDate(iso: String) extends CellValue
  case object XBlank extends CellValue

  case class SheetInfo(name: String, partName: String)
  case class Workbook(sheets: Seq[SheetInfo], date1904: Boolean)

  /** `hasAnyCell` is true when the row had ANY valued cell BEFORE column
    * pruning — required so `count(*)` under full pruning still sees every
    * row. */
  case class Row(rowIndex: Int, cells: Array[(Int, CellValue)], hasAnyCell: Boolean)

  /** Highest column a worksheet may address (`XFD`, 0-based). */
  final val MaxCol = 16383

  /** "B3" → 0-based column 1; -1 unless `ref` is 1–3 letters (either
    * case) then digits, naming a column up to `XFD`. */
  def colOf(ref: String): Int = {
    val b = ref.getBytes(StandardCharsets.UTF_8)
    refColumn(b, 0, b.length)
  }

  private[xlsx] def refColumn(b: Array[Byte], off: Int, len: Int): Int = {
    var i = off
    val end = off + len
    var c = 0
    while (i < end && i - off < 4 && ((b(i) | 0x20) >= 'a' && (b(i) | 0x20) <= 'z')) {
      c = c * 26 + ((b(i) | 0x20) - 'a' + 1); i += 1
    }
    val letters = i - off
    if (letters < 1 || letters > 3 || i == end) return -1
    while (i < end) { if (b(i) < '0' || b(i) > '9') return -1; i += 1 }
    if (c - 1 > MaxCol) -1 else c - 1
  }

  private val RelationshipTag = XmlTokens.name("Relationship")
  private val IdAttr = XmlTokens.name("Id")
  private val TargetAttr = XmlTokens.name("Target")
  private val WorkbookPrTag = XmlTokens.name("workbookPr")
  private val Date1904Attr = XmlTokens.name("date1904")
  private val SheetTag = XmlTokens.name("sheet")
  private val NameAttr = XmlTokens.name("name")
  private val IdLocal = XmlTokens.name("id")
  private val SiTag = XmlTokens.name("si")
  private val TTag = XmlTokens.name("t")
  private val NumFmtTag = XmlTokens.name("numFmt")
  private val NumFmtIdAttr = XmlTokens.name("numFmtId")
  private val FormatCodeAttr = XmlTokens.name("formatCode")
  private val CellXfsTag = XmlTokens.name("cellXfs")
  private val XfTag = XmlTokens.name("xf")

  def parseWorkbook(zip: ZipFile): Workbook = {
    // rId -> target from workbook rels
    val rels = scala.collection.mutable.Map[String, String]()
    if (zip.getEntry("xl/_rels/workbook.xml.rels") != null) {
      XmlTokens.withPart(zip, "xl/_rels/workbook.xml.rels") { r =>
        var t = r.next()
        while (t != XmlTokens.Eof) {
          if (t == XmlTokens.Start && r.nameIs(RelationshipTag)) {
            val id = r.attrString(IdAttr)
            val target = r.attrString(TargetAttr)
            if (id != null && target != null)
              rels(id) = if (target.startsWith("/")) target.drop(1)
                         else if (target.startsWith("xl/")) target
                         else "xl/" + target
          }
          t = r.next()
        }
      }
    }
    val sheets = ArrayBuffer[SheetInfo]()
    var date1904 = false
    XmlTokens.withPart(zip, "xl/workbook.xml") { r =>
      var t = r.next()
      while (t != XmlTokens.Eof) {
        if (t == XmlTokens.Start) {
          if (r.nameIs(WorkbookPrTag)) {
            val v = r.attrString(Date1904Attr)
            date1904 = v != null && (v == "1" || v.equalsIgnoreCase("true"))
          } else if (r.nameIs(SheetTag)) {
            val name = r.attrString(NameAttr)
            val rid = Option(r.attrString(IdLocal))
            val part = rid.flatMap(rels.get).getOrElse(s"xl/worksheets/sheet${sheets.size + 1}.xml")
            sheets += SheetInfo(name, part)
          }
        }
        t = r.next()
      }
    }
    Workbook(sheets.toSeq, date1904)
  }

  def parseSharedStrings(zip: ZipFile): Array[String] = {
    if (zip.getEntry("xl/sharedStrings.xml") == null) return Array.empty
    val out = ArrayBuffer[String]()
    XmlTokens.withPart(zip, "xl/sharedStrings.xml") { r =>
      val sb = new ByteSink(256)
      var inSi = false
      var t = r.next()
      while (t != XmlTokens.Eof) {
        if (t == XmlTokens.Start) {
          if (r.nameIs(SiTag)) { inSi = true; sb.clear() }
          else if (inSi && r.nameIs(TTag)) r.elementText(sb)
        } else if (t == XmlTokens.End && r.nameIs(SiTag)) { inSi = false; out += sb.string }
        t = r.next()
      }
    }
    out.toArray
  }

  /** style index → is-date-format, from cellXfs numFmtIds. */
  def parseDateStyles(zip: ZipFile): Array[Boolean] = {
    if (zip.getEntry("xl/styles.xml") == null) return Array.empty
    val customFmts = scala.collection.mutable.Map[Int, String]()
    val xfFmtIds = ArrayBuffer[Int]()
    XmlTokens.withPart(zip, "xl/styles.xml") { r =>
      var inCellXfs = false
      var t = r.next()
      while (t != XmlTokens.Eof) {
        if (t == XmlTokens.Start) {
          if (r.nameIs(NumFmtTag)) {
            val id = Option(r.attrString(NumFmtIdAttr)).map(_.toInt)
            val code = r.attrString(FormatCodeAttr)
            if (id.isDefined && code != null) customFmts(id.get) = code
          } else if (r.nameIs(CellXfsTag)) inCellXfs = true
          else if (inCellXfs && r.nameIs(XfTag))
            xfFmtIds += Option(r.attrString(NumFmtIdAttr)).map(_.toInt).getOrElse(0)
        } else if (t == XmlTokens.End && r.nameIs(CellXfsTag)) inCellXfs = false
        t = r.next()
      }
    }
    xfFmtIds.map(id => isDateFormat(id, customFmts.get(id))).toArray
  }

  private val builtinDateIds: Set[Int] = ((14 to 22) ++ (45 to 47)).toSet

  def isDateFormat(numFmtId: Int, code: Option[String]): Boolean = {
    if (builtinDateIds.contains(numFmtId)) return true
    code match {
      case None => false
      case Some(fmt) =>
        // date letters count only outside [brackets] and "quoted" runs
        var inBracket = false; var inQuote = false; var i = 0; var hit = false
        while (i < fmt.length && !hit) {
          val ch = fmt.charAt(i)
          if (inQuote) { if (ch == '"') inQuote = false }
          else if (inBracket) { if (ch == ']') inBracket = false }
          else ch match {
            case '"' => inQuote = true
            case '[' => inBracket = true
            case '\\' => i += 1
            case 'y' | 'm' | 'd' | 'h' | 's' | 'Y' | 'M' | 'D' | 'H' | 'S' => hit = true
            case _ =>
          }
          i += 1
        }
        hit
    }
  }

  /** Pull-based row iterator over one worksheet part: each `next()`
    * advances the [[SheetCursor]] just far enough to complete one row, so
    * a consumer holds at most ONE row on heap regardless of sheet size
    * (the shared-strings pool is the only fully materialized part).
    * Malformed cells degrade or fail as [[SheetCursor]] documents. Close
    * (or exhaust) to release the stream.
    *
    * `wantCol` gates cell VALUE materialization for column pruning
    * (pruned cells are parsed structurally but their text is skipped). */
  final class RowIterator private[xlsx] (
      zip: ZipFile, partName: String, shared: Array[String],
      dateStyle: Array[Boolean], wantCol: Int => Boolean,
      failFast: Boolean = false, bufSize: Int = XmlTokens.DefaultBuffer)
      extends Iterator[Row] with AutoCloseable {

    private val cur = new SheetCursor(zip, partName, shared, dateStyle, wantCol, failFast, bufSize)
    private var closed = false
    private var pending: Row = _
    private val cells = ArrayBuffer[(Int, CellValue)]()

    /** Pulls until one row completes; sets `pending` (or closes at EOF). */
    private def advance(): Unit = {
      var ev = cur.advance()
      while (ev == SheetCursor.Cell) { cells += ((cur.col, cur.cellValue)); ev = cur.advance() }
      if (ev == SheetCursor.RowEnd) {
        pending = Row(cur.rowIndex, cells.toArray, cur.rowHasCell)
        cells.clear()
      } else close()
    }

    override def hasNext: Boolean = {
      if (pending == null && !closed) advance()
      pending != null
    }
    override def next(): Row = {
      if (!hasNext) throw new NoSuchElementException(s"end of $partName")
      val out = pending; pending = null; out
    }
    override def close(): Unit = if (!closed) { closed = true; cur.close() }
  }

  /** Open a pull-based iterator over one worksheet (see [[RowIterator]]). */
  def rowIterator(zip: ZipFile, partName: String, shared: Array[String],
                  dateStyle: Array[Boolean], wantCol: Int => Boolean,
                  failFast: Boolean = false): RowIterator =
    new RowIterator(zip, partName, shared, dateStyle, wantCol, failFast)

  /** Loop adapter over [[rowIterator]]: the callback sees each row once,
    * in document order. */
  def foreachRow(zip: ZipFile, partName: String, shared: Array[String],
                 dateStyle: Array[Boolean], wantCol: Int => Boolean)(f: Row => Unit): Unit = {
    val it = rowIterator(zip, partName, shared, dateStyle, wantCol)
    try while (it.hasNext) f(it.next()) finally it.close()
  }

  /** Excel serial number → epoch microseconds (UTC). 1900 system: base
    * 1899-12-30 for serials ≥ 61, base 1899-12-31 for serials < 61 — the
    * POI-style adjustment for Lotus's fictitious 1900-02-29 (serial 60),
    * so serials 1–59 map to 1900-01-01..1900-02-28 exactly as Excel
    * displays them. 1904 system: base 1904-01-01. */
  def serialToMicros(serial: Double, date1904: Boolean): Long = {
    // 25569 / 25568 / 24107 days before 1970-01-01 respectively.
    val baseDays =
      if (date1904) 24107L
      else if (serial < 61.0) 25568L
      else 25569L
    Math.round(serial * 86400e6) - baseDays * 86400000000L
  }
}

/** Cell-level pull decoder over one worksheet part: the single decode
  * loop behind [[XlsxParser.RowIterator]], schema inference and the
  * columnar scan. [[advance]] returns [[SheetCursor.Cell]] for each valued
  * cell of a wanted column (its value in the typed fields: no per-cell
  * object), [[SheetCursor.RowEnd]] at each `</row>`, and
  * [[SheetCursor.End]] at the end of the part.
  *
  * Malformed numeric text (shared-string index, style index, cell value,
  * row index) degrades to a blank cell / sequential row number, and a
  * malformed cell reference to the positional column, instead of failing
  * the task — same PERMISSIVE convention as [[TypeInference.convert]] —
  * unless `failFast` is set, in which case a malformed cell aborts the
  * scan with row/column context (the csv FAILFAST analogue).
  */
private[xlsx] final class SheetCursor(zip: ZipFile, partName: String, shared: Array[String],
                                      dateStyle: Array[Boolean], wantCol: Int => Boolean,
                                      failFast: Boolean, bufSize: Int = XmlTokens.DefaultBuffer) {
  import SheetCursor._
  import XlsxParser._

  private val tok = {
    require(zip.getEntry(partName) != null, s"missing worksheet part $partName")
    XmlTokens.open(zip, partName, bufSize)
  }
  private val numbers = new NumberText

  var rowIndex = -1
  var rowHasCell = false
  /** The current cell: column, kind and the payload field of that kind. */
  var col = 0
  var kind = Blank
  var num = 0.0
  var isDate = false
  var sharedIdx = 0
  var str: String = null
  var bool = false

  private var inRow = false
  private var nextCol = 0
  private var want = false
  private var cellType = TNum
  private var styled = false
  private var inV, inIs = false
  private var vSeen, isSeen = false
  private var vAny = false
  private val vText = new ByteSink(64)
  private val isText = new ByteSink(64)

  /** Pulls tokens until the next cell, row end or end of part. */
  def advance(): Int = {
    while (true) {
      val t = tok.next()
      if (t == XmlTokens.Text) {
        if (inV) {
          if (tok.textLength > 0) vAny = true
          if (want) tok.appendText(vText)
        }
      } else if (t == XmlTokens.Start) {
        val n = tok.nameLength
        val b0 = tok.nameByte(0)
        if (n == 1 && b0 == 'c') startCell()
        else if (n == 1 && b0 == 'v') { inV = true; vSeen = true; vAny = false; vText.clear() }
        else if (n == 3 && b0 == 'r' && tok.nameByte(1) == 'o' && tok.nameByte(2) == 'w') startRow()
        else if (n == 2 && b0 == 'i' && tok.nameByte(1) == 's') { inIs = true; isSeen = true; isText.clear() }
        else if (n == 1 && b0 == 't' && inIs) tok.elementText(isText)
      } else if (t == XmlTokens.End) {
        val n = tok.nameLength
        val b0 = tok.nameByte(0)
        if (n == 1 && b0 == 'c') { if (endCell()) return Cell }
        else if (n == 1 && b0 == 'v') inV = false
        else if (n == 3 && b0 == 'r' && tok.nameByte(1) == 'o' && tok.nameByte(2) == 'w') {
          inRow = false
          return RowEnd
        } else if (n == 2 && b0 == 'i' && tok.nameByte(1) == 's') inIs = false
      } else return End
    }
    End
  }

  /** The current cell as a [[XlsxParser.CellValue]] (allocates). */
  def cellValue: CellValue = kind match {
    case Num => XNumber(num, isDate)
    case Shared => XString(shared(sharedIdx))
    case Str => XString(str)
    case Bool => XBool(bool)
    case Iso => XIsoDate(str)
    case _ => XBlank
  }

  def close(): Unit = tok.close()
  def bufferCapacity: Int = tok.bufferCapacity

  private def startRow(): Unit = {
    inRow = true
    rowHasCell = false
    nextCol = 0
    val a = tok.attr(RAttr)
    rowIndex = if (a < 0) rowIndex + 1 else {
      val r = intAttr(a)
      if (r == Int.MinValue) rowIndex + 1 else r - 1
    }
  }

  private def startCell(): Unit = {
    var ref = -1; var typ = -1; var sty = -1
    var i = 0
    while (i < tok.attrCount) {
      if (tok.attrNameLength(i) == 1) tok.attrNameByte(i, 0) match {
        case 'r' => if (ref < 0) ref = i
        case 't' => if (typ < 0) typ = i
        case 's' => if (sty < 0) sty = i
        case _ =>
      }
      i += 1
    }
    col = if (ref < 0) nextCol else {
      tok.attrView(ref)
      val c = refColumn(tok.viewBytes, tok.viewStart, tok.viewEnd - tok.viewStart)
      if (c >= 0) c
      else if (failFast) throw new IllegalArgumentException(
        s"malformed cell reference '${tok.attrString(ref)}' at row ${rowIndex + 1}, column ${nextCol + 1} " +
          s"of $partName (mode=FAILFAST)")
      else nextCol
    }
    nextCol = col + 1
    cellType = if (typ < 0) TNum else { tok.attrView(typ); typeCode(tok.viewBytes, tok.viewStart, tok.viewEnd) }
    styled = sty >= 0 && {
      val si = intAttr(sty)
      si >= 0 && si < dateStyle.length && dateStyle(si)
    }
    want = wantCol(col)
  }

  /** Ends a `<c>`: records whether it was valued and, for a wanted cell,
    * decodes its value; true if it is a valued cell to hand out. */
  private def endCell(): Boolean = {
    if ((vSeen && vAny) || isSeen) rowHasCell = true
    kind = Blank
    if (want) {
      kind = cellType match {
        case TShared =>
          if (!vSeen) Blank
          else {
            val i = numbers.parseInt(vText.bytes, 0, vText.length, trim = true)
            if (i != Int.MinValue && i >= 0 && i < shared.length) { sharedIdx = i; Shared }
            else bad("shared-string reference")
          }
        case TInline => if (!isSeen) Blank else { str = isText.string; Str }
        case TStr => if (!vSeen) Blank else { str = vText.string; Str }
        case TBool => if (!vSeen) Blank else { bool = isOne(vText); Bool }
        case TError => Blank
        case TIso => if (!vSeen) Blank else { str = vText.string.trim; Iso }
        case _ =>
          if (!vSeen) Blank
          else if (numbers.parseDouble(vText.bytes, 0, vText.length)) { num = numbers.value; isDate = styled; Num }
          else bad("numeric cell")
      }
    }
    vSeen = false; isSeen = false
    kind != Blank && inRow
  }

  private def bad(what: String): Int =
    if (failFast)
      throw new IllegalArgumentException(
        s"malformed $what '${vText.string}' at row ${rowIndex + 1}, column ${col + 1} of $partName (mode=FAILFAST)")
    else Blank

  /** Attribute `i` as `toIntOption` reads it; Int.MinValue when absent. */
  private def intAttr(i: Int): Int = {
    tok.attrView(i)
    numbers.parseInt(tok.viewBytes, tok.viewStart, tok.viewEnd - tok.viewStart, trim = false)
  }

  private def isOne(t: ByteSink): Boolean = {
    var s = 0; var e = t.length
    while (s < e && (t.bytes(s) & 0xff) <= ' ') s += 1
    while (e > s && (t.bytes(e - 1) & 0xff) <= ' ') e -= 1
    e - s == 1 && t.bytes(s) == '1'
  }

  /** The `t` attribute value b[s, e) → its code; anything unknown is numeric. */
  private def typeCode(b: Array[Byte], s: Int, e: Int): Int = e - s match {
    case 1 => b(s) match {
      case 's' => TShared
      case 'b' => TBool
      case 'e' => TError
      case 'd' => TIso
      case _ => TNum
    }
    case 3 if b(s) == 's' && b(s + 1) == 't' && b(s + 2) == 'r' => TStr
    case 9 if new String(b, s, 9, StandardCharsets.ISO_8859_1) == "inlineStr" => TInline
    case _ => TNum
  }
}

private[xlsx] object SheetCursor {
  final val Cell = 1
  final val RowEnd = 2
  final val End = 3

  /** Cell kinds, each with its payload field on the cursor. */
  final val Blank = 0
  final val Num = 1    // num, isDate
  final val Shared = 2 // sharedIdx
  final val Str = 3    // str
  final val Bool = 4   // bool
  final val Iso = 5    // str (ISO-8601 date text)

  // the `t` attribute of a cell
  private final val TNum = 0
  private final val TShared = 1
  private final val TInline = 2
  private final val TStr = 3
  private final val TBool = 4
  private final val TError = 5
  private final val TIso = 6

  private val RAttr = XmlTokens.name("r")
}

/** Number text → values, bit-identical to `String.trim.toDoubleOption` /
  * `toIntOption` on the same text. Plain decimals with at most 15
  * significant digits and a decimal exponent within ±22 take Clinger's
  * fast path (one exact multiply or divide by an exact power of ten,
  * hence correctly rounded); everything else goes through the String
  * parse. */
private[xlsx] final class NumberText {
  import NumberText._

  /** The value of the last successful [[parseDouble]]. */
  var value = 0.0

  def parseDouble(b: Array[Byte], off: Int, len: Int): Boolean = {
    var s = off; var e = off + len
    while (s < e && (b(s) & 0xff) <= ' ') s += 1
    while (e > s && (b(e - 1) & 0xff) <= ' ') e -= 1
    if (s == e) return false
    var i = s
    val neg = b(i) == '-'
    if (neg || b(i) == '+') i += 1
    var mant = 0L
    var sig = 0
    var digits = 0
    var scale = 0
    while (i < e && b(i) >= '0' && b(i) <= '9') {
      val d = b(i) - '0'
      if (mant != 0 || d != 0) { sig += 1; if (sig <= MaxSig) mant = mant * 10 + d }
      digits += 1; i += 1
    }
    if (i < e && b(i) == '.') {
      i += 1
      while (i < e && b(i) >= '0' && b(i) <= '9') {
        val d = b(i) - '0'
        if (mant != 0 || d != 0) { sig += 1; if (sig <= MaxSig) mant = mant * 10 + d }
        digits += 1; scale -= 1; i += 1
      }
    }
    var exp = 0
    if (digits > 0 && i < e && (b(i) == 'e' || b(i) == 'E')) {
      i += 1
      val eneg = i < e && b(i) == '-'
      if (i < e && (b(i) == '-' || b(i) == '+')) i += 1
      val es = i
      while (i < e && b(i) >= '0' && b(i) <= '9' && i - es < 6) { exp = exp * 10 + (b(i) - '0'); i += 1 }
      if (i == es) return slow(b, s, e)
      if (eneg) exp = -exp
    }
    if (i != e || digits == 0 || sig > MaxSig) return slow(b, s, e)
    if (mant == 0) { value = if (neg) -0.0 else 0.0; return true }
    val e10 = scale + exp
    if (e10 < -MaxPow || e10 > MaxPow) return slow(b, s, e)
    val m = mant.toDouble
    val v = if (e10 >= 0) m * Pow10(e10) else m / Pow10(-e10)
    value = if (neg) -v else v
    true
  }

  private def slow(b: Array[Byte], s: Int, e: Int): Boolean =
    new String(b, s, e - s, StandardCharsets.UTF_8).trim.toDoubleOption match {
      case Some(d) => value = d; true
      case None => false
    }

  /** `toIntOption` of the text (trimmed first when `trim`); Int.MinValue
    * when it is not an Int. */
  def parseInt(b: Array[Byte], off: Int, len: Int, trim: Boolean): Int = {
    var s = off; var e = off + len
    if (trim) {
      while (s < e && (b(s) & 0xff) <= ' ') s += 1
      while (e > s && (b(e - 1) & 0xff) <= ' ') e -= 1
    }
    if (e - s >= 1 && e - s <= 9) {
      var v = 0
      var i = s
      while (i < e && b(i) >= '0' && b(i) <= '9') { v = v * 10 + (b(i) - '0'); i += 1 }
      if (i == e) return v
    }
    val str = new String(b, s, e - s, StandardCharsets.UTF_8)
    (if (trim) str.trim else str).toIntOption.getOrElse(Int.MinValue)
  }
}

private[xlsx] object NumberText {
  private final val MaxSig = 15
  private final val MaxPow = 22
  private val Pow10: Array[Double] = Array.tabulate(MaxPow + 1)(k => s"1e$k".toDouble)
}
