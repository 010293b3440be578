package graft.xlsx

import java.io.InputStream
import java.util.zip.ZipFile
import javax.xml.stream.{XMLInputFactory, XMLStreamConstants, XMLStreamReader}
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.types._
import XlsxParser._

/** Test-only oracle: the JDK StAX worksheet reader the byte-level
  * tokenizer replaced, kept verbatim in behaviour (row iterator, shared
  * strings, date styles) plus the row-at-a-time conversion the columnar
  * reader used to run per row. `XlsxDecoderSpec` diffs the production
  * decoder against it. */
object StaxOracle {
  private def factory: XMLInputFactory = {
    val f = XMLInputFactory.newInstance()
    f.setProperty(XMLInputFactory.IS_COALESCING, java.lang.Boolean.TRUE)
    f.setProperty(XMLInputFactory.SUPPORT_DTD, java.lang.Boolean.FALSE)
    f.setProperty(XMLInputFactory.IS_SUPPORTING_EXTERNAL_ENTITIES, java.lang.Boolean.FALSE)
    f
  }

  private def withReader[A](in: InputStream)(f: XMLStreamReader => A): A = {
    val r = factory.createXMLStreamReader(in)
    try f(r) finally { r.close(); in.close() }
  }

  def colOf(ref: String): Int = {
    var c = 0
    var i = 0
    while (i < ref.length && ref.charAt(i).isLetter) {
      c = c * 26 + (ref.charAt(i).toUpper - 'A' + 1); i += 1
    }
    c - 1
  }

  def parseSharedStrings(zip: ZipFile): Array[String] = {
    val e = zip.getEntry("xl/sharedStrings.xml")
    if (e == null) return Array.empty
    val out = ArrayBuffer[String]()
    withReader(zip.getInputStream(e)) { r =>
      var inSi = false
      var sb: StringBuilder = null
      while (r.hasNext) {
        r.next() match {
          case XMLStreamConstants.START_ELEMENT if r.getLocalName == "si" =>
            inSi = true; sb = new StringBuilder
          case XMLStreamConstants.START_ELEMENT if inSi && r.getLocalName == "t" =>
            sb.append(r.getElementText)
          case XMLStreamConstants.END_ELEMENT if r.getLocalName == "si" =>
            inSi = false; out += sb.toString
          case _ =>
        }
      }
    }
    out.toArray
  }

  def parseDateStyles(zip: ZipFile): Array[Boolean] = {
    val e = zip.getEntry("xl/styles.xml")
    if (e == null) return Array.empty
    val customFmts = scala.collection.mutable.Map[Int, String]()
    val xfFmtIds = ArrayBuffer[Int]()
    withReader(zip.getInputStream(e)) { r =>
      var inCellXfs = false
      while (r.hasNext) {
        r.next() match {
          case XMLStreamConstants.START_ELEMENT => r.getLocalName match {
            case "numFmt" =>
              val id = Option(r.getAttributeValue(null, "numFmtId")).map(_.toInt)
              val code = r.getAttributeValue(null, "formatCode")
              if (id.isDefined && code != null) customFmts(id.get) = code
            case "cellXfs" => inCellXfs = true
            case "xf" if inCellXfs =>
              xfFmtIds += Option(r.getAttributeValue(null, "numFmtId")).map(_.toInt).getOrElse(0)
            case _ =>
          }
          case XMLStreamConstants.END_ELEMENT if r.getLocalName == "cellXfs" => inCellXfs = false
          case _ =>
        }
      }
    }
    xfFmtIds.map(id => isDateFormat(id, customFmts.get(id))).toArray
  }

  /** The StAX row iterator, unchanged. */
  final class RowIterator(
      zip: ZipFile, partName: String, shared: Array[String],
      dateStyle: Array[Boolean], wantCol: Int => Boolean,
      failFast: Boolean = false)
      extends Iterator[Row] with AutoCloseable {

    private def bad(what: String, value: String): CellValue =
      if (failFast)
        throw new IllegalArgumentException(
          s"malformed $what '$value' at row ${rowIdx + 1}, column ${cellCol + 1} of $partName (mode=FAILFAST)")
      else XBlank

    private val in: InputStream = {
      val entry = zip.getEntry(partName)
      require(entry != null, s"missing worksheet part $partName")
      zip.getInputStream(entry)
    }
    private val r: XMLStreamReader = factory.createXMLStreamReader(in)
    private var closed = false
    private var pending: Row = _

    private var cells = ArrayBuffer[(Int, CellValue)]()
    private var rowHasCell = false
    private var rowIdx = -1
    private var nextCol = 0
    private var cellCol = 0
    private var cellType: String = null
    private var cellStyled = false
    private var inV = false
    private var inIs = false
    private var text: StringBuilder = null
    private var isText: StringBuilder = null

    private def advance(): Unit = {
      while (pending == null && !closed && r.hasNext) {
        r.next() match {
          case XMLStreamConstants.START_ELEMENT => r.getLocalName match {
            case "row" =>
              cells = ArrayBuffer()
              rowHasCell = false
              nextCol = 0
              rowIdx = Option(r.getAttributeValue(null, "r"))
                .flatMap(_.toIntOption).map(_ - 1).getOrElse(rowIdx + 1)
            case "c" =>
              val ref = r.getAttributeValue(null, "r")
              cellCol = if (ref != null) colOf(ref) else nextCol
              nextCol = cellCol + 1
              cellType = Option(r.getAttributeValue(null, "t")).getOrElse("n")
              cellStyled = Option(r.getAttributeValue(null, "s"))
                .flatMap(_.toIntOption)
                .exists(si => si >= 0 && si < dateStyle.length && dateStyle(si))
            case "v" => inV = true; text = new StringBuilder
            case "is" => inIs = true; isText = new StringBuilder
            case "t" if inIs => isText.append(r.getElementText)
            case _ =>
          }
          case XMLStreamConstants.CHARACTERS | XMLStreamConstants.CDATA if inV =>
            text.append(r.getText)
          case XMLStreamConstants.END_ELEMENT => r.getLocalName match {
            case "v" => inV = false
            case "is" => inIs = false
            case "c" =>
              if ((text != null && text.nonEmpty) || isText != null) rowHasCell = true
              if (wantCol(cellCol)) {
                val v: CellValue = cellType match {
                  case "s" =>
                    if (text == null) XBlank
                    else text.toString.trim.toIntOption match {
                      case Some(i) if i >= 0 && i < shared.length => XString(shared(i))
                      case _ => bad("shared-string reference", text.toString)
                    }
                  case "inlineStr" => if (isText == null) XBlank else XString(isText.toString)
                  case "str" => if (text == null) XBlank else XString(text.toString)
                  case "b" => if (text == null) XBlank else XBool(text.toString.trim == "1")
                  case "e" => XBlank
                  case "d" => if (text == null) XBlank else XIsoDate(text.toString.trim)
                  case _ =>
                    if (text == null) XBlank
                    else text.toString.trim.toDoubleOption match {
                      case Some(d) => XNumber(d, cellStyled)
                      case None => bad("numeric cell", text.toString)
                    }
                }
                if (v != XBlank) cells += ((cellCol, v))
              }
              text = null; isText = null
            case "row" =>
              pending = Row(rowIdx, cells.toArray, rowHasCell)
            case _ =>
          }
          case _ =>
        }
      }
      if (pending == null) close()
    }

    override def hasNext: Boolean = {
      if (pending == null && !closed) advance()
      pending != null
    }
    override def next(): Row = {
      if (!hasNext) throw new NoSuchElementException(s"end of $partName")
      val out = pending; pending = null; out
    }
    override def close(): Unit = if (!closed) {
      closed = true
      try r.close() finally in.close()
    }
  }

  /** The rows the columnar scan must produce, computed the way the
    * row-at-a-time reader did: header/banner skipping on valued rows,
    * last-cell-wins scatter, [[TypeInference.convert]] per required
    * column, FAILFAST on a non-convertible cell, then the pushed-filter
    * predicate `keep` and the row limit. Values are Spark-internal,
    * strings as Java strings. */
  def scan(path: String, fullSchema: StructType, required: StructType,
           headerRow: Boolean, skipRows: Int, failFast: Boolean, limit: Int,
           keep: Seq[Any] => Boolean): Seq[Seq[Any]] = {
    val zip = new ZipFile(path)
    try {
      val wb = XlsxParser.parseWorkbook(zip)
      val requiredIdx = required.fields.map(f => fullSchema.fieldIndex(f.name))
      val wanted = requiredIdx.toSet
      val rows = new RowIterator(zip, wb.sheets.head.partName, parseSharedStrings(zip),
        parseDateStyles(zip), wanted.contains, failFast)
      val out = ArrayBuffer[Seq[Any]]()
      var headerSkipped = !headerRow
      var toSkip = skipRows
      try while ((limit < 0 || out.size < limit) && rows.hasNext) {
        val row = rows.next()
        if (row.hasAnyCell) {
          if (toSkip > 0) toSkip -= 1
          else if (!headerSkipped) headerSkipped = true
          else {
            val m = row.cells.toMap
            val vals = requiredIdx.toSeq.map { col =>
              val dt = fullSchema.fields(col).dataType
              val cv = m.getOrElse(col, XBlank)
              TypeInference.convert(cv, dt, wb.date1904) match {
                case null if failFast && cv != XBlank =>
                  throw new IllegalArgumentException(s"cell $cv is not convertible to $dt")
                case other => other
              }
            }
            if (keep(vals)) out += vals
          }
        }
      } finally rows.close()
      out.toSeq
    } finally zip.close()
  }
}
