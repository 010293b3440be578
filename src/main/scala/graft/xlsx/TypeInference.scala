package graft.xlsx

import java.util.zip.ZipFile
import org.apache.spark.sql.types._
import XlsxParser._

/** Header detection, column-name sanitization and two-phase type
  * inference for xlsx sheets — CSV-reader-style: a driver-side sampling
  * pass decides the schema, the executor pass converts with it.
  */
object TypeInference {

  /** Inference result. Row skipping at SCAN time is driven entirely by
    * `XlsxDataSource.Opts` (headerRow/skipRows) in the reader — this
    * result carries only what the scan cannot re-derive per file. */
  case class SheetSchema(schema: StructType)

  /** Sanitize to a sql-friendly identifier; dedup with _2, _3… suffixes. */
  def sanitizeNames(raw: Seq[String]): Seq[String] = {
    val seen = scala.collection.mutable.Map[String, Int]()
    raw.map { r =>
      val base0 = r.trim.toLowerCase.replaceAll("[^a-z0-9_]+", "_")
        .replaceAll("^_+|_+$", "")
      val base1 = if (base0.isEmpty) "col" else base0
      val base = if (base1.head.isDigit) "_" + base1 else base1
      seen.get(base) match {
        case None => seen(base) = 1; base
        case Some(n) => seen(base) = n + 1; s"${base}_${n + 1}"
      }
    }
  }

  private final class ColStat {
    var nNum, nDate, nBool, nStr, n = 0
    def dataType: DataType =
      if (n == 0) StringType
      else if (nStr > 0) StringType
      else if (nBool == n) BooleanType
      else if (nDate == n) TimestampType
      else if (nNum + nDate == n) DoubleType // mixed dated/plain numbers → double
      else StringType
  }

  /** One streaming pass over the sheet's prefix: finds the header row,
    * column count, and per-column types from the first `sampleRows` data
    * rows, then stops reading — rows past the sample are never parsed, so
    * inference costs the sample, not the sheet. */
  def infer(zip: ZipFile, partName: String, shared: Array[String],
            dateStyle: Array[Boolean], headerRow: Boolean, inferTypes: Boolean,
            sampleRows: Int = 10000, skipRows: Int = 0): SheetSchema = {
    var header: Option[Array[(Int, CellValue)]] = None
    var maxCol = -1
    val stats = scala.collection.mutable.ArrayBuffer[ColStat]()
    var dataRows = 0
    var toSkip = skipRows

    def sampled = dataRows == sampleRows && (header.isDefined || !headerRow)
    val rows = rowIterator(zip, partName, shared, dateStyle, _ => true)
    try while (!sampled && rows.hasNext) {
      val row = rows.next()
      if (row.hasAnyCell && toSkip > 0) toSkip -= 1 // pre-header banner rows
      else if (row.hasAnyCell && dataRows <= sampleRows) {
        // cells can be empty even when hasAnyCell (all-error cells, bad
        // shared-string refs): maxOption keeps such rows from failing
        // inference — they contribute no columns.
        if (headerRow && header.isEmpty) {
          header = Some(row.cells)
          maxCol = math.max(maxCol, row.cells.map(_._1).maxOption.getOrElse(-1))
        } else if (dataRows < sampleRows) {
          dataRows += 1
          maxCol = math.max(maxCol, row.cells.map(_._1).maxOption.getOrElse(-1))
          while (stats.size <= maxCol) stats += new ColStat
          row.cells.foreach { case (c, v) =>
            val st = stats(c)
            st.n += 1
            v match {
              case XNumber(_, true) => st.nDate += 1
              case XNumber(_, false) => st.nNum += 1
              case XBool(_) => st.nBool += 1
              case XIsoDate(_) => st.nDate += 1
              case XString(_) => st.nStr += 1
              case XBlank =>
            }
          }
        }
      }
    } finally rows.close()

    val nCols = maxCol + 1
    while (stats.size < nCols) stats += new ColStat
    val rawNames: Seq[String] = header match {
      case Some(cells) =>
        val m = cells.toMap
        (0 until nCols).map(i => m.get(i) match {
          case Some(XString(s)) => s
          case Some(XNumber(d, _)) => if (d == math.floor(d)) d.toLong.toString else d.toString
          case Some(XBool(b)) => b.toString
          case _ => s"col_$i"
        })
      case None => (0 until nCols).map(i => s"col_$i")
    }
    val names = sanitizeNames(rawNames)
    val types = (0 until nCols).map(i => if (inferTypes) stats(i).dataType else StringType)
    val schema = StructType(names.zip(types).map { case (n0, t) => StructField(n0, t, nullable = true) })
    SheetSchema(schema)
  }

  /** Convert a parsed cell to the target Spark type (null if incompatible
    * — permissive, like csv's PERMISSIVE mode). */
  def convert(v: CellValue, dt: DataType, date1904: Boolean): Any = (v, dt) match {
    case (XBlank, _) => null
    case (XString(s), StringType) => s
    case (XString(s), DoubleType) => try s.trim.toDouble catch { case _: Exception => null }
    case (XString(s), BooleanType) =>
      val t = s.trim.toLowerCase
      if (t == "true" || t == "1") true else if (t == "false" || t == "0") false else null
    case (XString(s), TimestampType) =>
      try {
        val i = java.time.Instant.parse(if (s.contains("T")) s else s + "T00:00:00Z")
        i.getEpochSecond * 1000000L + i.getNano / 1000
      } catch { case _: Exception => null }
    case (XNumber(d, _), DoubleType) => d
    case (XNumber(d, _), TimestampType) => serialToMicros(d, date1904)
    case (XNumber(d, _), StringType) =>
      if (d == math.floor(d) && math.abs(d) < 1e15) d.toLong.toString else d.toString
    case (XBool(b), BooleanType) => b
    case (XBool(b), StringType) => b.toString
    case (XIsoDate(s), TimestampType) =>
      try {
        val i = java.time.Instant.parse(if (s.contains("T")) s else s + "T00:00:00Z")
        i.getEpochSecond * 1000000L + i.getNano / 1000
      } catch { case _: Exception => null }
    case (XIsoDate(s), StringType) => s
    case _ => null
  }
}
