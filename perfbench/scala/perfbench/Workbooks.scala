package perfbench

import java.io.{File, FileOutputStream}
import java.nio.charset.StandardCharsets
import java.util.zip.{Deflater, ZipEntry, ZipFile, ZipOutputStream}
import scala.jdk.CollectionConverters._
import scala.util.Random
import graft.xlsx.XlsxWriter

/** Seeded workbook generator for the ETL workload.
  *
  * Workbooks are written with the engine's public [[XlsxWriter]], so they
  * carry shared strings, plain numbers, numFmt-styled dates, booleans and
  * blank cells. A fixed share of numeric cells is then made malformed: the
  * writer emits a sentinel number there and a post-pass rewrites its `<v>`
  * into text that is not a number, which the PERMISSIVE reader turns into
  * null. Every column also gets an order-independent checksum computed from
  * the generated values, which [[Check]] compares with the same aggregate
  * computed by DuckDB over the loaded table.
  */
object Workbooks {

  sealed trait Kind
  /** Non-null row key `id` (the key of the upsert probe). */
  case object Key extends Kind
  /** Number with two decimals. */
  case object Amount extends Kind
  /** Whole number. */
  case object Count extends Kind
  /** String from a small vocabulary: the shared-string pool stays small. */
  case object Label extends Kind
  /** Free text: mostly distinct shared strings. */
  case object Text extends Kind
  /** Whole-day timestamp written with a date number format. */
  case object Day extends Kind
  case object Flag extends Kind

  /** `blank`: share of null cells; `malformed`: share of cells written as
    * a malformed number (numeric kinds only). */
  case class Col(header: String, kind: Kind, blank: Double = 0.0, malformed: Double = 0.0) {
    /** Column name after the reader's sanitizer. */
    def name: String = graft.xlsx.TypeInference.sanitizeNames(Seq(header)).head
  }
  case class SheetSpec(name: String, cols: Seq[Col]) {
    def table: String = graft.etl.XlsxToDatabase.sanitizeTableName(name)
  }

  /** Generated rows of one sheet: `values(row)(col)`; a blank cell is null
    * and a malformed one holds the sentinel. Both must read back as null. */
  case class Rows(spec: SheetSpec, values: IndexedSeq[Array[Any]])

  /** Expected content of one table: row count plus per-column checksums. */
  case class Expected(table: String, rows: Long, sums: Seq[(Col, Long, Long)])

  private val Malformed = -1.23456789e-4 // never produced by the value generators
  private val MalformedText = "#VALUE!"
  private val Labels = Vector("north", "south", "east", "west", "central",
    "Ålesund", "São Paulo", "Zürich", "AT&T <b2b>", "ready \"now\"")
  private val Words = Vector("alpha", "bravo", "charlie", "delta", "echo", "foxtrot",
    "golf", "hotel", "india", "juliet", "kilo", "lima", "mike", "november")
  private val DayMs = 86400000L
  private val FirstDay = 18262L // 2020-01-01

  val Orders = SheetSpec("Orders", Seq(
    Col("ID", Key), Col("Customer", Label), Col("Amount", Amount, 0.02, 0.01),
    Col("Quantity", Count, 0.0, 0.01), Col("Placed", Day, 0.03), Col("Paid", Flag, 0.05),
    Col("Note", Text, 0.3), Col("Region", Label, 0.01), Col("Discount", Amount, 0.4),
    Col("Tax", Amount, 0.0, 0.01), Col("Shipped", Day, 0.2), Col("Priority", Count)))
  val LineItems = SheetSpec("Line Items", Seq(
    Col("ID", Key), Col("Order ID", Count), Col("Product", Text, 0.0),
    Col("Unit Price", Amount, 0.0, 0.01), Col("Units", Count, 0.05), Col("Returned", Flag, 0.1)))
  val Events = SheetSpec("Events", Seq(Col("ID", Key), Col("Kind", Label), Col("At", Day)))

  /** Rows of `spec` for the given keys; everything else is drawn from `rnd`. */
  def rows(spec: SheetSpec, keys: IndexedSeq[Long], rnd: Random): Rows =
    Rows(spec, keys.map(k => spec.cols.map(c => cell(c, k, rnd)).toArray))

  private def cell(c: Col, key: Long, rnd: Random): Any = {
    val u = rnd.nextDouble()
    if (u < c.blank) null
    else if (u < c.blank + c.malformed) Malformed
    else c.kind match {
      case Amount => (rnd.nextInt(2000000) - 500000) / 100.0
      case Count => rnd.nextInt(100000).toDouble
      case Label => Labels(rnd.nextInt(Labels.size))
      case Text => Seq.fill(2 + rnd.nextInt(5))(Words(rnd.nextInt(Words.size))).mkString(" ") +
        " #" + rnd.nextInt(1000000)
      case Day => new java.sql.Timestamp((FirstDay + rnd.nextInt(2000)) * DayMs)
      case Flag => rnd.nextBoolean()
      case Key => key.toDouble
    }
  }

  /** Writes `sheets` into one workbook at `path`, then turns the sentinel
    * cells into malformed numbers. */
  def write(path: File, sheets: Seq[Rows]): Unit = {
    val raw = new File(path.getPath + ".raw")
    XlsxWriter.write(raw.getPath, sheets.map(r =>
      XlsxWriter.Sheet(r.spec.name, r.spec.cols.map(_.header), r.values.map(_.toSeq))))
    corrupt(raw, path)
    require(raw.delete(), s"cannot delete $raw")
  }

  private def corrupt(in: File, out: File): Unit = {
    val zin = new ZipFile(in)
    val zout = new ZipOutputStream(new FileOutputStream(out))
    zout.setLevel(Deflater.BEST_SPEED) // the reader inflates at any level; this keeps set-up short
    val sentinel = s"<v>${Malformed.toString}</v>"
    try zin.entries().asScala.foreach { e =>
      val bytes = zin.getInputStream(e).readAllBytes()
      val body =
        if (!e.getName.startsWith("xl/worksheets/")) bytes
        else new String(bytes, StandardCharsets.UTF_8)
          .replace(sentinel, s"<v>$MalformedText</v>").getBytes(StandardCharsets.UTF_8)
      zout.putNextEntry(new ZipEntry(e.getName))
      zout.write(body)
      zout.closeEntry()
    } finally { zin.close(); zout.close() }
  }

  /** Checksums of `rows` as loaded: count of non-null values plus an exact
    * integer sum per column (see [[Check.sumExpr]] for the SQL side). */
  def expected(rows: Rows): Expected = {
    val sums = rows.spec.cols.zipWithIndex.map { case (c, i) =>
      var n = 0L; var s = 0L
      rows.values.foreach { r =>
        val v = r(i)
        if (v != null && v != Malformed) {
          n += 1
          s += (v match {
            case d: Double => math.round(d * 100)
            case str: String => str.length.toLong
            case t: java.sql.Timestamp => t.getTime / DayMs
            case b: Boolean => if (b) 1L else 0L
            case other => throw new IllegalStateException(s"unexpected cell $other")
          })
        }
      }
      (c, n, s)
    }
    Expected(rows.spec.table, rows.values.size.toLong, sums)
  }
}
