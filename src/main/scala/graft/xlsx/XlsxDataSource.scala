package graft.xlsx

import java.util
import java.util.zip.ZipFile
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import scala.jdk.CollectionConverters._

/** DataSource V2 xlsx reader: `spark.read.format("xlsx")
  * .option("sheet", name).option("headerRow", true)
  * .option("inferSchema", true).load(path)`.
  *
  * - One `InputPartition` per FILE: a worksheet's XML is one deflate
  *   stream and is not splittable, so the parallelism unit at scale is
  *   the file (a 100 TB xlsx corpus is many files; Spark schedules one
  *   task per file and the scan stays embarrassingly parallel — same
  *   contract as gzip'd CSV/JSON).
  * - Column pruning is pushed down (`SupportsPushDownRequiredColumns`):
  *   pruned cells are tokenized but never decoded or copied
  *   ([[SheetCursor]]).
  * - Schema inference is a driver-side sampling pass over the first file
  *   (csv-style two-phase read); pass an explicit schema to skip it.
  *
  * Options: `sheet` (name), `sheetIndex` (0-based position, used when
  * `sheet` is absent; default = first sheet), `headerRow` (default
  * true), `inferSchema` (default true), `sampleRows` (default 10000),
  * `mode` (PERMISSIVE default: malformed cells → null; FAILFAST: abort
  * with row/column context),
  * `maxFilesPerTrigger` (streaming only: cap each micro-batch to N new
  * workbooks, like Spark's file sources; default unbounded),
  * `skipRows` (default 0: non-empty rows to discard BEFORE the header
  * row — title banners and the extra rows of a multi-row header; the
  * `headerRow` option then applies to the first surviving row).
  *
  * Documented corner-case semantics (each pinned by a test):
  *  - MERGED CELLS: OOXML stores a merged region's value in the anchor
  *    (top-left) cell only; the other cells of the region are absent or
  *    empty in sheetData. The scan reads what is stored — anchor value,
  *    nulls elsewhere — it does NOT replicate the value across the
  *    region (matching every streaming xlsx→table reader).
  *  - FORMULA CELLS: a `<c>` carrying `<f>` keeps its CACHED `<v>`
  *    result; the scan reads the cached value and never re-evaluates
  *    the formula. A formula whose result was not cached by the
  *    producing application reads as null.
  *  - MULTI-ROW HEADERS are not merged into compound column names; use
  *    `skipRows` to drop the banner rows and keep the one real header.
  */
class XlsxDataSource extends TableProvider with DataSourceRegister
    with org.apache.spark.sql.sources.CreatableRelationProvider {
  override def shortName(): String = "xlsx"
  override def supportsExternalMetadata(): Boolean = true

  private def files(options: CaseInsensitiveStringMap): Seq[String] = {
    val path = Option(options.get("path")).getOrElse(
      throw new IllegalArgumentException("xlsx source requires a path"))
    val f = new java.io.File(path)
    if (f.isDirectory)
      f.listFiles().filter(_.getName.toLowerCase.endsWith(".xlsx")).map(_.getPath).sorted.toSeq
    else if (f.isFile) Seq(path)
    else Seq.empty // fresh write target: no schema to infer yet
  }

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val fs = files(options)
    if (fs.isEmpty) new StructType() // write to a fresh dir; see XlsxSink
    else XlsxDataSource.inferFromFirstFile(fs, options).schema
  }

  /** V1 write hook: `df.write.format("xlsx").save(dir)` lands here (the
    * V2 table deliberately stays read-only — see [[XlsxSink]] for why). */
  override def createRelation(ctx: org.apache.spark.sql.SQLContext,
                              mode: org.apache.spark.sql.SaveMode,
                              parameters: Map[String, String],
                              data: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.sources.BaseRelation = {
    val path = parameters.getOrElse("path",
      throw new IllegalArgumentException("xlsx sink requires a path"))
    val sheet = parameters.getOrElse("sheet", "Sheet1")
    XlsxSink.write(data, path, mode, sheet)
    new org.apache.spark.sql.sources.BaseRelation {
      override def sqlContext: org.apache.spark.sql.SQLContext = ctx
      override def schema: StructType = data.schema
    }
  }

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table = {
    val options = new CaseInsensitiveStringMap(properties)
    new XlsxTable(schema, files(options), options)
  }
}

object XlsxDataSource {
  case class Opts(sheet: Option[String], sheetIndex: Option[Int],
                  headerRow: Boolean, inferTypes: Boolean, sampleRows: Int,
                  failFast: Boolean,
                  maxFilesPerTrigger: Option[Int] = None,
                  skipRows: Int = 0)

  def opts(o: CaseInsensitiveStringMap): Opts = Opts(
    Option(o.get("sheet")),
    Option(o.get("sheetIndex")).map(_.toInt),
    o.getBoolean("headerRow", true),
    o.getBoolean("inferSchema", true),
    Option(o.get("sampleRows")).map(_.toInt).getOrElse(10000),
    Option(o.get("mode")).map(_.toUpperCase).getOrElse("PERMISSIVE") match {
      case "FAILFAST" => true
      case "PERMISSIVE" => false
      case other => throw new IllegalArgumentException(
        s"xlsx mode must be PERMISSIVE or FAILFAST, got '$other'")
    },
    Option(o.get("maxFilesPerTrigger")).map { v =>
      val n = v.toInt
      require(n > 0, s"maxFilesPerTrigger must be positive, got $n")
      n
    },
    skipRows = Option(o.get("skipRows")).map(_.toInt).map { n =>
      require(n >= 0, s"skipRows must be non-negative, got $n")
      n
    }.getOrElse(0))

  /** Sheet selection: by name, else by 0-based index, else the first. */
  def resolveSheet(wb: XlsxParser.Workbook, o: Opts): XlsxParser.SheetInfo =
    (o.sheet, o.sheetIndex) match {
      case (Some(n), _) => wb.sheets.find(_.name == n).getOrElse(
        throw new IllegalArgumentException(s"no sheet named '$n'; have ${wb.sheets.map(_.name).mkString(", ")}"))
      case (None, Some(i)) =>
        if (i >= 0 && i < wb.sheets.length) wb.sheets(i)
        else throw new IllegalArgumentException(
          s"sheetIndex $i out of range; workbook has ${wb.sheets.length} sheets")
      case (None, None) => wb.sheets.headOption.getOrElse(
        throw new IllegalArgumentException("workbook has no sheets"))
    }

  def inferFromFirstFile(paths: Seq[String], options: CaseInsensitiveStringMap): TypeInference.SheetSchema = {
    val o = opts(options)
    val zip = new ZipFile(paths.head)
    try {
      val wb = XlsxParser.parseWorkbook(zip)
      val sheet = resolveSheet(wb, o)
      TypeInference.infer(zip, sheet.partName, XlsxParser.parseSharedStrings(zip),
        XlsxParser.parseDateStyles(zip), o.headerRow, o.inferTypes,
        o.sampleRows, o.skipRows)
    } finally zip.close()
  }
}

class XlsxTable(tblSchema: StructType, paths: Seq[String], options: CaseInsensitiveStringMap)
    extends Table with SupportsRead {
  override def name(): String = s"xlsx(${paths.mkString(",")})"
  override def schema(): StructType = tblSchema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(caseInsensitiveOptions: CaseInsensitiveStringMap): ScanBuilder = {
    val dir = Option(caseInsensitiveOptions.get("path"))
      .map(new java.io.File(_)).filter(_.isDirectory).map(_.getPath)
    new XlsxScanBuilder(tblSchema, paths, XlsxDataSource.opts(options), dir)
  }
}

class XlsxScanBuilder(fullSchema: StructType, paths: Seq[String], o: XlsxDataSource.Opts,
                      streamDir: Option[String] = None)
    extends ScanBuilder with SupportsPushDownRequiredColumns
    with org.apache.spark.sql.connector.read.SupportsPushDownFilters
    with org.apache.spark.sql.connector.read.SupportsPushDownLimit {
  private var required: StructType = fullSchema
  private var pushed: Array[org.apache.spark.sql.sources.Filter] = Array.empty
  private var limit: Int = -1
  override def pruneColumns(requiredSchema: StructType): Unit = {
    // preserve declaration order of the full schema
    val keep = requiredSchema.fieldNames.toSet
    required = StructType(fullSchema.fields.filter(f => keep.contains(f.name)))
  }
  /** Opportunistic pushdown: rows failing a supported predicate are
    * dropped inside the scan, but EVERY filter is also returned as
    * residual so Spark re-applies it — double evaluation is semantically
    * safe and keeps unsupported corner semantics exact. */
  override def pushFilters(filters: Array[org.apache.spark.sql.sources.Filter]): Array[org.apache.spark.sql.sources.Filter] = {
    pushed = filters.filter(XlsxFilterEval.supported(fullSchema, _))
    filters
  }
  override def pushedFilters(): Array[org.apache.spark.sql.sources.Filter] = pushed
  /** Limit pushdown: the pull-based reader simply stops inflating and
    * tokenizing the sheet after `limit` surviving rows — a LIMIT over a
    * huge workbook decodes only its prefix. Partial push (return false):
    * Spark still applies the global limit across partitions, each file
    * just refuses to produce more than `limit` rows. */
  override def pushLimit(n: Int): Boolean = { limit = n; false }
  override def build(): Scan = new XlsxScan(fullSchema, required, paths, o, pushed, limit, streamDir)
}

class XlsxScan(fullSchema: StructType, required: StructType, paths: Seq[String],
               o: XlsxDataSource.Opts,
               pushed: Array[org.apache.spark.sql.sources.Filter],
               limit: Int,
               streamDir: Option[String] = None) extends Scan with Batch
    with org.apache.spark.sql.connector.read.SupportsReportStatistics {
  override def readSchema(): StructType = required
  override def toBatch: Batch = this

  /** Size estimate from the zip CENTRAL DIRECTORY's uncompressed entry
    * sizes (ZipEntry.getSize — recorded in the archive, no decompression
    * needed). Reporting it lets Catalyst auto-broadcast small workbook
    * dimension tables in joins (without stats a DSv2 scan defaults to
    * "huge" and every xlsx join would shuffle) — and, unlike a fixed
    * compressed×k guess, it cannot under-report a highly repetitive
    * sheet (deflate on sheet XML routinely exceeds 20×) and trigger a
    * broadcast OOM. For many-file scans only the first few archives are
    * opened; the rest extrapolate by compressed-byte ratio. */
  private lazy val estimatedBytes: Long = {
    val fallbackExpansion = 12L // only if an entry predates the size field
    val sample = paths.take(16)
    val sampleBytes = sample.map { p =>
      try {
        val zip = new ZipFile(p)
        try zip.entries().asScala.map { e =>
          if (e.getSize >= 0) e.getSize else e.getCompressedSize.max(0L) * fallbackExpansion
        }.sum
        finally zip.close()
      } catch {
        case _: Exception => new java.io.File(p).length() * fallbackExpansion
      }
    }.sum
    if (sample.size == paths.size) sampleBytes
    else {
      val sampleOnDisk = sample.map(new java.io.File(_).length()).sum.max(1L)
      val totalOnDisk = paths.map(new java.io.File(_).length()).sum
      (sampleBytes.toDouble / sampleOnDisk * totalOnDisk).toLong
    }
  }
  override def estimateStatistics(): org.apache.spark.sql.connector.read.Statistics =
    new org.apache.spark.sql.connector.read.Statistics {
      override val sizeInBytes: java.util.OptionalLong =
        java.util.OptionalLong.of(estimatedBytes)
      override val numRows: java.util.OptionalLong = java.util.OptionalLong.empty()
    }
  override def description(): String =
    s"XlsxScan paths=${paths.size} requiredColumns=[${required.fieldNames.mkString(",")}]" +
      s" PushedFilters=[${pushed.mkString(", ")}]" +
      (if (limit >= 0) s" PushedLimit=$limit" else "")
  override def planInputPartitions(): Array[InputPartition] =
    paths.map(p => XlsxInputPartition(p): InputPartition).toArray
  override def createReaderFactory(): PartitionReaderFactory =
    new XlsxReaderFactory(fullSchema, required, o, pushed, limit)
  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
    new XlsxMicroBatchStream(
      streamDir.getOrElse(throw new IllegalArgumentException(
        "streaming xlsx requires the path to be a DIRECTORY of .xlsx files")),
      fullSchema, required, o, pushed)
}

/** File-watching micro-batch stream: each trigger picks up workbooks that
  * appeared in the directory since the last committed offset — the
  * continuous version of the xlsx→database ETL (drop a workbook in the
  * folder, its rows flow to the sink on the next trigger).
  *
  * The offset is the sorted list of files already processed, serialized
  * as a SINGLE-LINE JSON array — Spark's OffsetSeqLog writes exactly one
  * line per source offset, so an offset containing a raw newline would
  * corrupt the checkpoint log on restart. Offsets grow with the file
  * count — fine for the workbook-drop use case this models (thousands of
  * files); a production file source compacts its seen-log the same way
  * Spark's own FileStreamSource does. Files are assumed immutable once
  * written (the same contract as Spark's file sources). */
class XlsxMicroBatchStream(dir: String, fullSchema: StructType, required: StructType,
                           o: XlsxDataSource.Opts,
                           pushed: Array[org.apache.spark.sql.sources.Filter])
    extends org.apache.spark.sql.connector.read.streaming.MicroBatchStream
    with org.apache.spark.sql.connector.read.streaming.SupportsAdmissionControl {
  import org.apache.spark.sql.connector.read.streaming.{Offset, ReadLimit, ReadMaxFiles}

  private case class FilesOffset(files: Seq[String]) extends Offset {
    override def json(): String = XlsxOffsets.toJson(files)
  }

  private def listFiles(): Seq[String] = {
    val fs = new java.io.File(dir).listFiles()
    if (fs == null) Seq.empty
    else fs.filter(f => f.isFile && f.getName.toLowerCase.endsWith(".xlsx"))
      .map(_.getPath).sorted.toSeq
  }

  override def initialOffset(): Offset = FilesOffset(Seq.empty)

  /** Admission control: `maxFilesPerTrigger` bounds each micro-batch to
    * N new workbooks (same contract as Spark's file sources) — without
    * it, a backlog of thousands of dropped files would land in ONE
    * batch, with batch duration and executor load unbounded by anything
    * the operator controls. The un-admitted remainder is picked up by
    * the following triggers. */
  override def getDefaultReadLimit: ReadLimit =
    o.maxFilesPerTrigger.map(ReadLimit.maxFiles).getOrElse(ReadLimit.allAvailable())
  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val seen = start.asInstanceOf[FilesOffset].files
    val fresh = listFiles().filterNot(seen.toSet)
    val admitted = limit match {
      case m: ReadMaxFiles => fresh.take(m.maxFiles)
      case _ => fresh
    }
    FilesOffset((seen ++ admitted).sorted)
  }
  // Spark routes triggers through the admission-control overload when
  // SupportsAdmissionControl is implemented; the legacy form must not be
  // silently reachable with the cap ignored
  override def latestOffset(): Offset = throw new IllegalStateException(
    "unreachable: admission-control latestOffset(start, limit) is implemented")
  override def deserializeOffset(json: String): Offset = FilesOffset(XlsxOffsets.parse(json))
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val seen = start.asInstanceOf[FilesOffset].files.toSet
    end.asInstanceOf[FilesOffset].files.filterNot(seen)
      .map(p => XlsxInputPartition(p): InputPartition).toArray
  }
  override def createReaderFactory(): PartitionReaderFactory =
    new XlsxReaderFactory(fullSchema, required, o, pushed)
}

/** Serializable row-level evaluator for the pushdown-supported subset of
  * source filters (string/double/boolean equality and comparisons, null
  * tests) against the reader's converted values. */
object XlsxFilterEval {
  import org.apache.spark.sql.sources._

  def supported(schema: StructType, f: Filter): Boolean = f match {
    case EqualTo(a, v) => comparable(schema, a, v)
    case GreaterThan(a, v) => comparable(schema, a, v)
    case GreaterThanOrEqual(a, v) => comparable(schema, a, v)
    case LessThan(a, v) => comparable(schema, a, v)
    case LessThanOrEqual(a, v) => comparable(schema, a, v)
    case IsNull(a) => schema.fieldNames.contains(a)
    case IsNotNull(a) => schema.fieldNames.contains(a)
    case And(l, r) => supported(schema, l) && supported(schema, r)
    case _ => false
  }

  private def comparable(schema: StructType, attr: String, v: Any): Boolean =
    schema.fields.exists(f => f.name == attr && (f.dataType match {
      case StringType | DoubleType | BooleanType | TimestampType => v != null
      case _ => false
    }))

  /** value: internal representation (UTF8String/Double/Boolean/Long
    * timestamp-micros) or null. Timestamp filter literals arrive as
    * java.sql.Timestamp or java.time.Instant depending on the session's
    * Java-8-API setting; both convert exactly to micros. */
  private def cmp(value: Any, v: Any): Option[Int] = (value, v) match {
    case (null, _) => None
    case (s: org.apache.spark.unsafe.types.UTF8String, x: String) => Some(s.toString.compareTo(x))
    case (d: java.lang.Double, x: Number) => Some(java.lang.Double.compare(d, x.doubleValue()))
    case (b: java.lang.Boolean, x: Boolean) => Some(b.compareTo(x))
    case (l: java.lang.Long, x: java.sql.Timestamp) =>
      Some(java.lang.Long.compare(l,
        org.apache.spark.sql.catalyst.util.DateTimeUtils.fromJavaTimestamp(x)))
    case (l: java.lang.Long, x: java.time.Instant) =>
      Some(java.lang.Long.compare(l,
        org.apache.spark.sql.catalyst.util.DateTimeUtils.instantToMicros(x)))
    case _ => None
  }

  def eval(f: Filter, get: String => Any): Boolean = f match {
    case EqualTo(a, v) => cmp(get(a), v).contains(0)
    case GreaterThan(a, v) => cmp(get(a), v).exists(_ > 0)
    case GreaterThanOrEqual(a, v) => cmp(get(a), v).exists(_ >= 0)
    case LessThan(a, v) => cmp(get(a), v).exists(_ < 0)
    case LessThanOrEqual(a, v) => cmp(get(a), v).exists(_ <= 0)
    case IsNull(a) => get(a) == null
    case IsNotNull(a) => get(a) != null
    case And(l, r) => eval(l, get) && eval(r, get)
    case _ => true
  }
}

/** Serialization of the streaming source's seen-file offset — one LINE of
  * JSON-array-of-strings, because Spark's OffsetSeqLog writes/reads
  * exactly one line per source offset. Newline/carriage-return in a
  * pathological file NAME are escaped so they cannot re-introduce the
  * multi-line corruption this format exists to prevent. No JSON lib on
  * the unmanaged classpath is guaranteed stable across Spark versions,
  * and the grammar here is exactly quoted strings with \\ \" \n \r. */
private[xlsx] object XlsxOffsets {
  def toJson(files: Seq[String]): String = files
    .map(f => "\"" + f.replace("\\", "\\\\").replace("\"", "\\\"")
      .replace("\n", "\\n").replace("\r", "\\r") + "\"")
    .mkString("[", ",", "]")

  /** Checkpoints written by the legacy newline-separated format are
    * still readable — silently treating them as empty would reprocess
    * every workbook as new. The sniff requires the JSON shape (`[]` or
    * `["`), so a legacy SINGLE path that merely begins with '[' (e.g.
    * `[prod]/drop/a.xlsx`) still takes the legacy branch. */
  def parse(json: String): Seq[String] = {
    if (json.isEmpty) return Seq.empty
    val t = json.trim
    if (t != "[]" && !t.startsWith("[\"")) // legacy pre-JSON offset layout
      return json.split("\n").toSeq.filter(_.nonEmpty)
    val out = Seq.newBuilder[String]
    val sb = new StringBuilder
    var i = 0
    var inStr = false
    while (i < json.length) {
      val c = json.charAt(i)
      if (!inStr) {
        if (c == '"') { inStr = true; sb.clear() }
      } else c match {
        case '\\' =>
          i += 1
          if (i < json.length) sb.append(json.charAt(i) match {
            case 'n' => '\n'
            case 'r' => '\r'
            case other => other
          })
        case '"' => inStr = false; out += sb.toString
        case other => sb.append(other)
      }
      i += 1
    }
    out.result()
  }
}

case class XlsxInputPartition(path: String) extends InputPartition

class XlsxReaderFactory(fullSchema: StructType, required: StructType, o: XlsxDataSource.Opts,
                        pushed: Array[org.apache.spark.sql.sources.Filter],
                        limit: Int = -1)
    extends PartitionReaderFactory {
  /** All xlsx cell types map to vectorizable Spark types, so every scan
    * reads columnar and the row reader is never asked for. */
  override def supportColumnarReads(partition: InputPartition): Boolean = true
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    throw new UnsupportedOperationException("xlsx scans are columnar-only")
  override def createColumnarReader(partition: InputPartition): PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] =
    new XlsxColumnarReader(partition.asInstanceOf[XlsxInputPartition].path, fullSchema, required, o, pushed, limit)
}

/** The xlsx read path: the [[SheetCursor]] decodes each cell straight
  * into its `OnHeapColumnVector` (batches of 4096), with header skipping,
  * PERMISSIVE conversion and pushed-filter evaluation in the same loop —
  * no per-row `Row`, tuple, value array or boxed value. Downstream
  * operators consume `ColumnarBatch`es and Spark's ColumnarToRow/codegen
  * machinery amortizes per-row overhead — the same contract the built-in
  * parquet/ORC vectorized readers provide. Memory stays bounded: one
  * batch per task, reset and refilled in place.
  *
  * Four (cell kind, column type) pairs are written inline: number →
  * double, number → timestamp micros, shared string → UTF-8 bytes (each
  * shared string encoded once per task, on first use) and boolean →
  * boolean; every other pair goes through [[TypeInference.convert]], so
  * one table still defines the conversion semantics. */
class XlsxColumnarReader(path: String, fullSchema: StructType, required: StructType,
                         o: XlsxDataSource.Opts,
                         pushed: Array[org.apache.spark.sql.sources.Filter],
                         limit: Int = -1)
    extends PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] {
  import org.apache.spark.sql.execution.vectorized.OnHeapColumnVector
  import org.apache.spark.sql.vectorized.{ColumnVector, ColumnarBatch}
  import XlsxColumnarReader._

  private var emitted = 0

  /** sheet column → position in `required`, or -1 when pruned. */
  private val posOf: Array[Int] = {
    val a = Array.fill(fullSchema.length)(-1)
    required.fields.zipWithIndex.foreach { case (f, i) => a(fullSchema.fieldIndex(f.name)) = i }
    a
  }
  private val types: Array[DataType] = required.fields.map(_.dataType)
  private val fastType: Array[Int] = types.map {
    case DoubleType => FDouble
    case TimestampType => FTimestamp
    case StringType => FString
    case BooleanType => FBoolean
    case _ => FOther
  }
  // only evaluate filters whose columns this scan actually reads
  private val fieldPos: Map[String, Int] = required.fieldNames.zipWithIndex.toMap
  private val applicable: Array[org.apache.spark.sql.sources.Filter] =
    pushed.filter(_.references.forall(fieldPos.contains))

  private val zip = new ZipFile(path)
  private val wb = XlsxParser.parseWorkbook(zip)
  private val shared = XlsxParser.parseSharedStrings(zip)
  private val sharedUtf8 = new Array[Array[Byte]](shared.length)
  private val cur: SheetCursor = {
    val sheet = XlsxDataSource.resolveSheet(wb, o)
    new SheetCursor(zip, sheet.partName, shared, XlsxParser.parseDateStyles(zip),
      c => c >= 0 && c < posOf.length && posOf(c) >= 0, o.failFast)
  }
  private var headerSkipped = !o.headerRow
  private var toSkip = o.skipRows

  private val capacity = 4096
  private val vectors = OnHeapColumnVector.allocateColumns(capacity, required)
  private val batch = new ColumnarBatch(vectors.asInstanceOf[Array[ColumnVector]])
  /** Row slot being filled, and the row serial that set each column's
    * value in it (a column not stamped by the current row is null). */
  private var n = 0
  private var rowSerial = 0
  private val stamp = new Array[Int](types.length)
  /** First FAILFAST conversion failure of the row, raised at its end. */
  private var failure: String = null
  private var failurePos = Int.MaxValue
  private val valueOf: String => Any = name => value(fieldPos(name))

  /** Decodes the next row into slot `n`; false at the end of the sheet. */
  private def readRow(): Boolean = {
    // banner rows, then the header row, are skipped once they turn out
    // valued; their wanted cells are still decoded (FAILFAST sees them)
    val data = toSkip == 0 && headerSkipped
    rowSerial += 1
    while (true) {
      val ev = cur.advance()
      if (ev == SheetCursor.Cell) { if (data) put(posOf(cur.col)) }
      else if (ev == SheetCursor.RowEnd) {
        if (cur.rowHasCell) {
          if (toSkip > 0) toSkip -= 1
          else if (!headerSkipped) headerSkipped = true
          else {
            if (failure != null) throw new IllegalArgumentException(failure)
            if (applicable.isEmpty || applicable.forall(XlsxFilterEval.eval(_, valueOf))) {
              var i = 0
              while (i < stamp.length) { if (stamp(i) != rowSerial) vectors(i).putNull(n); i += 1 }
              n += 1
              emitted += 1
            }
          }
        }
        failure = null; failurePos = Int.MaxValue
        return true
      } else return false
    }
    false
  }

  /** Writes the cursor's current cell into column `i` of slot `n`. */
  private def put(i: Int): Unit = {
    val vec = vectors(i)
    cur.kind match {
      case SheetCursor.Num if fastType(i) == FDouble => vec.putDouble(n, cur.num)
      case SheetCursor.Num if fastType(i) == FTimestamp =>
        vec.putLong(n, XlsxParser.serialToMicros(cur.num, wb.date1904))
      case SheetCursor.Shared if fastType(i) == FString =>
        var b = sharedUtf8(cur.sharedIdx)
        if (b == null) {
          b = shared(cur.sharedIdx).getBytes(java.nio.charset.StandardCharsets.UTF_8)
          sharedUtf8(cur.sharedIdx) = b
        }
        vec.putByteArray(n, b)
      case SheetCursor.Bool if fastType(i) == FBoolean => vec.putBoolean(n, cur.bool)
      case _ =>
        val cv = cur.cellValue
        TypeInference.convert(cv, types(i), wb.date1904) match {
          case null =>
            stamp(i) = 0
            if (o.failFast && i < failurePos) {
              failurePos = i
              failure = s"cell ${cv} is not convertible to ${types(i)} at row ${cur.rowIndex + 1}, " +
                s"column ${cur.col + 1} of $path (mode=FAILFAST)"
            }
            return
          case s: String => vec.putByteArray(n, s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
          case d: java.lang.Double => vec.putDouble(n, d)
          case b: java.lang.Boolean => vec.putBoolean(n, b)
          case l: java.lang.Long => vec.putLong(n, l) // timestamp micros
          case other => throw new IllegalStateException(
            s"unexpected xlsx value ${other.getClass} for ${types(i)}")
        }
    }
    stamp(i) = rowSerial
  }

  /** Column `i`'s internal value in slot `n` (for pushed filters). */
  private def value(i: Int): Any =
    if (stamp(i) != rowSerial) null
    else fastType(i) match {
      case FDouble => vectors(i).getDouble(n)
      case FTimestamp => vectors(i).getLong(n)
      case FString => vectors(i).getUTF8String(n)
      case FBoolean => vectors(i).getBoolean(n)
      case _ => null
    }

  override def next(): Boolean = {
    vectors.foreach(_.reset())
    n = 0
    // pushed limit: stop decoding the stream once this partition has
    // produced enough rows (each file caps itself; Spark applies the
    // global limit across files)
    while (n < capacity && (limit < 0 || emitted < limit) && readRow()) {}
    batch.setNumRows(n)
    n > 0
  }
  override def get(): ColumnarBatch = batch
  override def close(): Unit = { try batch.close() finally try cur.close() finally zip.close() }
}

private object XlsxColumnarReader {
  // column types with an inline write path
  final val FOther = 0
  final val FDouble = 1
  final val FTimestamp = 2
  final val FString = 3
  final val FBoolean = 4
}
