package perfbench

import java.io.File
import java.sql.DriverManager
import java.util.zip.ZipFile
import scala.jdk.CollectionConverters._
import scala.util.Random
import scala.util.control.NonFatal
import org.apache.spark.sql.{SaveMode, SparkSession}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import graft.etl.{DuckDbBulkLoad, XlsxToDatabase}
import graft.xlsx.{XlsxDataSource, XlsxParser}
import perfbench.Workbooks._

/** `etl_workbook`: one seeded three-sheet workbook loaded by
  * `XlsxToDatabase.load(..., Overwrite)` into a fresh DuckDB file per pass,
  * then checked against the generator's expected counts and checksums.
  * The traced run also times isolated calls into the xlsx, etl and duckdb
  * layers, the upsert merge among them. */
final class EtlWorkbook(work: File, seed: Long) extends Workload {
  /** The widest sheet has the 50k rows of the single-sheet load the
    * workload was sized on; the narrower two have half as many. */
  val Sheets: Seq[(SheetSpec, Int)] = Seq(Orders -> 50000, LineItems -> 25000, Events -> 25000)
  private val path = new File(work, "workbook.xlsx")
  private var expected: Seq[Expected] = Nil

  private var dbSeq = 0
  private def freshDb(tag: String): File = {
    dbSeq += 1
    val f = new File(work, s"$tag-$dbSeq.duckdb")
    dropDb(f)
    f
  }
  private def url(f: File): String = "jdbc:duckdb:" + f.getAbsolutePath
  private def dropDb(f: File): Unit = Seq(f, new File(f.getPath + ".wal")).foreach(_.delete())

  def setUp(spark: SparkSession): Unit = {
    val rnd = new Random(seed)
    val rows = Sheets.map { case (spec, n) => Workbooks.rows(spec, (0L until n).toIndexedSeq, rnd) }
    Workbooks.write(path, rows)
    expected = rows.map(Workbooks.expected)
  }

  /** Times one load call, then checks the database against `expected`. */
  def pass(spark: SparkSession, tr: Tracer): Seq[Op] = {
    val db = freshDb("load")
    val rows = expected.map(_.rows).sum
    val t0 = System.nanoTime()
    val failure = try {
      tr("etl.load") {
        val loaded = XlsxToDatabase.load(spark, path.getPath, url(db), SaveMode.Overwrite).map(_.rows).sum
        require(loaded == rows, s"load reported $loaded rows, expected $rows")
      }
      None
    } catch { case NonFatal(e) => Some(s"${e.getClass.getSimpleName}: ${e.getMessage}") }
    val secs = (System.nanoTime() - t0) / 1e9
    val problems = failure.toSeq ++ (if (failure.isDefined) Nil else
      try expected.flatMap(e => Check.table(url(db), e))
      catch { case NonFatal(e) => Seq(s"check failed: ${e.getMessage}") })
    val extra = Map("db_bytes" -> db.length.toDouble, "table_rows" -> rows.toDouble)
    dropDb(db)
    Seq(Op("load", secs, rows, problems.headOption, "etl", extra = extra))
  }

  /** Median over `reps` repetitions of `f`'s wall time. */
  private def timed(reps: Int)(f: => Unit): Double = Main.median((1 to reps).map { _ =>
    val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
  })

  def layers(spark: SparkSession, tr: Tracer, counters: Counters, traced: Seq[Seq[Op]]): Map[String, Double] = {
    val reps = 3
    val specs = Sheets.map(_._1)
    val opts = (s: SheetSpec) => new CaseInsensitiveStringMap(Map("sheet" -> s.name).asJava)
    def withZip[T](f: ZipFile => T): T = { val zip = new ZipFile(path); try f(zip) finally zip.close() }
    def read(s: SheetSpec) = spark.read.format("xlsx").option("sheet", s.name)

    val metaS = timed(reps)(tr("xlsx.meta")(withZip { zip =>
      XlsxParser.parseWorkbook(zip)
      XlsxParser.parseSharedStrings(zip)
      XlsxParser.parseDateStyles(zip)
    }))
    val sharedStrings = withZip(XlsxParser.parseSharedStrings(_).length)

    val schemas = specs.map(s => XlsxDataSource.inferFromFirstFile(Seq(path.getPath), opts(s)).schema)
    val inferS = timed(reps)(tr("xlsx.infer")(specs.foreach(s =>
      XlsxDataSource.inferFromFirstFile(Seq(path.getPath), opts(s)))))

    // single-threaded parse of every sheet, no Spark; metadata read untimed
    val (parts, shared, dates) = withZip { zip =>
      val wb = XlsxParser.parseWorkbook(zip)
      (specs.map(s => wb.sheets.find(_.name == s.name).get.partName),
        XlsxParser.parseSharedStrings(zip), XlsxParser.parseDateStyles(zip))
    }
    var parsedRows = 0L
    val parseS = timed(reps)(tr("xlsx.parse") {
      parsedRows = 0L
      withZip(zip => parts.foreach(part =>
        XlsxParser.foreachRow(zip, part, shared, dates, _ => true)(_ => parsedRows += 1)))
    })

    val noop = () => specs.zip(schemas).foreach { case (s, schema) =>
      read(s).schema(schema).load(path.getPath).write.format("noop").mode("overwrite").save()
    }
    val tasksBefore = counters.drained(spark)("tasks")
    noop()
    val scanTasks = counters.drained(spark)("tasks") - tasksBefore
    val scanS = timed(reps)(tr("xlsx.scan")(noop()))

    // the frames the database layers load, materialized as parquet once
    val staged = specs.zip(schemas).map { case (s, schema) =>
      val dir = new File(work, s"stage-${s.table}")
      read(s).schema(schema).load(path.getPath).write.mode("overwrite").parquet(dir.getPath)
      (s, dir, spark.read.parquet(dir.getPath))
    }
    val bulkS = timed(reps)(staged.foreach { case (s, _, df) =>
      val db = freshDb("bulk")
      tr("etl.bulkload")(DuckDbBulkLoad.write(df, url(db), s.table, SaveMode.Overwrite))
      dropDb(db)
    })
    // every key overlaps (the table already holds the same rows), so the
    // whole frame goes through the merge; the target is written untimed
    val upsertS = Main.median((1 to reps).map { _ =>
      staged.map { case (s, _, df) =>
        val db = freshDb("upsert")
        DuckDbBulkLoad.write(df, url(db), s.table, SaveMode.Overwrite)
        val t0 = System.nanoTime()
        tr("etl.upsert")(XlsxToDatabase.upsert(df, url(db), s.table, Seq("id")))
        val secs = (System.nanoTime() - t0) / 1e9
        dropDb(db)
        secs
      }.sum
    })
    var fileBytes = 0L
    val ctasS = Main.median((1 to reps).map { _ =>
      fileBytes = 0L
      staged.map { case (s, dir, _) =>
        val db = freshDb("ctas")
        val conn = DriverManager.getConnection(url(db))
        val secs = try {
          val st = conn.createStatement()
          val t0 = System.nanoTime()
          tr("duckdb.ctas")(st.execute(s"""CREATE OR REPLACE TABLE "${s.table}" AS """ +
            s"SELECT * FROM read_parquet('${dir.getPath}/*.parquet')"))
          val secs = (System.nanoTime() - t0) / 1e9
          st.execute("CHECKPOINT")
          secs
        } finally conn.close()
        fileBytes += db.length
        dropDb(db)
        secs
      }.sum
    })

    val loads = traced.flatten
    Map(
      "xlsx.meta_s" -> metaS,
      "xlsx.shared_strings" -> sharedStrings.toDouble,
      "xlsx.infer_s" -> inferS,
      "xlsx.parse_s" -> parseS,
      "xlsx.parse_rows_per_s" -> parsedRows / parseS,
      "xlsx.scan_s" -> scanS,
      "xlsx.scan_tasks" -> scanTasks.toDouble,
      "etl.bulkload_s" -> bulkS,
      "etl.upsert_s" -> upsertS,
      "etl.merge_share" -> (upsertS - bulkS) / upsertS,
      "etl.load_s" -> Main.median(loads.map(_.seconds)),
      "etl.layer_sum_s" -> (metaS + inferS + scanS + bulkS),
      "duckdb.ctas_s" -> ctasS,
      "duckdb.file_mb" -> fileBytes / 1048576.0,
      "duckdb.bytes_per_row" -> Main.median(loads.map(o => o.extra("db_bytes") / o.extra("table_rows"))))
  }
}
