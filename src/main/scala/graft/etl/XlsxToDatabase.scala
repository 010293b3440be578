package graft.etl

import java.util.Properties
import java.util.concurrent.{Callable, Executors}
import java.util.zip.ZipFile
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

/** The reference tool's end-to-end identity: load every sheet of an xlsx
  * workbook into a database, one table per sheet, with inferred schemas
  * and sanitized table/column names.
  *
  * Spark-first shape: each sheet becomes a DataFrame via the custom DSv2
  * xlsx source (schema inference + column pruning live there), and the
  * write is `df.write.jdbc` — batched inserts, per-partition connections,
  * retry/txn semantics from Spark's JDBC sink. At scale the same call
  * fans out one writer task per partition.
  */
object XlsxToDatabase {

  case class LoadedTable(sheet: String, table: String, rows: Long)

  def sheetNames(xlsxPath: String): Seq[String] = {
    val zip = new ZipFile(xlsxPath)
    try graft.xlsx.XlsxParser.parseWorkbook(zip).sheets.map(_.name)
    finally zip.close()
  }

  def readSheet(spark: SparkSession, xlsxPath: String, sheet: String,
                headerRow: Boolean = true, inferSchema: Boolean = true): DataFrame =
    spark.read.format("xlsx")
      .option("sheet", sheet)
      .option("headerRow", headerRow)
      .option("inferSchema", inferSchema)
      .load(xlsxPath)

  def sanitizeTableName(sheet: String): String =
    graft.xlsx.TypeInference.sanitizeNames(Seq(sheet)).head

  /** Load sheets → JDBC tables. `mode` matches the reference-class
    * tool's append/replace switch; `onlySheets` restricts to named
    * sheets (default: every sheet, one table each); `upsertKeys`
    * switches to key-idempotent upsert semantics (see [[upsert]] —
    * `mode` is then ignored).
    *
    * Sheets load concurrently, every mode alike: each sheet's pipeline
    * (schema inference, the scan into parquet staging, the database
    * statement) runs on a driver thread of a pool of at most
    * `defaultParallelism` threads, so the sheets' one-task scan jobs run
    * side by side instead of one after another. The pool is created by
    * this call, so its threads inherit the caller's Spark local
    * properties (job group, scheduler pool). Sheets whose names sanitize
    * to the same table share one thread and load in sheet order, so the
    * last of them still wins under Overwrite.
    *
    * The database statements stay serialized per database: each sheet's
    * CTAS/INSERT, upsert merge and CHECKPOINT run under one JVM lock per
    * JDBC URL (`DuckDbBulkLoad.serialized`) — only the scans overlap.
    *
    * Returns one [[LoadedTable]] per sheet, in sheet order. On failure
    * the call waits for every sheet to settle, then rethrows the first
    * failing sheet's own exception (in sheet order); sheets that finished
    * stay loaded, as the sheets before a failing one always did. */
  def load(spark: SparkSession, xlsxPath: String, jdbcUrl: String,
           mode: SaveMode = SaveMode.Overwrite,
           connectionProps: Properties = new Properties(),
           onlySheets: Option[Seq[String]] = None,
           upsertKeys: Option[Seq[String]] = None): Seq[LoadedTable] = {
    DuckDbDialect.registered
    val all = sheetNames(xlsxPath)
    val chosen = onlySheets match {
      case None => all
      case Some(w) =>
        val missing = w.filterNot(all.contains)
        require(missing.isEmpty,
          s"no such sheet(s): ${missing.mkString(", ")}; have ${all.mkString(", ")}")
        all.filter(w.contains)
    }
    def loadSheet(sheet: String): Either[Throwable, LoadedTable] = try {
      val df = readSheet(spark, xlsxPath, sheet)
      val table = sanitizeTableName(sheet)
      val loaded = upsertKeys match {
        case Some(keys) => upsert(df, jdbcUrl, table, keys, connectionProps)
        case None => DuckDbBulkLoad.write(df, jdbcUrl, table, mode, connectionProps)
      }
      Right(LoadedTable(sheet, table, loaded))
    } catch { case e: Throwable => Left(e) } // rethrown below, once every sheet settled
    // sheet positions, grouped by target table (each group in sheet order)
    val byTable = chosen.indices.groupBy(i => sanitizeTableName(chosen(i))).values.toSeq
    val pool = Executors.newFixedThreadPool(
      math.max(1, math.min(byTable.size, spark.sparkContext.defaultParallelism)))
    val settled = try byTable
      .map(group => pool.submit(new Callable[Seq[(Int, Either[Throwable, LoadedTable])]] {
        def call() = group.map(i => i -> loadSheet(chosen(i)))
      }))
      .flatMap(_.get()).sortBy(_._1)
    finally pool.shutdown()
    settled.map {
      case (_, Right(t)) => t
      case (_, Left(e)) => throw e
    }
  }

  /** Key-idempotent load — the missing third mode next to replace and
    * append: rows whose key already exists are UPDATED (replaced), new
    * keys are INSERTED, and re-running the same load is a no-op. The
    * incremental-refresh semantics every recurring spreadsheet drop
    * needs (replace loses history, append duplicates it).
    *
    * Scale shape: the DataFrame is written to a STAGING table through
    * Spark's normal parallel JDBC sink (one writer per partition — the
    * only part that scales with data volume), then the merge is ONE
    * set-based transaction in the target database (DELETE … USING
    * staging + INSERT … SELECT), so per-row logic never runs on the
    * driver and the target table is never observable half-merged.
    * Standard dialect SQL only — no PRIMARY KEY requirement on the
    * target (DuckDB cannot ALTER one in later). Returns the number of
    * rows staged for the merge (the frame's row count), which the
    * staging write counts from its parquet footers — no second scan. */
  /** Test failpoint: invoked between the staging write and the merge —
    * the most dangerous instant of an upsert (parallel work done,
    * nothing committed). The crash-recovery spec points this at a
    * throwing closure to kill a streaming batch exactly there and prove
    * the end state survives the replay. Production never sets it. */
  private[graft] var interruptAfterStage: () => Unit = () => ()

  def upsert(df: DataFrame, jdbcUrl: String, table: String, keys: Seq[String],
             connectionProps: Properties = new Properties()): Long =
    try upsertOnce(df, jdbcUrl, table, keys, connectionProps)
    catch {
      // Observed under load (flaky, ~1/500 suite runs): Spark's JDBC
      // staging writer and this merge connection key DIFFERENT duckdb
      // instances onto one file (instance cache keys on Properties); a
      // best-effort CHECKPOINT racing the other instance's teardown can
      // hit an already-removed .wal and FATALLY invalidate its instance
      // — every later statement fails with "database has been
      // invalidated". The poisoned instance unloads once its last
      // connection closes (ours are closed by the time we're here) and
      // a fresh open recovers the file cleanly, so for this
      // key-idempotent merge the correct response is retry ONCE against
      // a fresh instance, not failure.
      case e: java.sql.SQLException if invalidatedInstance(e) =>
        upsertOnce(df, jdbcUrl, table, keys, connectionProps)
    }

  private def invalidatedInstance(e: Throwable): Boolean = {
    var c: Throwable = e
    while (c != null) {
      if (c.getMessage != null && c.getMessage.contains("database has been invalidated"))
        return true
      c = c.getCause
    }
    false
  }

  private def upsertOnce(df: DataFrame, jdbcUrl: String, table: String, keys: Seq[String],
             connectionProps: Properties): Long = {
    DuckDbDialect.registered
    require(keys.nonEmpty, "upsert requires at least one key column")
    val missing = keys.filterNot(df.columns.contains)
    require(missing.isEmpty, s"key column(s) not in data: ${missing.mkString(", ")}")
    def q(id: String) = "\"" + id.replace("\"", "\"\"") + "\""
    // per-run staging name: concurrent upserts into the same target must
    // not clobber each other's staging data mid-merge (the merge itself
    // serializes on the database's transaction layer)
    val staging = table + "__upsert_" + java.util.UUID.randomUUID().toString.replace("-", "")
    // connection FIRST, staging write second: the finally below then owns
    // staging cleanup on EVERY failure path (a staging write that died
    // half-way still gets dropped; with per-run names a leak would
    // otherwise accumulate one orphan table per failed run)
    val conn = java.sql.DriverManager.getConnection(jdbcUrl, connectionProps)
    try {
      val st = conn.createStatement()
      try {
        val staged = DuckDbBulkLoad.write(df, jdbcUrl, staging, SaveMode.Overwrite, connectionProps)
        interruptAfterStage()
        // the merge runs under the database's statement lock, like every
        // bulk-load statement (see DuckDbBulkLoad.serialized)
        DuckDbBulkLoad.serialized(jdbcUrl) {
          val exists = {
            // base tables in the CURRENT schema only: a same-named view or a
            // table in another schema must not flip this into the merge branch
            val ps = conn.prepareStatement(
              "SELECT count(*) FROM information_schema.tables " +
                "WHERE table_name = ? AND table_schema = current_schema() " +
                "AND table_type = 'BASE TABLE'")
            ps.setString(1, table)
            val rs = ps.executeQuery()
            rs.next() && rs.getLong(1) > 0
          }
          // DISTINCT at merge time makes the upsert idempotent under
          // DUPLICATE TASK ATTEMPTS, not just batch replays: a speculative
          // or retried writer task commits its partition's rows into the
          // staging table a second time (Spark's JDBC sink transacts per
          // partition ATTEMPT — nothing dedups across attempts), and a
          // plain INSERT…SELECT would forward those doubles into the
          // target. Collapsing full-row duplicates is exactly the inverse
          // of what attempt duplication produces (byte-identical rows);
          // rows that differ in ANY column are preserved.
          if (!exists) {
            st.execute(s"CREATE TABLE ${q(table)} AS SELECT DISTINCT * FROM ${q(staging)}")
          } else {
            // IS NOT DISTINCT FROM: NULL keys must match themselves, or
            // NULL-keyed rows re-insert on every run (idempotence breaks)
            val keyEq = keys.map(k => s"t.${q(k)} IS NOT DISTINCT FROM s.${q(k)}")
              .mkString(" AND ")
            val cols = df.columns.map(q).mkString(", ")
            conn.setAutoCommit(false)
            try {
              st.execute(s"DELETE FROM ${q(table)} t USING ${q(staging)} s WHERE $keyEq")
              st.execute(s"INSERT INTO ${q(table)} ($cols) SELECT DISTINCT $cols FROM ${q(staging)}")
              conn.commit()
            } catch {
              case e: Throwable => conn.rollback(); throw e
            } finally conn.setAutoCommit(true)
          }
        }
        staged
      } finally DuckDbBulkLoad.serialized(jdbcUrl) {
        // always drop staging — merge failure AND half-written staging
        // alike (the write runs inside this try, so no failure path can
        // orphan a per-run staging table)
        try st.execute(s"DROP TABLE IF EXISTS ${q(staging)}")
        catch { case _: java.sql.SQLException => () }
        // flush the WAL into the database file before closing: a reader
        // that reopens the file in the instant the last connection's
        // instance tears down can otherwise attach to the pre-upsert
        // snapshot (observed with duckdb_jdbc under load — the read saw
        // an empty catalog). Best-effort: CHECKPOINT fails while another
        // live transaction holds the WAL, which the statement lock rules
        // out for this process's own writers.
        try st.execute("CHECKPOINT")
        catch { case _: java.sql.SQLException => () }
      }
    } finally conn.close()
  }

  /** The CONTINUOUS form of the tool's identity: watch a directory for
    * new workbooks and keep a database table key-idempotently in sync —
    * `readStream` over the xlsx DSv2 source (micro-batch = newly dropped
    * files, `maxFilesPerTrigger` admission control), each batch merged
    * through [[upsert]]. Upsert-per-batch makes the END STATE exactly-once
    * even when a batch replays after a crash (the checkpoint offset log
    * plus key-idempotence — a replayed batch re-merges the same keys).
    *
    * `schema`: pass the sheet schema explicitly when the directory may
    * start empty (a streaming source cannot infer from zero files);
    * `None` infers from the files present at start, same as the batch
    * reader. Returns the running query; callers own its lifecycle. */
  def continuousLoad(spark: SparkSession, dir: String, jdbcUrl: String,
                     table: String, keys: Seq[String], checkpoint: String,
                     schema: Option[org.apache.spark.sql.types.StructType] = None,
                     maxFilesPerTrigger: Option[Int] = None,
                     connectionProps: Properties = new Properties())
      : org.apache.spark.sql.streaming.StreamingQuery = {
    DuckDbDialect.registered
    val reader = spark.readStream.format("xlsx")
    schema.foreach(reader.schema)
    maxFilesPerTrigger.foreach(n => reader.option("maxFilesPerTrigger", n))
    reader.load(dir)
      .writeStream
      .outputMode(org.apache.spark.sql.streaming.OutputMode.Append())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        // no isEmpty pre-check: a file source only triggers on new files,
        // and probing emptiness would re-parse the workbooks in an extra
        // job per batch; upsert is a no-op on an empty frame anyway
        upsert(batch, jdbcUrl, table, keys, connectionProps)
        ()
      }
      .option("checkpointLocation", checkpoint)
      .start()
  }

  /** Read back a table over JDBC (verification path). */
  def readJdbc(spark: SparkSession, jdbcUrl: String, table: String,
               connectionProps: Properties = new Properties()): DataFrame = {
    DuckDbDialect.registered
    spark.read.jdbc(jdbcUrl, table, connectionProps)
  }
}
