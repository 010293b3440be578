package graft.xlsx

import java.nio.file.Files
import java.sql.Timestamp
import java.util.zip.ZipFile
import graft.TestSpark
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** The round-2 xlsx hardening surface: pull-based row iteration (bounded
  * memory per task), the 1900-system serial<61 date adjustment, PERMISSIVE
  * degradation of malformed cells, sheet-by-index selection, and control
  * character stripping in the writer. */
class XlsxStreamingSpec extends AnyFunSuite with Matchers {
  private lazy val spark = TestSpark.spark

  private def tmp(name: String): String =
    Files.createTempDirectory("xlsxs").resolve(name).toString

  private val nBig = 200000

  private lazy val bigSheetPath: String = {
    val path = tmp("big.xlsx")
    val rows: Seq[Seq[Any]] = (1 to nBig).map(i => Seq(i.toDouble, s"row_$i"))
    XlsxWriter.write(path, Seq(XlsxWriter.Sheet("big", Seq("k", "v"), rows)))
    path
  }

  test("RowIterator is lazy: pulling 10 rows of a 200k-row sheet parses ~10 rows") {
    val zip = new ZipFile(bigSheetPath)
    try {
      val wb = XlsxParser.parseWorkbook(zip)
      val cellsSeen = new java.util.concurrent.atomic.AtomicInteger()
      val it = XlsxParser.rowIterator(zip, wb.sheets.head.partName,
        XlsxParser.parseSharedStrings(zip), XlsxParser.parseDateStyles(zip),
        { _ => cellsSeen.incrementAndGet(); true })
      try {
        (1 to 10).foreach(_ => it.next())
        // 10 rows + header × 2 cols each = 22 wantCol probes; anything in
        // that ballpark proves the stream was NOT materialized up front
        cellsSeen.get() should be < 100
        cellsSeen.get() should be >= 20
      } finally it.close()
    } finally zip.close()
  }

  test("200k-row sheet reads correctly through the DSv2 scan") {
    val df = spark.read.format("xlsx").load(bigSheetPath)
    df.count() shouldBe nBig
    import org.apache.spark.sql.functions._
    val s = df.agg(sum(col("k").cast("decimal(20,0)"))).collect()(0).getDecimal(0)
    s.longValueExact() shouldBe nBig.toLong * (nBig + 1) / 2
    // early termination: a LIMIT should come back fast and exact
    df.limit(7).collect().length shouldBe 7
  }

  test("1900-system serials below 61 match Excel's displayed dates (Lotus leap bug)") {
    // serial 1 = 1900-01-01, 59 = 1900-02-28, 61 = 1900-03-01 (60 is the
    // fictitious 1900-02-29; both 60 and 61 land on 1900-03-01)
    def day(serial: Double): String =
      java.time.Instant.ofEpochSecond(
        XlsxParser.serialToMicros(serial, date1904 = false) / 1000000L)
        .toString.take(10)
    day(1) shouldBe "1900-01-01"
    day(59) shouldBe "1900-02-28"
    day(61) shouldBe "1900-03-01"
    day(25569) shouldBe "1970-01-01"
  }

  test("pre-1900-03-01 timestamps roundtrip exactly through write+read") {
    val ts = Seq(
      Timestamp.valueOf("1900-01-01 00:00:00"),
      Timestamp.valueOf("1900-02-28 06:00:00"),
      Timestamp.valueOf("1900-03-01 00:00:00"),
      Timestamp.valueOf("2024-05-06 07:08:09"))
    val path = tmp("old.xlsx")
    XlsxWriter.write(path, Seq(XlsxWriter.Sheet("S", Seq("t"), ts.map(Seq(_)))))
    val got = spark.read.format("xlsx").load(path)
      .collect().map(_.getTimestamp(0)).sortBy(_.getTime)
    got.toSeq shouldBe ts
  }

  /** Delegates to the shared [[RawXlsx]] builder. */
  private def rawWorkbook(path: String, sheetXml: String, sharedXml: String): Unit =
    RawXlsx.workbook(path, sheetXml, sharedXml)

  test("malformed cells degrade to null instead of failing the scan") {
    val path = tmp("mal.xlsx")
    rawWorkbook(path,
      // header row, then: bad shared-string index, non-numeric <v> in a
      // numeric cell, out-of-range shared index, one good row
      """<row r="1"><c r="A1" t="s"><v>0</v></c><c r="B1" t="s"><v>1</v></c></row>
        |<row r="2"><c r="A2" t="s"><v>xx</v></c><c r="B2"><v>not_a_number</v></c></row>
        |<row r="3"><c r="A3" t="s"><v>99</v></c><c r="B3"><v>2.5</v></c></row>
        |<row r="4"><c r="A4" t="s"><v>2</v></c><c r="B4"><v>7</v></c></row>""".stripMargin,
      "<si><t>name</t></si><si><t>score</t></si><si><t>ok</t></si>")
    val df = spark.read.format("xlsx").load(path)
    val got = df.collect()
    got.length shouldBe 3
    val good = got.find(r => !r.isNullAt(0)).get
    good.getString(0) shouldBe "ok"
    good.getDouble(1) shouldBe 7.0
    got.count(r => r.isNullAt(0)) shouldBe 2
    got.count(r => r.isNullAt(1)) shouldBe 1
  }

  test("mode=FAILFAST aborts on malformed cells with row/column context") {
    val path = tmp("ff.xlsx")
    rawWorkbook(path,
      """<row r="1"><c r="A1" t="s"><v>0</v></c><c r="B1" t="s"><v>1</v></c></row>
        |<row r="2"><c r="A2" t="s"><v>2</v></c><c r="B2"><v>3.5</v></c></row>
        |<row r="3"><c r="A3" t="s"><v>2</v></c><c r="B3"><v>not_a_number</v></c></row>""".stripMargin,
      "<si><t>name</t></si><si><t>score</t></si><si><t>ok</t></si>")
    // PERMISSIVE (default): malformed numeric degrades to null
    spark.read.format("xlsx").load(path).count() shouldBe 2
    // FAILFAST: the scan aborts, and the message carries position context
    // (collect, not count — count prunes every column and the malformed
    // value is legitimately never even decoded)
    val ex = intercept[Exception] {
      spark.read.format("xlsx").option("mode", "FAILFAST").load(path).collect()
    }
    val msgs = Iterator.iterate(ex: Throwable)(_.getCause).takeWhile(_ != null)
      .map(t => Option(t.getMessage).getOrElse("")).mkString(" ")
    msgs.toLowerCase should include("failfast")
    an[IllegalArgumentException] should be thrownBy
      spark.read.format("xlsx").option("mode", "bogus").load(path).count()
  }

  test("a header row of only error cells does not break schema inference") {
    val path = tmp("err.xlsx")
    rawWorkbook(path,
      """<row r="1"><c r="A1" t="e"><v>#DIV/0!</v></c><c r="B1" t="e"><v>#N/A</v></c></row>
        |<row r="2"><c r="A2"><v>1</v></c><c r="B2"><v>2</v></c></row>
        |<row r="3"><c r="A3"><v>3</v></c><c r="B3"><v>4</v></c></row>""".stripMargin,
      "")
    val df = spark.read.format("xlsx").load(path)
    // error row is consumed as the (nameless) header; data rows survive
    df.count() shouldBe 2
    df.schema.fieldNames.length shouldBe 2
  }

  test("sheetIndex selects the nth sheet without naming it") {
    val path = tmp("multi.xlsx")
    XlsxWriter.write(path, Seq(
      XlsxWriter.Sheet("first", Seq("a"), Seq(Seq(1.0))),
      XlsxWriter.Sheet("second", Seq("b"), Seq(Seq(2.0), Seq(3.0)))))
    spark.read.format("xlsx").option("sheetIndex", "1").load(path).count() shouldBe 2
    spark.read.format("xlsx").option("sheetIndex", "0").load(path)
      .schema.fieldNames.toSeq shouldBe Seq("a")
    // name wins over index when both are given
    spark.read.format("xlsx").option("sheet", "first")
      .option("sheetIndex", "1").load(path).count() shouldBe 1
    an[Exception] should be thrownBy
      spark.read.format("xlsx").option("sheetIndex", "5").load(path).count()
  }

  test("LIMIT is pushed into the scan and stops the decode early") {
    val df = spark.read.format("xlsx").load(bigSheetPath).limit(5)
    // the scan advertises the pushed limit...
    df.queryExecution.executedPlan.toString should include("PushedLimit=5")
    df.collect().length shouldBe 5
    // ...and a limited reader refuses to produce more than `limit` rows
    // (the pull-based parser then simply never decodes the rest)
    val schema = spark.read.format("xlsx").load(bigSheetPath).schema
    val rdr = new XlsxColumnarReader(bigSheetPath, schema, schema,
      XlsxDataSource.Opts(None, None, headerRow = true, inferTypes = true,
        sampleRows = 10, failFast = false),
      Array.empty, limit = 5)
    try {
      var n = 0
      while (rdr.next()) n += rdr.get().numRows()
      n shouldBe 5
    } finally rdr.close()
  }

  test("columnar read path: plan is columnar and matches the written values") {
    val dfC = spark.read.format("xlsx").load(bigSheetPath)
    dfC.queryExecution.executedPlan.toString should include("ColumnarToRow")
    dfC.count() shouldBe nBig
    import spark.implicits._
    val written = (1 to nBig).map(i => (i.toDouble, s"row_$i")).toDF("k", "v")
    dfC.exceptAll(written).count() shouldBe 0
    written.exceptAll(dfC).count() shouldBe 0
  }

  test("columnar read path handles nulls, booleans and timestamps") {
    val path = tmp("mixed.xlsx")
    XlsxWriter.write(path, Seq(XlsxWriter.Sheet("S",
      Seq("name", "score", "ok", "at"),
      Seq(
        Seq("a", 1.5, true, Timestamp.valueOf("2024-01-02 03:04:05")),
        Seq(null, 7.0, null, null), // sparse row: only score present
        Seq("c", -2.0, false, Timestamp.valueOf("1999-12-31 23:59:59"))))))
    val got = spark.read.format("xlsx").load(path).orderBy("score").collect()
    got.length shouldBe 3
    val a = got.find(r => !r.isNullAt(0) && r.getString(0) == "a").get
    a.getDouble(1) shouldBe 1.5
    a.getBoolean(2) shouldBe true
    a.getTimestamp(3) shouldBe Timestamp.valueOf("2024-01-02 03:04:05")
    val sparse = got.find(_.isNullAt(0)).get
    sparse.getDouble(1) shouldBe 7.0
    sparse.isNullAt(2) shouldBe true
    sparse.isNullAt(3) shouldBe true
  }

  test("streaming xlsx source: workbooks dropped into a directory flow incrementally") {
    val dir = Files.createTempDirectory("xstream").toString
    XlsxWriter.write(s"$dir/a.xlsx",
      Seq(XlsxWriter.Sheet("S", Seq("k", "v"), Seq(Seq(1.0, "x")))))
    val sdf = spark.readStream.format("xlsx").load(dir)
    sdf.isStreaming shouldBe true
    val q = sdf.writeStream.format("memory").queryName("xst").outputMode("append").start()
    try {
      q.processAllAvailable()
      spark.sql("SELECT count(*) FROM xst").collect()(0).getLong(0) shouldBe 1
      // drop a second workbook: only ITS rows arrive in the next batch
      XlsxWriter.write(s"$dir/b.xlsx",
        Seq(XlsxWriter.Sheet("S", Seq("k", "v"), Seq(Seq(2.0, "y"), Seq(3.0, "z")))))
      q.processAllAvailable()
      spark.sql("SELECT count(*) FROM xst").collect()(0).getLong(0) shouldBe 3
      spark.sql("SELECT CAST(sum(k) AS DOUBLE) FROM xst").collect()(0).getDouble(0) shouldBe 6.0
    } finally q.stop()
  }

  test("offset codec: single-line JSON round-trip, hostile names, legacy formats") {
    // round-trip incl. quote/backslash/newline in names; always one line
    val hostile = Seq("/a/plain.xlsx", "/b/we\"ird\\name.xlsx", "/c/new\nline.xlsx")
    val json = XlsxOffsets.toJson(hostile)
    json should not include "\n"
    XlsxOffsets.parse(json) shouldBe hostile
    XlsxOffsets.parse(XlsxOffsets.toJson(Seq.empty)) shouldBe Seq.empty
    XlsxOffsets.parse("") shouldBe Seq.empty
    // legacy newline-separated checkpoints still parse (no reprocessing)
    XlsxOffsets.parse("/d/a.xlsx\n/d/b.xlsx") shouldBe Seq("/d/a.xlsx", "/d/b.xlsx")
    XlsxOffsets.parse("/d/only.xlsx") shouldBe Seq("/d/only.xlsx")
    // a legacy SINGLE path starting with '[' must not be sniffed as JSON
    XlsxOffsets.parse("[prod]/drop/a.xlsx") shouldBe Seq("[prod]/drop/a.xlsx")
  }

  test("streaming xlsx source: maxFilesPerTrigger admits a bounded backlog per batch") {
    val dir = Files.createTempDirectory("xcap").toString
    (1 to 5).foreach { i =>
      XlsxWriter.write(s"$dir/f$i.xlsx",
        Seq(XlsxWriter.Sheet("S", Seq("k"), Seq(Seq(i.toDouble)))))
    }
    val q = spark.readStream.format("xlsx")
      .option("maxFilesPerTrigger", "2").load(dir)
      .writeStream.format("memory").queryName("xcap").outputMode("append").start()
    try {
      q.processAllAvailable()
      // all of the backlog arrives...
      spark.sql("SELECT CAST(sum(k) AS DOUBLE) FROM xcap").collect()(0).getDouble(0) shouldBe 15.0
      // ...but across ceil(5/2)=3 batches, not one
      q.recentProgress.count(_.numInputRows > 0) shouldBe 3
    } finally q.stop()
  }

  test("streaming xlsx source: offsets restore across query restarts (no reprocessing)") {
    val dir = Files.createTempDirectory("xrestart").toString
    val ckpt = Files.createTempDirectory("xrestart-ckpt").toString
    val out = Files.createTempDirectory("xrestart-out").toString + "/sink"
    // memory sink cannot recover from a checkpoint; parquet sink can
    def start() = spark.readStream.format("xlsx").load(dir)
      .writeStream.format("parquet")
      .option("path", out).option("checkpointLocation", ckpt)
      .outputMode("append").start()
    // TWO files in the first committed offset: the offset log is strictly
    // line-oriented, so this is the case a multi-line offset encoding
    // corrupts (restart would miscount sources or misparse)
    XlsxWriter.write(s"$dir/a1.xlsx",
      Seq(XlsxWriter.Sheet("S", Seq("k"), Seq(Seq(1.0)))))
    XlsxWriter.write(s"$dir/a2.xlsx",
      Seq(XlsxWriter.Sheet("S", Seq("k"), Seq(Seq(10.0)))))
    val q1 = start()
    try q1.processAllAvailable() finally q1.stop()
    spark.read.parquet(out).count() shouldBe 2
    // new file while no query is running
    XlsxWriter.write(s"$dir/b.xlsx",
      Seq(XlsxWriter.Sheet("S", Seq("k"), Seq(Seq(2.0), Seq(3.0)))))
    // restart from the SAME checkpoint: a1/a2's offset was committed, so
    // only file b's rows arrive — no reprocessing, no duplicates
    val q2 = start()
    try q2.processAllAvailable() finally q2.stop()
    val got = spark.read.parquet(out).collect().map(_.getDouble(0)).sorted
    got.toSeq shouldBe Seq(1.0, 2.0, 3.0, 10.0)
  }

  test("continuous ETL: workbooks dropped into a folder upsert into DuckDB end-to-end") {
    // the full streaming identity: xlsx DSv2 micro-batch source →
    // foreachBatch → key-idempotent JDBC upsert — drop a workbook, its
    // rows land; drop a REVISED workbook, overlapping keys update instead
    // of duplicating
    val dir = Files.createTempDirectory("xetl").toString
    val ckpt = Files.createTempDirectory("xetl-ckpt").toString
    val url = s"jdbc:duckdb:${Files.createTempDirectory("xetl-db")}/t.duckdb"
    XlsxWriter.write(s"$dir/drop1.xlsx", Seq(XlsxWriter.Sheet("S",
      Seq("id", "val"), Seq(Seq(1.0, "a"), Seq(2.0, "b")))))
    val q = graft.etl.XlsxToDatabase.continuousLoad(
      spark, dir, url, "live", keys = Seq("id"), checkpoint = ckpt)
    try {
      q.processAllAvailable()
      def state(): Seq[(Double, String)] =
        graft.etl.XlsxToDatabase.readJdbc(spark, url, "live")
          .collect().map(r => (r.getAs[Number]("id").doubleValue(), r.getAs[String]("val")))
          .toSeq.sorted
      state() shouldBe Seq((1.0, "a"), (2.0, "b"))
      // revision workbook: id=2 changes, id=3 is new — upsert, not append
      XlsxWriter.write(s"$dir/drop2.xlsx", Seq(XlsxWriter.Sheet("S",
        Seq("id", "val"), Seq(Seq(2.0, "B2"), Seq(3.0, "c")))))
      q.processAllAvailable()
      state() shouldBe Seq((1.0, "a"), (2.0, "B2"), (3.0, "c"))
    } finally q.stop()
  }

  test("continuous ETL: restart from checkpoint neither reprocesses nor loses workbooks") {
    // the exactly-once END STATE claim: offsets committed before the
    // stop are honored after restart (no re-merge of drop1), a workbook
    // dropped while the query is DOWN is picked up, and key-idempotent
    // upsert means even a replayed batch cannot duplicate rows
    val dir = Files.createTempDirectory("xetl2").toString
    val ckpt = Files.createTempDirectory("xetl2-ckpt").toString
    val url = s"jdbc:duckdb:${Files.createTempDirectory("xetl2-db")}/t.duckdb"
    def start() = graft.etl.XlsxToDatabase.continuousLoad(
      spark, dir, url, "live2", keys = Seq("id"), checkpoint = ckpt)
    def state(): Seq[(Double, String)] =
      graft.etl.XlsxToDatabase.readJdbc(spark, url, "live2")
        .collect().map(r => (r.getAs[Number]("id").doubleValue(), r.getAs[String]("val")))
        .toSeq.sorted
    XlsxWriter.write(s"$dir/drop1.xlsx", Seq(XlsxWriter.Sheet("S",
      Seq("id", "val"), Seq(Seq(1.0, "a"), Seq(2.0, "b")))))
    val q1 = start()
    try { q1.processAllAvailable() } finally q1.stop()
    state() shouldBe Seq((1.0, "a"), (2.0, "b"))
    // dropped while no query is running: must arrive after restart
    XlsxWriter.write(s"$dir/drop2.xlsx", Seq(XlsxWriter.Sheet("S",
      Seq("id", "val"), Seq(Seq(2.0, "B2"), Seq(3.0, "c")))))
    val q2 = start()
    try {
      q2.processAllAvailable()
      state() shouldBe Seq((1.0, "a"), (2.0, "B2"), (3.0, "c"))
      // nothing new → no batch, and the end state is stable
      q2.processAllAvailable()
      state() shouldBe Seq((1.0, "a"), (2.0, "B2"), (3.0, "c"))
    } finally q2.stop()
  }

  test("continuous ETL: a crash BETWEEN staging write and merge commit replays cleanly") {
    // the mid-batch kill: the upsert failpoint throws after the staging
    // table is written but before the merge transaction — the worst
    // crash instant (parallel work done, nothing committed, offset not
    // logged). Three invariants: (1) the target never shows a partial
    // merge, (2) the crashed run's staging table is dropped, not
    // orphaned, (3) a restart from the same checkpoint REPLAYS the batch
    // and converges to the exact end state — key-idempotence end-to-end.
    val dir = Files.createTempDirectory("xetl3").toString
    val ckpt = Files.createTempDirectory("xetl3-ckpt").toString
    val url = s"jdbc:duckdb:${Files.createTempDirectory("xetl3-db")}/t.duckdb"
    def start() = graft.etl.XlsxToDatabase.continuousLoad(
      spark, dir, url, "live3", keys = Seq("id"), checkpoint = ckpt)
    def state(): Seq[(Double, String)] =
      graft.etl.XlsxToDatabase.readJdbc(spark, url, "live3")
        .collect().map(r => (r.getAs[Number]("id").doubleValue(), r.getAs[String]("val")))
        .toSeq.sorted
    def stagingTables(): Seq[String] = {
      val conn = java.sql.DriverManager.getConnection(url)
      try {
        val rs = conn.createStatement().executeQuery(
          "SELECT table_name FROM information_schema.tables WHERE table_name LIKE '%__upsert_%'")
        val out = scala.collection.mutable.ArrayBuffer[String]()
        while (rs.next()) out += rs.getString(1)
        out.toSeq
      } finally conn.close()
    }
    XlsxWriter.write(s"$dir/drop1.xlsx", Seq(XlsxWriter.Sheet("S",
      Seq("id", "val"), Seq(Seq(1.0, "a"), Seq(2.0, "b")))))
    val q1 = start()
    try { q1.processAllAvailable() } finally q1.stop()
    state() shouldBe Seq((1.0, "a"), (2.0, "b"))
    // arm the failpoint, drop the revision workbook, restart: the batch
    // dies mid-upsert
    graft.etl.XlsxToDatabase.interruptAfterStage =
      () => throw new RuntimeException("simulated executor loss mid-upsert")
    try {
      XlsxWriter.write(s"$dir/drop2.xlsx", Seq(XlsxWriter.Sheet("S",
        Seq("id", "val"), Seq(Seq(2.0, "B2"), Seq(3.0, "c")))))
      val q2 = start()
      try {
        intercept[Exception] { q2.processAllAvailable() }
      } finally q2.stop()
      state() shouldBe Seq((1.0, "a"), (2.0, "b")) // no partial merge
      stagingTables() shouldBe empty               // no orphaned staging
    } finally graft.etl.XlsxToDatabase.interruptAfterStage = () => ()
    // disarmed restart: the uncommitted batch replays and converges
    val q3 = start()
    try {
      q3.processAllAvailable()
      state() shouldBe Seq((1.0, "a"), (2.0, "B2"), (3.0, "c"))
      // replay is idempotent: nothing new → state stable
      q3.processAllAvailable()
      state() shouldBe Seq((1.0, "a"), (2.0, "B2"), (3.0, "c"))
    } finally q3.stop()
  }

  test("writer strips XML-1.0-invalid control chars; valid text survives") {
    val path = tmp("ctrl.xlsx")
    XlsxWriter.write(path, Seq(XlsxWriter.Sheet("S", Seq("s"),
      Seq(Seq("a\u0000b\u0007c\td\ne"), Seq("emoji 😀 ok")))),
      useSharedStrings = false)
    val got = spark.read.format("xlsx").load(path)
      .collect().map(_.getString(0)).sorted
    got(0) shouldBe "abc\td\ne"
    got(1) shouldBe "emoji 😀 ok"
  }
}
