package graft.operators

import graft.TestSpark
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** The manifest layer's whole point is what q249's oracle CANNOT see:
  * crash-at-any-instant visibility. This spec drives every commit
  * protocol through its worst failpoints —
  *  - a crash mid data-file rename leaves readers on the OLD complete
  *    generation (never a batch prefix — the exact hole
  *    IndexIngest.scala:25-31 documents for directory-listing readers);
  *  - a crash after all renames but before the manifest rename is
  *    equally invisible;
  *  - replay converges, and replay of a COMMITTED batch is a no-op
  *    (exactly-once by manifest inspection);
  *  - compaction's swap is the single manifest rename: pre-swap readers
  *    see the old files, post-swap only the compacted ones, and vacuum
  *    retires the rest without changing served rows;
  *  - a half-written `.tmp` manifest is never served. */
class ManifestSpec extends AnyFunSuite with Matchers {
  private lazy val spark = TestSpark.spark
  private val dir = "/tmp/graft_llm/manifest_spec/index"

  private def fsRoot = {
    val p = new Path(dir)
    (p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
  }

  /** Tiny deterministic index batch: n rows starting at id0, cells 0-3. */
  private def batch(id0: Long, n: Int) = {
    spark.range(id0, id0 + n).selectExpr(
      "id AS vec_id",
      "transform(sequence(0, 7), j -> cast((id * 7 + j) % 256 as int)) AS codes",
      "cast(id % 4 as int) AS cell")
  }

  private def served(): Seq[String] =
    IndexManifest.read(spark, dir)
      .select(col("vec_id"), col("codes").cast("string"), col("cell"))
      .collect().map(_.toString).sorted.toSeq

  private def rowsOf(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.select(col("vec_id"), col("codes").cast("string"), col("cell"))
      .collect().map(_.toString).sorted.toSeq

  private def freshIndex(): Unit = {
    val (fs, root) = fsRoot
    fs.delete(root, true)
    IndexManifest.publishBase(spark, batch(0, 40), dir)
  }

  /** Names of every data file on disk, referenced by a manifest or not. */
  private def dataFileNames(): Seq[String] = {
    val (fs, root) = fsRoot
    fs.listStatus(root)
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("cell="))
      .flatMap(cd => fs.listStatus(cd.getPath)).map(_.getPath.getName).toSeq
  }

  test("publish + append + read: manifest serves exactly base ∪ batches") {
    freshIndex()
    served() shouldBe rowsOf(batch(0, 40))
    IndexManifest.appendBatch(spark, batch(100, 12), dir, "day1")
    served() shouldBe rowsOf(batch(0, 40).union(batch(100, 12)))
    val (fs, root) = fsRoot
    IndexManifest.current(fs, root).get.gen shouldBe 2L
  }

  test("crash MID data-file rename: readers on the old generation, never a prefix; replay converges") {
    freshIndex()
    val before = served()
    IndexManifest.interruptMidRename =
      () => throw new RuntimeException("simulated crash mid-commit")
    try {
      intercept[RuntimeException] {
        IndexManifest.appendBatch(spark, batch(200, 12), dir, "day1")
      }
    } finally IndexManifest.interruptMidRename = () => ()
    // some ingest files ARE on disk (the rename prefix happened)...
    val (fs, root) = fsRoot
    val orphans = fs.listStatus(root)
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("cell="))
      .flatMap(cd => fs.listStatus(cd.getPath))
      .count(_.getPath.getName.startsWith("ingest-day1-"))
    orphans should be >= 1
    // ...but the manifest reader serves the old generation byte-identically
    served() shouldBe before
    IndexManifest.current(fs, root).get.gen shouldBe 1L
    // replay converges to exactly-once
    IndexManifest.appendBatch(spark, batch(200, 12), dir, "day1")
    served() shouldBe rowsOf(batch(0, 40).union(batch(200, 12)))
    // replay of the committed batch is a manifest-checked no-op
    val gen = IndexManifest.current(fs, root).get.gen
    IndexManifest.appendBatch(spark, batch(200, 12), dir, "day1")
    IndexManifest.current(fs, root).get.gen shouldBe gen
    served() shouldBe rowsOf(batch(0, 40).union(batch(200, 12)))
  }

  test("crash BEFORE the manifest rename (all data files in place): equally invisible") {
    freshIndex()
    val before = served()
    IndexManifest.interruptBeforeManifest =
      () => throw new RuntimeException("simulated crash pre-manifest")
    try {
      intercept[RuntimeException] {
        IndexManifest.appendBatch(spark, batch(300, 8), dir, "day1")
      }
    } finally IndexManifest.interruptBeforeManifest = () => ()
    served() shouldBe before
    IndexManifest.appendBatch(spark, batch(300, 8), dir, "day1")
    served() shouldBe rowsOf(batch(0, 40).union(batch(300, 8)))
  }

  test("compaction: crash before swap invisible; swap atomic; vacuum retires old files without changing rows") {
    freshIndex()
    (0 to 2).foreach(b => IndexManifest.appendBatch(spark, batch(100L * (b + 1), 10), dir, s"day${b + 1}"))
    val full = served()
    val (fs, root) = fsRoot
    def dataFiles(): Seq[String] = fs.listStatus(root)
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("cell="))
      .flatMap(cd => fs.listStatus(cd.getPath).map(f => s"${cd.getPath.getName}/${f.getPath.getName}"))
      .filterNot(f => f.split('/').last.startsWith(".") || f.split('/').last.startsWith("_"))
      .sorted.toSeq
    val preFiles = dataFiles()
    // crash mid-compact: old generation still served
    IndexManifest.interruptBeforeManifest =
      () => throw new RuntimeException("simulated crash pre-swap")
    try intercept[RuntimeException] { IndexManifest.compact(spark, dir, "vec_id") }
    finally IndexManifest.interruptBeforeManifest = () => ()
    served() shouldBe full
    // completed compact: same rows, ONE file per cell, swap by manifest
    IndexManifest.compact(spark, dir, "vec_id")
    served() shouldBe full
    val st = IndexManifest.current(fs, root).get
    st.paths.foreach(f => f.split('/').last should startWith(s"compact-${st.gen}-"))
    st.paths.groupBy(_.split('/').head).values.foreach(_.size shouldBe 1)
    // pre-compaction files still on disk (old readers keep working)...
    dataFiles().size should be > st.files.size
    preFiles.toSet.subsetOf(dataFiles().toSet) shouldBe true
    // ...until vacuum retires them; served rows unchanged
    val deleted = IndexManifest.vacuum(spark, dir)
    deleted should not be empty
    dataFiles().sorted shouldBe st.paths.sorted
    served() shouldBe full
    // the retained manifest is the current one only
    fs.listStatus(new Path(root, "_manifests")).map(_.getPath.getName).toSeq shouldBe
      Seq(f"manifest-${st.gen}%09d.json")
  }

  test("a half-written .tmp manifest is never served as current") {
    freshIndex()
    val (fs, root) = fsRoot
    val g1 = IndexManifest.current(fs, root).get
    val junk = fs.create(new Path(root, "_manifests/.manifest-000000099.json.tmp"), true)
    junk.write("""{"generation":99,"files":["cell=0/bogus.parquet"""".getBytes("UTF-8"))
    junk.close()
    IndexManifest.current(fs, root).get shouldBe g1
    served() shouldBe rowsOf(batch(0, 40))
  }

  test("paths round-trip the manifest encoding exactly (escape/unescape)") {
    freshIndex()
    val (fs, root) = fsRoot
    val st = IndexManifest.current(fs, root).get
    // every listed file exists on disk under the root — no mangling
    st.paths.foreach { f => fs.exists(new Path(root, f)) shouldBe true }
  }

  test("CONCURRENT WRITERS: an append that loses the manifest CAS retries on top of the winner — neither batch lost") {
    freshIndex()
    // a competing append commits in the window between this append's
    // data-file renames and its manifest rename (the failpoint runs a
    // REAL full append, then disarms — the worst-case interleaving,
    // deterministically)
    IndexManifest.interruptBeforeManifest = () => {
      IndexManifest.interruptBeforeManifest = () => ()
      IndexManifest.appendBatch(spark, batch(200, 8), dir, "racer")
    }
    try IndexManifest.appendBatch(spark, batch(100, 12), dir, "day1")
    finally IndexManifest.interruptBeforeManifest = () => ()
    served() shouldBe rowsOf(batch(0, 40).union(batch(100, 12)).union(batch(200, 8)))
    val (fs, root) = fsRoot
    // base=1, racer=2, day1's retried commit=3
    IndexManifest.current(fs, root).get.gen shouldBe 3L
  }

  test("CONCURRENT WRITERS: a compaction that loses the CAS to an append redoes the rewrite — the racer's rows survive") {
    freshIndex()
    IndexManifest.appendBatch(spark, batch(100, 12), dir, "day1")
    // the racing append commits while the compactor is between its
    // rewrite and its swap: committing the stale rewrite would DROP the
    // racer's rows — the compactor must discard its output and redo
    IndexManifest.interruptBeforeManifest = () => {
      IndexManifest.interruptBeforeManifest = () => ()
      IndexManifest.appendBatch(spark, batch(200, 8), dir, "racer")
    }
    try IndexManifest.compact(spark, dir, "vec_id")
    finally IndexManifest.interruptBeforeManifest = () => ()
    served() shouldBe rowsOf(batch(0, 40).union(batch(100, 12)).union(batch(200, 8)))
    // and the redo really compacted: one data file per live cell
    val (fs, root) = fsRoot
    IndexManifest.current(fs, root).get.paths
      .groupBy(_.split('/').head).values.foreach(_.size shouldBe 1)
  }

  test("CONCURRENT WRITERS: an append that loses the CAS to a racing addCheck re-checks the new constraint — the violating batch lands nothing") {
    freshIndex()
    IndexManifest.interruptBeforeManifest = () => {
      IndexManifest.interruptBeforeManifest = () => ()
      IndexManifest.addCheck(spark, dir, "nonneg", "vec_id >= 0")
    }
    val e = try intercept[RuntimeException] {
      IndexManifest.appendBatch(spark, batch(-10, 5), dir, "day1") // vec_id -10..-6
    } finally IndexManifest.interruptBeforeManifest = () => ()
    e.getMessage should include("violates CHECK constraint(s) nonneg")
    val (fs, root) = fsRoot
    val st = IndexManifest.current(fs, root).get
    st.gen shouldBe 2L // base=1, the racing addCheck=2, no append commit
    st.checks shouldBe Seq("nonneg" -> "vec_id >= 0")
    served() shouldBe rowsOf(batch(0, 40))
    // the loser's renamed-in files are deleted, not just unreferenced
    dataFileNames().filter(_.startsWith("ingest-day1-")) shouldBe empty
  }

  test("CAS-LOSS TABLE: every verb that loses the CAS to a racing append redoes on the new current — racer served, effect present, one commit past the racer; a verb that always loses gives up after 4 tries and deletes its files") {
    // a second integral stat column `w` gives zorder two dimensions
    def rows(id0: Long, n: Int) = batch(id0, n).withColumn("w", col("vec_id") % 7)
    val spec = IndexManifest.TableSpec("cell", Seq("vec_id", "w"))
    val (fs, root) = fsRoot
    def base(): Unit = {
      fs.delete(root, true)
      IndexManifest.publishBase(spark, rows(0, 40), dir, spec)
    }
    def twoGens(): Unit = { base(); IndexManifest.appendBatch(spark, rows(100, 12), dir, "day1") }
    def withCheck(): Unit = { twoGens(); IndexManifest.addCheck(spark, dir, "nonneg", "vec_id >= 0") }
    // gen 2 = gen 1's record without its field ids: a pre-id log, so the
    // racer writes its files without ids
    def legacy(): Unit = {
      base()
      val in = fs.open(new Path(root, "_manifests/manifest-000000001.json"))
      val txt = try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
      val body = txt.substring(txt.indexOf("\"body\":") + 7, txt.length - 1)
      writeManifestBytes(f"manifest-${2L}%09d.json", forgeManifest(2L, body
        .replaceAll(""""fieldids":\[.*?\]\],""", "")
        .replace("\"generation\":1", "\"generation\":2")))
    }
    def names(st: IndexManifest.State, under: String = "") =
      st.paths.filter(_.startsWith(under)).map(_.split('/').last)
    def columns() = IndexManifest.read(spark, dir).columns.toSeq
    final case class Case(verb: String, prepare: () => Unit, run: () => Unit,
        effect: IndexManifest.State => Unit)
    val cases = Seq(
      Case("compactPartitions", twoGens,
        () => IndexManifest.compactPartitions(spark, dir, Seq("0"), "vec_id"),
        st => { names(st, "cell=0/") should have size 1
          names(st, "cell=0/").head should startWith("compact-") }),
      Case("compactSmall", twoGens,
        () => IndexManifest.compactSmall(spark, dir, "vec_id", minRows = 1000L),
        st => names(st).foreach(_ should startWith("compact-"))),
      Case("zorder", twoGens,
        () => IndexManifest.zorder(spark, dir, targetFiles = 4),
        st => names(st).foreach(_ should startWith("zorder-"))),
      Case("upgradeFieldIds", legacy,
        () => IndexManifest.upgradeFieldIds(spark, dir, "vec_id"),
        st => st.fieldIds should not be empty),
      Case("renameColumn", twoGens,
        () => IndexManifest.renameColumn(spark, dir, "codes", "payload"),
        _ => columns() should (contain("payload") and not contain "codes")),
      Case("dropColumn", twoGens,
        () => IndexManifest.dropColumn(spark, dir, "codes"),
        _ => columns() should not contain "codes"),
      Case("addCheck", twoGens,
        () => IndexManifest.addCheck(spark, dir, "nonneg", "vec_id >= 0"),
        st => st.checks shouldBe Seq("nonneg" -> "vec_id >= 0")),
      Case("dropCheck", withCheck,
        () => IndexManifest.dropCheck(spark, dir, "nonneg"),
        st => st.checks shouldBe empty))
    cases.foreach { c =>
      withClue(s"${c.verb}: ") {
        c.prepare()
        val g0 = IndexManifest.current(fs, root).get.gen
        val rows0 = IndexManifest.read(spark, dir).count()
        var raced = false
        IndexManifest.interruptBeforeManifest = () => {
          IndexManifest.interruptBeforeManifest = () => ()
          raced = true
          IndexManifest.appendBatch(spark, rows(900, 8), dir, "racer")
        }
        try c.run() finally IndexManifest.interruptBeforeManifest = () => ()
        raced shouldBe true
        val st = IndexManifest.current(fs, root).get
        st.gen shouldBe g0 + 2 // the racer, then the verb's redo
        IndexManifest.read(spark, dir).count() shouldBe rows0 + 8
        IndexManifest.read(spark, dir).filter(col("vec_id") >= 900L).count() shouldBe 8L
        c.effect(st)
      }
    }

    // BUDGET: a racer lands before EVERY publish — compact yields after
    // 4 tries, and the last loser's compact- files are gone from disk
    twoGens()
    val g0 = IndexManifest.current(fs, root).get.gen
    var racers = 0
    def racer(): Unit = {
      IndexManifest.interruptBeforeManifest = () => ()
      racers += 1
      IndexManifest.appendBatch(spark, rows(1000L + 100L * racers, 4), dir, s"racer$racers")
      IndexManifest.interruptBeforeManifest = () => racer()
    }
    IndexManifest.interruptBeforeManifest = () => racer()
    val e = try intercept[RuntimeException] { IndexManifest.compact(spark, dir, "vec_id") }
      finally IndexManifest.interruptBeforeManifest = () => ()
    e.getMessage should include("lost the manifest race")
    e.getMessage should include(dir)
    racers shouldBe 4
    IndexManifest.current(fs, root).get.gen shouldBe g0 + 4
    dataFileNames().filter(_.startsWith("compact-")) shouldBe empty
    fs.listStatus(root).map(_.getPath.getName).filter(_.startsWith(".compact-")) shouldBe empty
  }

  test("TRUE CONCURRENCY: four writer THREADS appending simultaneously — every batch lands exactly once, the generation chain is gapless") {
    // the failpoint tests pin deterministic worst-case interleavings;
    // this one runs REAL thread-level races through the CAS — losers
    // must retry by union until they land, and no interleaving may
    // lose or double a batch (Spark sessions are thread-safe; the
    // manifest's only shared state is the log itself)
    freshIndex()
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    try {
      val futures = (0 until 4).map { t =>
        pool.submit(new java.util.concurrent.Callable[Unit] {
          override def call(): Unit =
            (1 to 5).foreach { v =>
              IndexManifest.appendBatch(spark,
                batch(10000L * (t + 1) + 100L * v, 4), dir, s"writer${t}_$v")
            }
        })
      }
      futures.foreach(_.get(300, java.util.concurrent.TimeUnit.SECONDS))
    } finally pool.shutdown()
    val expected = rowsOf((0 until 4).foldLeft(batch(0, 40)) { (df, t) =>
      (1 to 5).foldLeft(df)((d, v) => d.union(batch(10000L * (t + 1) + 100L * v, 4)))
    })
    served() shouldBe expected
    val (fs, root) = fsRoot
    val st = IndexManifest.current(fs, root).get
    st.gen shouldBe 21L // base + exactly one commit per batch, no gaps
    // the ledger holds every writer at its top version; replays no-op
    (0 until 4).foreach(t => st.watermarks(s"writer$t") shouldBe 5L)
    IndexManifest.appendBatch(spark, batch(1, 2), dir, "writer2_3")
    IndexManifest.current(fs, root).get.gen shouldBe 21L
  }

  test("REPLAY AFTER COMPACTION: the batch ledger keeps a replayed committed batch a no-op even after its files were rewritten away") {
    freshIndex()
    IndexManifest.appendBatch(spark, batch(100, 12), dir, "day1") // gen 2
    IndexManifest.compact(spark, dir, "vec_id")                   // gen 3: day1's FILES no longer listed
    // a streaming restart / retried job replays the committed batch —
    // a file-name idempotence check would re-append here (the compacted
    // current lists no ingest-day1-* names) and serve every row twice
    IndexManifest.appendBatch(spark, batch(100, 12), dir, "day1")
    val (fs, root) = fsRoot
    IndexManifest.current(fs, root).get.gen shouldBe 3L
    served() shouldBe rowsOf(batch(0, 40).union(batch(100, 12)))
    // and the replay did not "recover away" generation 2's files
    rowsOf(IndexManifest.readAt(spark, dir, 2)) shouldBe rowsOf(batch(0, 40).union(batch(100, 12)))
  }

  test("VACUUM GRACE WINDOW: an unreferenced YOUNG file (an in-flight writer's renamed-in data) is spared; an exclusive-window vacuum collects it") {
    freshIndex()
    val (fs, root) = fsRoot
    // simulate a writer that renamed its files into a cell dir but has
    // not yet won the manifest CAS — referenced by no manifest, but live
    val inflight = new Path(root, "cell=0/ingest-pending-deadbeef0000-part-0.parquet")
    val out = fs.create(inflight, true)
    out.write(Array[Byte](1, 2, 3)); out.close()
    IndexManifest.vacuum(spark, dir, keepGens = 1, graceMs = 600000L)
    fs.exists(inflight) shouldBe true // young ⇒ may be in-flight ⇒ spared
    served() shouldBe rowsOf(batch(0, 40))
    IndexManifest.vacuum(spark, dir) // grace 0 = exclusive maintenance window
    fs.exists(inflight) shouldBe false
    served() shouldBe rowsOf(batch(0, 40))
  }

  test("TIME TRAVEL: readAt serves each committed generation byte-identically while current advances; vacuum honors retention") {
    freshIndex()                                            // gen 1: base
    IndexManifest.appendBatch(spark, batch(100, 12), dir, "day1") // gen 2
    IndexManifest.compact(spark, dir, "vec_id")             // gen 3: swap
    IndexManifest.generations(spark, dir) shouldBe Seq(1L, 2L, 3L)
    rowsOf(IndexManifest.readAt(spark, dir, 1)) shouldBe rowsOf(batch(0, 40))
    rowsOf(IndexManifest.readAt(spark, dir, 2)) shouldBe rowsOf(batch(0, 40).union(batch(100, 12)))
    rowsOf(IndexManifest.readAt(spark, dir, 3)) shouldBe rowsOf(batch(0, 40).union(batch(100, 12)))
    // retention 2: gen 1 retires; gen 2 keeps serving its ORIGINAL
    // (pre-compaction) files even though gen 3 no longer lists them
    IndexManifest.vacuum(spark, dir, keepGens = 2)
    IndexManifest.generations(spark, dir) shouldBe Seq(2L, 3L)
    an[Exception] should be thrownBy IndexManifest.readAt(spark, dir, 1)
    rowsOf(IndexManifest.readAt(spark, dir, 2)) shouldBe rowsOf(batch(0, 40).union(batch(100, 12)))
    // retention 1 (the default): only current survives, rows unchanged
    IndexManifest.vacuum(spark, dir)
    IndexManifest.generations(spark, dir) shouldBe Seq(3L)
    an[Exception] should be thrownBy IndexManifest.readAt(spark, dir, 2)
    served() shouldBe rowsOf(batch(0, 40).union(batch(100, 12)))
  }

  // ───────────────────────── round 11: zone maps, checksum, watermark ledger ─────────────────────────

  test("ZONE MAPS: every committed entry carries footer stats — rows sum to the table, ranges are tight per cell") {
    freshIndex()
    IndexManifest.appendBatch(spark, batch(100, 12), dir, "day1")
    val (fs, root) = fsRoot
    val st = IndexManifest.current(fs, root).get
    st.files.foreach { e => e.hasStats shouldBe true; e.rows should be > 0L }
    st.files.map(_.rows).sum shouldBe 52L
    // base ids 0..39 and batch ids 100..111 land in cell=id%4: each
    // file's range must sit inside its source batch's id set for that cell
    st.files.foreach { e =>
      val cell = e.path.split('/').head.stripPrefix("cell=").toInt
      val ids =
        if (e.path.split('/').last.startsWith("ingest-day1-")) (100L until 112L).filter(_ % 4 == cell)
        else (0L until 40L).filter(_ % 4 == cell)
      e.minVecId should be >= ids.min
      e.maxVecId should be <= ids.max
      e.minVecId should be <= e.maxVecId
    }
  }

  test("ZONE-MAP PRUNING: planRange skips non-overlapping files; readRange is byte-identical to the filtered full read") {
    freshIndex()
    IndexManifest.appendBatch(spark, batch(100, 12), dir, "day1")
    IndexManifest.appendBatch(spark, batch(200, 12), dir, "day2")
    val (fs, root) = fsRoot
    val st = IndexManifest.current(fs, root).get
    // probe [0, 50]: only the base files can overlap — both batches'
    // ingest files (multi-file cells!) must be skipped at PLANNING
    val (kept, skipped) = IndexManifest.planRange(st, 0L, 50L)
    skipped.size should be > 0
    skipped.foreach(e => e.path.split('/').last should startWith("ingest-"))
    kept.map(_.rows).sum shouldBe 40L
    rowsOf(IndexManifest.readRange(spark, dir, 0L, 50L)) shouldBe
      rowsOf(IndexManifest.read(spark, dir).filter(col("vec_id").between(0L, 50L)))
    // probe [100, 111]: exactly day1's files (plus nothing else) survive
    val (kept2, skipped2) = IndexManifest.planRange(st, 100L, 111L)
    kept2.foreach(e => e.path.split('/').last should startWith("ingest-"))
    skipped2.size should be > 0
    rowsOf(IndexManifest.readRange(spark, dir, 100L, 111L)) shouldBe rowsOf(batch(100, 12))
    // an empty probe range serves zero rows without failing
    IndexManifest.readRange(spark, dir, 5000L, 6000L).count() shouldBe 0L
  }

  /** v2 manifest bytes exactly as tryWriteManifest lays them out —
    * the spec needs to forge manifests (corrupt / future-versioned). */
  private def forgeManifest(gen: Long, bodyJson: String): Array[Byte] = {
    val c = new java.util.zip.CRC32
    c.update(bodyJson.getBytes("UTF-8"))
    (f"""{"checksum":"${c.getValue}%08x","body":""" + bodyJson + "}").getBytes("UTF-8")
  }

  private def writeManifestBytes(name: String, bytes: Array[Byte]): Unit = {
    val (fs, root) = fsRoot
    val out = fs.create(new Path(root, s"_manifests/$name"), true)
    out.write(bytes); out.close()
  }

  test("CHECKSUM: a torn/corrupted manifest fails LOUDLY, never parses to a wrong file list") {
    freshIndex()
    val good = forgeManifest(9L,
      """{"version":2,"generation":9,"batches":[],"files":[["cell=0/bogus.parquet",1,0,0]]}""")
    // flip one byte inside the body: checksum mismatch
    val corrupt = good.clone(); corrupt(good.length - 5) = 'X'.toByte
    writeManifestBytes("manifest-000000009.json", corrupt)
    val e1 = intercept[RuntimeException] { IndexManifest.read(spark, dir) }
    e1.getMessage should include("checksum mismatch")
    // truncated mid-body: equally loud
    writeManifestBytes("manifest-000000009.json", good.take(good.length / 2))
    val e2 = intercept[RuntimeException] { IndexManifest.read(spark, dir) }
    e2.getMessage.toLowerCase should (include("truncated") or include("checksum"))
    val (fs, root) = fsRoot
    fs.delete(new Path(root, "_manifests/manifest-000000009.json"), false)
  }

  test("VERSION GUARD: a future-versioned manifest is rejected loudly (no silent misparse)") {
    freshIndex()
    writeManifestBytes("manifest-000000009.json", forgeManifest(9L,
      """{"version":4,"generation":9,"batches":[],"files":[["cell=0/bogus.parquet",1,0,0]]}"""))
    val e = intercept[RuntimeException] { IndexManifest.read(spark, dir) }
    e.getMessage should include("version 4")
    val (fs, root) = fsRoot
    fs.delete(new Path(root, "_manifests/manifest-000000009.json"), false)
    // and a v3 record with an unknown KIND is equally loud
    writeManifestBytes("manifest-000000009.json", forgeManifest(9L,
      """{"version":3,"generation":9,"kind":"mystery","batches":[],"files":[["cell=0/bogus.parquet",1,0,0]]}"""))
    val e2 = intercept[RuntimeException] { IndexManifest.read(spark, dir) }
    e2.getMessage should include("kind")
    fs.delete(new Path(root, "_manifests/manifest-000000009.json"), false)
  }

  test("LEGACY v1 manifests still read (stats-less, conservatively unskippable) and replay falls back to the file-name scan") {
    freshIndex()
    IndexManifest.appendBatch(spark, batch(100, 12), dir, "day1")
    val (fs, root) = fsRoot
    val st = IndexManifest.current(fs, root).get
    // regress the CURRENT manifest to the pre-ledger v1 format: flat
    // path strings, no batches array — exactly what a tree written
    // before the ledger/zone-map change contains
    val v1 = s"""{"generation":${st.gen + 1},"files":[""" +
      st.paths.sorted.map(p => "\"" + p + "\"").mkString(",") + "]}"
    writeManifestBytes(f"manifest-${st.gen + 1}%09d.json", v1.getBytes("UTF-8"))
    val lg = IndexManifest.current(fs, root).get
    lg.gen shouldBe st.gen + 1
    lg.files.foreach(_.hasStats shouldBe false)
    IndexManifest.planRange(lg, 5000L, 6000L)._2 shouldBe empty // nothing skippable
    served() shouldBe rowsOf(batch(0, 40).union(batch(100, 12)))
    // replay of day1 against the ledger-less manifest: the committed
    // ingest-day1-* file names prove the commit — no re-append
    IndexManifest.appendBatch(spark, batch(100, 12), dir, "day1")
    IndexManifest.current(fs, root).get.gen shouldBe lg.gen
    served() shouldBe rowsOf(batch(0, 40).union(batch(100, 12)))
  }

  test("WATERMARK LEDGER: <writer>_<version> ids keep the ledger O(writers); versions ≤ watermark are no-ops") {
    freshIndex()
    IndexManifest.appendBatch(spark, batch(100, 12), dir, "sink_5")
    IndexManifest.appendBatch(spark, batch(200, 12), dir, "sink_7")
    val (fs, root) = fsRoot
    val afterTwo = IndexManifest.current(fs, root).get
    afterTwo.batches shouldBe Seq("sink:7") // one entry, not one per batch
    // a replayed / out-of-order version ≤ watermark is a committed no-op
    // (the streaming-transaction contract: versions commit monotonically)
    IndexManifest.appendBatch(spark, batch(300, 12), dir, "sink_3")
    IndexManifest.current(fs, root).get.gen shouldBe afterTwo.gen
    served() shouldBe rowsOf(batch(0, 40).union(batch(100, 12)).union(batch(200, 12)))
    // a fresh version advances the same single entry
    IndexManifest.appendBatch(spark, batch(300, 12), dir, "sink_8")
    val fin = IndexManifest.current(fs, root).get
    fin.batches shouldBe Seq("sink:8")
    served() shouldBe rowsOf(batch(0, 40).union(batch(100, 12)).union(batch(200, 12)).union(batch(300, 12)))
    // unstructured ids coexist in their OWN (~-prefixed) namespace
    IndexManifest.appendBatch(spark, batch(400, 4), dir, "adhoc")
    IndexManifest.current(fs, root).get.batches.sorted shouldBe Seq("sink:8", "~adhoc:0")
    // ...which means an unstructured id can NEVER alias version 0 of a
    // structured writer: after unstructured "sink2" commits, the
    // structured first batch "sink2_0" must still land (and vice versa)
    IndexManifest.appendBatch(spark, batch(500, 4), dir, "sink2")
    val before = served()
    IndexManifest.appendBatch(spark, batch(600, 4), dir, "sink2_0")
    served() should not be before
    served() shouldBe (before ++ rowsOf(batch(600, 4))).sorted
    // replay of each stays a no-op within its own namespace
    val gen = IndexManifest.current(fs, root).get.gen
    IndexManifest.appendBatch(spark, batch(1, 2), dir, "sink2")
    IndexManifest.appendBatch(spark, batch(1, 2), dir, "sink2_0")
    IndexManifest.current(fs, root).get.gen shouldBe gen
  }

  test("REPLACE RANGE is surgical: only zone-map-overlapping files rewrite; untouched entries carry forward IDENTICALLY; rows replaced exactly") {
    freshIndex()                                                   // ids 0..39
    IndexManifest.appendBatch(spark, batch(100, 12), dir, "day1")  // ids 100..111
    IndexManifest.appendBatch(spark, batch(200, 12), dir, "day2")  // ids 200..211
    val (fs, root) = fsRoot
    val before = IndexManifest.current(fs, root).get
    // replace day1's range with a DIFFERENT payload (codes of batch 300
    // re-keyed into [100, 111] — distinguishable content, same ids)
    val replacement = batch(300, 12).selectExpr(
      "vec_id - 200 AS vec_id", "codes", "cast((vec_id - 200) % 4 as int) AS cell")
    IndexManifest.replaceRange(spark, replacement, dir, 100L, 111L, "fix1")
    val after = IndexManifest.current(fs, root).get
    after.gen shouldBe before.gen + 1
    // surgical: every non-overlapping entry identical (name AND stats)
    val beforeByPath = before.files.map(e => e.path -> e).toMap
    val untouched = after.files.filter(e => beforeByPath.contains(e.path))
    untouched.foreach(e => e shouldBe beforeByPath(e.path))
    untouched.map(_.rows).sum shouldBe 52L // base 40 + day2 12
    // day1's files are gone from the manifest; rewritten files carry the prefix
    after.paths.count(_.split('/').last.startsWith("ingest-day1-")) shouldBe 0
    after.paths.exists(_.split('/').last.startsWith("replace-fix1-")) shouldBe true
    // served rows: base ∪ day2 ∪ replacement — day1's payload replaced
    served() shouldBe rowsOf(batch(0, 40).union(batch(200, 12)).union(replacement))
    // replay is a watermark no-op
    IndexManifest.replaceRange(spark, batch(100, 12), dir, 100L, 111L, "fix1")
    IndexManifest.current(fs, root).get.gen shouldBe after.gen
    // out-of-range replacement rows are clipped, not smuggled in
    IndexManifest.replaceRange(spark, batch(0, 50)
      .filter(col("vec_id") >= 20), dir, 30L, 39L, "fix2")
    served() shouldBe rowsOf(batch(0, 40).union(batch(200, 12)).union(replacement))
  }

  test("REPLACE RANGE: crash before the manifest CAS is invisible; a CAS loss to a racing append REDOES against the new current") {
    freshIndex()
    IndexManifest.appendBatch(spark, batch(100, 12), dir, "day1")
    val full = served()
    val replacement = batch(300, 12).selectExpr(
      "vec_id - 200 AS vec_id", "codes", "cast((vec_id - 200) % 4 as int) AS cell")
    // crash: all rewritten files renamed in, no commit — readers unmoved
    IndexManifest.interruptBeforeManifest =
      () => throw new RuntimeException("simulated crash pre-swap")
    try intercept[RuntimeException] {
      IndexManifest.replaceRange(spark, replacement, dir, 100L, 111L, "fix1")
    } finally IndexManifest.interruptBeforeManifest = () => ()
    served() shouldBe full
    // racing append commits inside the replace's commit window: the
    // replace must redo from the NEW current or the racer's file (which
    // its stale untouched-list does not contain) would be dropped
    IndexManifest.interruptBeforeManifest = () => {
      IndexManifest.interruptBeforeManifest = () => ()
      IndexManifest.appendBatch(spark, batch(400, 8), dir, "racer")
    }
    try IndexManifest.replaceRange(spark, replacement, dir, 100L, 111L, "fix1")
    finally IndexManifest.interruptBeforeManifest = () => ()
    served() shouldBe rowsOf(batch(0, 40).union(replacement).union(batch(400, 8)))
  }

  // ───────────────────────── round 12: incremental log, deletion vectors, schema ─────────────────────────

  test("INCREMENTAL LOG: commits are O(delta) records; a checkpoint sidecar bounds the replay tail; every generation stays time-travelable") {
    freshIndex()
    val (fs, root) = fsRoot
    // 10 appends: gens 2..11 — gen 9 crosses CheckpointInterval (8) from
    // fullGen 1, so checkpoint-9 must exist; all commits must be deltas
    (1 to 10).foreach(i => IndexManifest.appendBatch(spark, batch(100L * i, 4), dir, s"w_$i"))
    val md = new Path(root, "_manifests")
    val names = fs.listStatus(md).map(_.getPath.getName).sorted.toSeq
    names.count(_.startsWith("checkpoint-")) should be >= 1
    names should contain(f"checkpoint-${9L}%09d.json")
    // delta records do NOT grow with table size: the 10th commit (table
    // 2x larger than at the 1st) writes the same O(batch) bytes — every
    // same-shaped delta within 10% of the first (at 100k files the gap
    // to a full rewrite is 8.4 MB vs ~1 KB; ManifestPlanBench records it)
    val deltaLens = (2 to 11).map(g =>
      fs.getFileStatus(new Path(md, f"manifest-${g.toLong}%09d.json")).getLen)
    deltaLens.max.toDouble should be <= deltaLens.min * 1.1
    // resolution through the chain serves exactly base ∪ all batches…
    served() shouldBe rowsOf((1 to 10).foldLeft(batch(0, 40))((d, i) => d.union(batch(100L * i, 4))))
    // …and every intermediate generation replays correctly (delta tail
    // below AND above the checkpoint)
    (1 to 10).foreach { i =>
      rowsOf(IndexManifest.readAt(spark, dir, 1L + i)) shouldBe
        rowsOf((1 to i).foldLeft(batch(0, 40))((d, j) => d.union(batch(100L * j, 4))))
    }
  }

  test("DELETION VECTORS: a scattered-predicate delete removes rows without rewriting any data file; time travel still serves them; compaction materializes") {
    freshIndex()                                                   // ids 0..39
    IndexManifest.appendBatch(spark, batch(100, 12), dir, "day1")  // gen 2
    val (fs, root) = fsRoot
    val preFiles = IndexManifest.current(fs, root).get.files.map(e => e.path -> e).toMap
    // scattered predicate: one stripe across EVERY file (vec_id % 4 == 1
    // hits each cell=1 file; plus an id-mod condition to scatter within)
    IndexManifest.deleteWhere(spark, dir, col("vec_id") % 7 === 1, "purge1")
    val st = IndexManifest.current(fs, root).get
    st.dvs.size shouldBe 1
    st.dvs.head.rows shouldBe (0L until 40L).count(_ % 7 == 1) + (100L until 112L).count(_ % 7 == 1)
    // NOT copy-on-write: every data file entry carried forward identically
    st.files.map(e => e.path -> e).toMap shouldBe preFiles
    served() shouldBe rowsOf(batch(0, 40).union(batch(100, 12)).filter(col("vec_id") % 7 =!= 1))
    // readRange applies the DV too
    rowsOf(IndexManifest.readRange(spark, dir, 0L, 50L)) shouldBe
      rowsOf(batch(0, 40).filter(col("vec_id") % 7 =!= 1))
    // the pre-delete generation still serves the deleted rows (time travel)
    rowsOf(IndexManifest.readAt(spark, dir, 2L)) shouldBe rowsOf(batch(0, 40).union(batch(100, 12)))
    // a second delete unions; an already-deleted row adds no pair
    IndexManifest.deleteWhere(spark, dir, col("vec_id") % 7 === 1 || col("vec_id") === 0, "purge2")
    val st2 = IndexManifest.current(fs, root).get
    st2.dvs.size shouldBe 2
    st2.dvs.map(_.rows).sum shouldBe st.dvs.head.rows + 1
    val afterTwo = rowsOf(batch(0, 40).union(batch(100, 12))
      .filter(col("vec_id") % 7 =!= 1 && col("vec_id") =!= 0))
    served() shouldBe afterTwo
    // replay of a committed delete is a watermark no-op
    val gen = IndexManifest.current(fs, root).get.gen
    IndexManifest.deleteWhere(spark, dir, col("vec_id") >= 0, "purge2")
    IndexManifest.current(fs, root).get.gen shouldBe gen
    served() shouldBe afterTwo
    // compaction materializes: deleted rows drop out of the rewrite,
    // the DV set resets, served rows unchanged
    IndexManifest.compact(spark, dir, "vec_id")
    val stC = IndexManifest.current(fs, root).get
    stC.dvs shouldBe empty
    served() shouldBe afterTwo
    // vacuum retires the old generations AND their dv sidecars
    IndexManifest.vacuum(spark, dir)
    fs.listStatus(new Path(root, "_dv")).length shouldBe 0
    served() shouldBe afterTwo
  }

  test("COMPRESSED DELETION VECTORS: 100k deleted rows cost tens of KB of sidecar, not MBs; codec round-trips exactly; legacy sidecars still read") {
    // codec round-trip, including multi-byte gaps and the empty list
    val rnd = new scala.util.Random(13)
    var acc = -1L
    val idx = Array.fill(10000) { acc += 1 + rnd.nextInt(100000); acc }
    DvCodec.decode(DvCodec.encode(idx)).toSeq shouldBe idx.toSeq
    DvCodec.decode(DvCodec.encode(Array.empty[Long])).toSeq shouldBe Seq.empty
    an[Exception] should be thrownBy DvCodec.encode(Array(3L, 3L)) // duplicates are a protocol bug
    // 120k-row table, one scattered delete of 100k rows (5 of every 6)
    val (fs, root) = fsRoot
    fs.delete(root, true)
    val big = spark.range(0, 120000).selectExpr(
      "id AS vec_id", "array(cast(id % 251 as int)) AS codes", "cast(id % 4 as int) AS cell")
    IndexManifest.publishBase(spark, big, dir)
    IndexManifest.deleteWhere(spark, dir, col("vec_id") % 6 =!= 0, "purge_big")
    val st = IndexManifest.current(fs, root).get
    st.dvs.size shouldBe 1
    st.dvs.head.rows shouldBe 100000L
    st.dvs.head.path should startWith("_dv/dv2-")
    // the scale claim, measured: the round-12 row-per-position format
    // wrote ~8 B/row of longs + a path string per row (~MB at this
    // size); the packed format writes ~1 B/row of gaps BEFORE parquet
    // page compression collapses the regular stripe pattern
    val sidecarBytes = fs.listStatus(new Path(root, st.dvs.head.path))
      .filter(_.isFile).filterNot(f => f.getPath.getName.startsWith("_")).map(_.getLen).sum
    sidecarBytes should be < (120L * 1024)
    IndexManifest.read(spark, dir).count() shouldBe 20000L
    IndexManifest.read(spark, dir).agg(sum("vec_id")).head().getLong(0) shouldBe
      (0L until 120000L by 6).sum
    // LEGACY row-per-position sidecars still read, MIXED with packed
    // ones in the same generation (exactly what a round-12 tree upgraded
    // in place contains): forge a full manifest whose dv set carries
    // both formats — the legacy pair deletes one more specific live row
    import spark.implicits._
    val legacyRel = "_dv/dv-legacy-cafebabe"
    val victim = spark.read.option("basePath", dir)
      .parquet(st.files.map(e => s"$dir/${e.path}"): _*)
      .select(col("vec_id"),
        regexp_extract(col("_metadata").getField("file_path"), "[^/]+/[^/]+$", 0).as("f"),
        col("_metadata").getField("row_index").as("i"))
      .filter(col("vec_id") === 6L).head()
    Seq((victim.getString(1), victim.getLong(2))).toDF("file", "row_index")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/$legacyRel")
    def entryJson(e: IndexManifest.FileEntry): String =
      s"""["${e.path}",${e.rows}""" + e.stats.map { case (mn, mx) => s",$mn,$mx" }.mkString + "]"
    val gen3 = st.gen + 1
    val body = s"""{"version":3,"generation":$gen3,"kind":"full","part":"cell",""" +
      s""""statcols":["vec_id"],"batches":[],""" +
      s""""dvs":[["${st.dvs.head.path}",${st.dvs.head.rows}],["$legacyRel",1]],""" +
      s""""files":[${st.files.sortBy(_.path).map(entryJson).mkString(",")}]}"""
    writeManifestBytes(f"manifest-$gen3%09d.json", forgeManifest(gen3, body))
    IndexManifest.read(spark, dir).count() shouldBe 19999L // the packed 100k + the legacy 1
    IndexManifest.read(spark, dir).filter(col("vec_id") === 6L).count() shouldBe 0L
  }

  test("DELETION VECTORS: crash before the commit is invisible; a CAS loss to a racing append REDOES the matching against the new current") {
    freshIndex()
    val full = served()
    // crash: dv sidecar renamed in, no manifest — readers unmoved
    IndexManifest.interruptBeforeManifest =
      () => throw new RuntimeException("simulated crash pre-commit")
    try intercept[RuntimeException] {
      IndexManifest.deleteWhere(spark, dir, col("vec_id") % 5 === 0, "purge1")
    } finally IndexManifest.interruptBeforeManifest = () => ()
    served() shouldBe full
    val (fs, root) = fsRoot
    IndexManifest.current(fs, root).get.dvs shouldBe empty
    // racing append commits inside the delete's commit window: the
    // delete must redo so the racer's matching rows are ALSO deleted
    IndexManifest.interruptBeforeManifest = () => {
      IndexManifest.interruptBeforeManifest = () => ()
      IndexManifest.appendBatch(spark, batch(100, 12), dir, "racer")
    }
    try IndexManifest.deleteWhere(spark, dir, col("vec_id") % 5 === 0, "purge1")
    finally IndexManifest.interruptBeforeManifest = () => ()
    served() shouldBe rowsOf(batch(0, 40).union(batch(100, 12)).filter(col("vec_id") % 5 =!= 0))
    // the replay converged exactly-once: one dv commit, racer intact
    IndexManifest.current(fs, root).get.dvs.size shouldBe 1
  }

  test("SCHEMA EVOLUTION: a batch with a new column evolves the manifest schema; old files surface NULL without mergeSchema; type conflicts fail loudly") {
    freshIndex()
    val (fs, root) = fsRoot
    IndexManifest.current(fs, root).get.schemaDdl shouldBe defined
    // evolve: day1 carries an extra column
    val evolved = batch(100, 12).withColumn("boost", (col("vec_id") % 5).cast("int"))
    IndexManifest.appendBatch(spark, evolved, dir, "day1")
    val cur = IndexManifest.read(spark, dir)
    cur.columns should contain("boost")
    // old (base) rows surface NULL for the late column; new rows carry it
    cur.filter(col("vec_id") < 40).filter(col("boost").isNotNull).count() shouldBe 0L
    cur.filter(col("vec_id") >= 100).filter(col("boost").isNull).count() shouldBe 0L
    cur.filter(col("vec_id") >= 100).select(sum(col("boost"))).head().getLong(0) shouldBe
      (100L until 112L).map(_ % 5).sum
    // time travel reads with the SCHEMA OF THAT GENERATION: gen 1 has no boost
    IndexManifest.readAt(spark, dir, 1L).columns should not contain "boost"
    // a type conflict on an existing column is a loud failure, not coercion
    val bad = batch(200, 4).withColumn("boost", lit("high"))
    val e = intercept[Exception] { IndexManifest.appendBatch(spark, bad, dir, "day2") }
    e.getMessage should include("schema conflict")
    // the failed append committed nothing
    served() shouldBe rowsOf(batch(0, 40).union(batch(100, 12)))
    // compaction carries the evolved schema; base rows still NULL
    IndexManifest.compact(spark, dir, "vec_id")
    val afterC = IndexManifest.read(spark, dir)
    afterC.filter(col("vec_id") < 40).filter(col("boost").isNotNull).count() shouldBe 0L
    afterC.filter(col("vec_id") >= 100).filter(col("boost").isNull).count() shouldBe 0L
  }

  test("TYPE WIDENING: an int->long / float->double batch widens the manifest schema; old narrow files upcast at scan; narrower late batches upcast too; narrowing/reshaping stays loud") {
    val (fs, root) = fsRoot
    fs.delete(root, true)
    def rows(id0: Long, n: Int, wType: String, fType: String) =
      spark.range(id0, id0 + n).selectExpr(
        "id AS vec_id", s"CAST(id * 3 AS $wType) AS w",
        s"CAST(CAST(id % 7 AS INT) AS $fType) AS f", "cast(id % 4 as int) AS cell")
    IndexManifest.publishBase(spark, rows(0, 20, "INT", "FLOAT"), dir)
    import org.apache.spark.sql.types._
    def typeOf(df: org.apache.spark.sql.DataFrame, c: String) = df.schema(c).dataType
    typeOf(IndexManifest.read(spark, dir), "w") shouldBe IntegerType
    // the widening batch: w beyond int range, f as double
    IndexManifest.appendBatch(spark,
      rows(100, 10, "BIGINT", "DOUBLE")
        .withColumn("w", col("w") + lit(3000000000L)), dir, "day1")
    val cur = IndexManifest.read(spark, dir)
    typeOf(cur, "w") shouldBe LongType
    typeOf(cur, "f") shouldBe DoubleType
    // old int32/float files UPCAST at scan — values exact, sums exact
    cur.agg(sum("w")).head().getLong(0) shouldBe
      (0L until 20L).map(_ * 3).sum + (100L until 110L).map(_ * 3 + 3000000000L).sum
    cur.agg(sum(col("f").cast("long"))).head().getLong(0) shouldBe
      (0L until 20L).map(_ % 7).sum + (100L until 110L).map(_ % 7).sum
    // time travel reads gen 1 with its own (narrow) schema
    typeOf(IndexManifest.readAt(spark, dir, 1L), "w") shouldBe IntegerType
    // a NARROWER late batch is accepted and upcast (no evolution commit)
    val genBefore = IndexManifest.currentState(spark, dir).get.gen
    IndexManifest.appendBatch(spark, rows(200, 5, "INT", "FLOAT"), dir, "day2")
    val after = IndexManifest.read(spark, dir)
    typeOf(after, "w") shouldBe LongType
    after.filter(col("vec_id") >= 200).agg(sum("w")).head().getLong(0) shouldBe
      (200L until 205L).map(_ * 3).sum
    IndexManifest.history(spark, dir).find(_.gen == genBefore + 1).get.schemaChanged shouldBe false
    // outside the lattice stays a loud conflict: long -> string
    val bad = rows(300, 2, "INT", "FLOAT").withColumn("w", lit("big"))
    val e = intercept[Exception] { IndexManifest.appendBatch(spark, bad, dir, "day3") }
    e.getMessage should include("schema conflict")
    // the widened schema survives compaction; zone maps on the (long)
    // clustering column keep pruning
    IndexManifest.compact(spark, dir, "vec_id")
    typeOf(IndexManifest.read(spark, dir), "w") shouldBe LongType
    IndexManifest.readRange(spark, dir, 200L, 204L).count() shouldBe 5L
  }

  test("PARTITION-SCOPED COMPACTION: one partition rewrites as an O(delta) rewrite-silent commit; every other partition carries forward entry-identical") {
    freshIndex()                                                   // cells 0..3, ids 0..39
    IndexManifest.appendBatch(spark, batch(100, 12), dir, "day1")
    IndexManifest.appendBatch(spark, batch(200, 12), dir, "day2")
    IndexManifest.deleteWhere(spark, dir, col("vec_id") % 9 === 4, "p1")
    val full = served()
    val (fs, root) = fsRoot
    val pre = IndexManifest.current(fs, root).get
    val preByPath = pre.files.map(e => e.path -> e).toMap
    IndexManifest.compactPartitions(spark, dir, Seq("1"), "vec_id")
    val post = IndexManifest.current(fs, root).get
    post.gen shouldBe pre.gen + 1
    served() shouldBe full // rows byte-identical through the rewrite
    // surgical: cell=1's files swapped for ONE compacted file; every
    // other partition's entry identical (name AND stats)
    val (inCell1, others) = post.files.partition(_.path.startsWith("cell=1/"))
    inCell1.size shouldBe 1
    inCell1.head.path.split('/').last should startWith(s"compact-${post.gen}-")
    others.foreach(e => preByPath(e.path) shouldBe e)
    // the commit is an O(delta) RECORD, not a full snapshot — and the
    // history marks it a rewrite
    val info = IndexManifest.history(spark, dir).find(_.gen == post.gen).get
    info.kind shouldBe "delta"
    info.rewrite shouldBe true
    // feed-silent: the layout moved, the rows did not
    IndexManifest.changes(spark, dir, pre.gen, post.gen).count() shouldBe 0L
    // ...and a LONGER window straddling the rewrite still attributes
    // every real change to its own commit (the batched run tracks the
    // rewrite's file moves without emitting them)
    val feed = IndexManifest.changes(spark, dir, 1L, post.gen)
    rowsOf(feed.filter(col("_change_type") === "insert" && col("_commit_gen") === 2L)) shouldBe
      rowsOf(batch(100, 12))
    val replayed = (rowsOf(IndexManifest.readAt(spark, dir, 1L)) ++
      rowsOf(feed.filter(col("_change_type") === "insert")))
      .diff(rowsOf(feed.filter(col("_change_type") === "delete")))
    replayed.sorted shouldBe full
    // the rewrite MATERIALIZED cell=1's deleted rows: a probe over the
    // compacted file serves them gone without consulting any DV pair
    // (pairs for the removed files dangle harmlessly; other partitions'
    // pairs keep masking)
    post.dvs shouldBe pre.dvs // entries carried as-is
    served() shouldBe full
    // a delete AFTER the partition rewrite composes with the dangling set
    IndexManifest.deleteWhere(spark, dir, col("vec_id") === 5L, "p2")
    served() shouldBe full.filterNot(_.startsWith("[5,"))
  }

  test("Z-ORDER: the rewrite makes EVERY stat column's zone maps skippable; rows byte-identical; DVs materialized; feed-silent; bucketed refusal loud") {
    val zdir = "/tmp/graft_llm/manifest_spec/zorder"
    val root = new Path(zdir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(root, true)
    // two INDEPENDENT dimensions: a (sequential) and b (decorrelated via
    // multiplicative shuffle) — sorting by a leaves b's per-file ranges
    // useless, the exact gap z-order exists to close
    def rows(id0: Long, n: Int) = spark.range(id0, id0 + n).selectExpr(
      "id AS a", "(id * 2654435761) % 4096 AS b", "cast(id % 4 as int) AS cell")
    val spec = IndexManifest.TableSpec(partCol = "cell", statCols = Seq("a", "b"))
    IndexManifest.publishBase(spark, rows(0, 2000), zdir, spec)
    IndexManifest.appendBatch(spark, rows(2000, 2000), zdir, "day1")
    IndexManifest.deleteWhere(spark, zdir, col("a") % 97 === 13, "p1")
    val model = rows(0, 4000).filter(col("a") % 97 =!= 13)
    def modelRows = model.select(col("a"), col("b"), col("cell"))
      .collect().map(_.toString).sorted.toSeq
    def servedRows = IndexManifest.read(spark, zdir).select(col("a"), col("b"), col("cell"))
      .collect().map(_.toString).sorted.toSeq
    val pre = IndexManifest.current(fs, root).get
    // pre-zorder: the b dimension cannot skip on a mid-range probe
    val (_, preSkipB) = IndexManifest.planRangeCol(pre, "b", 100L, 200L)
    IndexManifest.zorder(spark, zdir, targetFiles = 16)
    val post = IndexManifest.current(fs, root).get
    post.gen shouldBe pre.gen + 1
    post.dvs shouldBe empty // materialized, like compaction
    servedRows shouldBe modelRows
    // BOTH dimensions now skip on narrow probes
    val (keptA, skipA) = IndexManifest.planRange(post, 100L, 300L)
    val (keptB, skipB) = IndexManifest.planRangeCol(post, "b", 100L, 200L)
    skipA.size should be > 0
    skipB.size should be > preSkipB.size
    keptB.size should be < post.files.size
    // the generalized pruned read serves exactly the filtered rows
    IndexManifest.readRangeOn(spark, zdir, "b", 100L, 200L)
      .select(col("a"), col("b"), col("cell")).collect().map(_.toString).sorted.toSeq shouldBe
      model.filter(col("b").between(100L, 200L))
        .select(col("a"), col("b"), col("cell")).collect().map(_.toString).sorted.toSeq
    // feed-silent: the rewrite emits nothing; time travel keeps the old layout
    IndexManifest.changes(spark, zdir, pre.gen, post.gen).count() shouldBe 0L
    IndexManifest.readAt(spark, zdir, pre.gen).count() shouldBe model.count()
    // replays stay no-ops through the carried ledger
    IndexManifest.appendBatch(spark, rows(2000, 2000), zdir, "day1")
    IndexManifest.current(fs, root).get.gen shouldBe post.gen
    // bucketed tables refuse loudly — the bucket hash IS their layout
    val bdir2 = "/tmp/graft_llm/manifest_spec/zorder_bucketed"
    val broot2 = new Path(bdir2)
    broot2.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(broot2, true)
    IndexManifest.publishBase(spark, rows(0, 40), bdir2,
      IndexManifest.TableSpec(partCol = "cell", statCols = Seq("a", "b"),
        buckets = 4, bucketCols = Seq("a")))
    val e = intercept[Exception] { IndexManifest.zorder(spark, bdir2) }
    e.getMessage should include("bucketed")
  }

  test("BUCKETED TABLE: every commit protocol keeps the bucket layout; plain and bucketed reads agree; DVs apply on the bucketed read; feed intact") {
    val bdir = "/tmp/graft_llm/manifest_spec/bucketed"
    val root = new Path(bdir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(root, true)
    val spec = IndexManifest.TableSpec(partCol = "cell", statCols = Seq("vec_id"),
      buckets = 4, bucketCols = Seq("vec_id"))
    IndexManifest.publishBase(spark, batch(0, 40), bdir, spec)             // gen 1
    IndexManifest.appendBatch(spark, batch(100, 12), bdir, "day1")         // gen 2
    IndexManifest.deleteWhere(spark, bdir, col("vec_id") % 6 === 1, "p1")  // gen 3
    IndexManifest.merge(spark,
      batch(0, 40).filter(col("vec_id") === 2L)
        .withColumn("codes", expr("transform(codes, c -> cast((c + 50) % 256 as int))"))
        .withColumn("op", lit("U"))
        .unionByName(batch(900, 3).withColumn("op", lit("I"))),
      bdir, Seq("vec_id"), "op", "m1")                                     // gen 4
    val upd2 = batch(0, 40).filter(col("vec_id") === 2L)
      .withColumn("codes", expr("transform(codes, c -> cast((c + 50) % 256 as int))"))
    val model = rowsOf(batch(0, 40).filter(col("vec_id") =!= 2L).unionByName(batch(100, 12))
      .filter(col("vec_id") % 6 =!= 1)
      .unionByName(upd2).unionByName(batch(900, 3)))
    def bucketRows(d: String) = IndexManifest.readBucketed(spark, d)
      .select(col("vec_id"), col("codes").cast("string"), col("cell"))
      .collect().map(_.toString).sorted.toSeq
    rowsOf(IndexManifest.read(spark, bdir)) shouldBe model
    bucketRows(bdir) shouldBe model // the bucketed relation serves identical rows, DVs applied
    // every committed data file carries a parseable bucket-id suffix
    val st = IndexManifest.current(fs, root).get
    st.buckets shouldBe 4
    st.files.foreach { e =>
      val name = e.path.split('/').last
      withClue(name) { name should fullyMatch regex ".*_(\\d+)\\..*" }
    }
    // compaction preserves the layout (declaration AND file naming)
    IndexManifest.compact(spark, bdir, "vec_id")
    val stC = IndexManifest.current(fs, root).get
    stC.buckets shouldBe 4
    stC.files.foreach(e => e.path.split('/').last should fullyMatch regex ".*_(\\d+)\\..*")
    rowsOf(IndexManifest.read(spark, bdir)) shouldBe model
    bucketRows(bdir) shouldBe model
    // the change feed is undisturbed by the bucketed layout
    val feed = IndexManifest.changes(spark, bdir, 1L, 5L)
    val replayed = (rowsOf(IndexManifest.readAt(spark, bdir, 1L)) ++
      rowsOf(feed.filter(col("_change_type") === "insert")))
      .diff(rowsOf(feed.filter(col("_change_type") === "delete")))
    replayed.sorted shouldBe model
  }

  test("CHANGELOG: changes(from,to) emits exactly the rows each commit inserted/deleted; compaction emits NOTHING; replace emits delete+insert") {
    freshIndex()                                                   // gen 1: base 0..39
    IndexManifest.appendBatch(spark, batch(100, 12), dir, "day1")  // gen 2: insert
    IndexManifest.deleteWhere(spark, dir, col("vec_id") % 4 === 1, "purge1") // gen 3: DV delete
    val replacement = batch(300, 12).selectExpr(
      "vec_id - 200 AS vec_id", "codes", "cast((vec_id - 200) % 4 as int) AS cell")
    IndexManifest.replaceRange(spark, replacement, dir, 100L, 111L, "fix1")  // gen 4
    IndexManifest.compact(spark, dir, "vec_id")                    // gen 5: rewrite only
    val ch = IndexManifest.changes(spark, dir, 1L, 5L)
    def at(g: Long, tpe: String) =
      rowsOf(ch.filter(col("_commit_gen") === g && col("_change_type") === tpe))
    at(2, "insert") shouldBe rowsOf(batch(100, 12))
    at(2, "delete") shouldBe empty
    // the DV commit deletes the stripe across base AND day1
    at(3, "delete") shouldBe rowsOf(batch(0, 40).union(batch(100, 12))
      .filter(col("vec_id") % 4 === 1))
    at(3, "insert") shouldBe empty
    // the replace: deletes day1's LIVE rows (gen-3 DVs applied), inserts
    // the replacement (day1's files are fully in-range: no survivors)
    at(4, "delete") shouldBe rowsOf(batch(100, 12).filter(col("vec_id") % 4 =!= 1))
    at(4, "insert") shouldBe rowsOf(replacement)
    // compaction is dataChange=false: silent
    ch.filter(col("_commit_gen") === 5).count() shouldBe 0L
    // a mid-chain window sees only its own commits
    rowsOf(IndexManifest.changes(spark, dir, 3L, 4L)
      .filter(col("_change_type") === "insert")) shouldBe rowsOf(replacement)
    // and replaying the feed reconstructs the final state: gen-1 rows
    // + inserts − deletes ≡ read(current)
    val replayed = (rowsOf(IndexManifest.readAt(spark, dir, 1L)) ++
      rowsOf(ch.filter(col("_change_type") === "insert")))
      .diff(rowsOf(ch.filter(col("_change_type") === "delete")))
    replayed.sorted shouldBe served()
  }

  // ───────────────────────── round 13: MERGE INTO through the manifest ─────────────────────────

  test("MERGE: one atomic commit = DV-deletes of matched rows + appended updates/inserts; verbs exact; replay a no-op; duplicate keys loud") {
    freshIndex()                                                   // ids 0..39
    IndexManifest.appendBatch(spark, batch(100, 12), dir, "day1")  // ids 100..111
    val (fs, root) = fsRoot
    val pre = IndexManifest.current(fs, root).get
    val preFiles = pre.files.map(e => e.path -> e).toMap
    // updates: ids 3, 105 (new codes); deletes: 7, 101; inserts: 500..503;
    // unmatched delete: 9999 (must no-op)
    val upd = batch(0, 200).filter(col("vec_id").isin(3L, 105L))
      .withColumn("codes", expr("transform(codes, c -> cast((c + 100) % 256 as int))"))
    val cdc = upd.withColumn("op", lit("U"))
      .unionByName(batch(0, 200).filter(col("vec_id").isin(7L, 101L, 9999L))
        .withColumn("op", lit("D")))
      .unionByName(batch(500, 4).withColumn("op", lit("I")))
    IndexManifest.merge(spark, cdc, dir, Seq("vec_id"), "op", "upsert_1")
    val post = IndexManifest.current(fs, root).get
    // ONE commit: gen advanced exactly once, carrying BOTH action kinds
    post.gen shouldBe pre.gen + 1
    post.dvs.size shouldBe 1
    post.dvs.head.rows shouldBe 4L // two updates' old versions + two deletes
    // merge-on-read: every pre-merge file entry carried forward IDENTICALLY
    pre.files.foreach(e => preFiles(e.path) shouldBe e)
    post.paths.exists(_.split('/').last.startsWith("merge-upsert_1-")) shouldBe true
    // verb semantics
    val expect = rowsOf(batch(0, 40).union(batch(100, 12))
      .filter(!col("vec_id").isin(3L, 7L, 101L, 105L))
      .unionByName(upd).unionByName(batch(500, 4)))
    served() shouldBe expect
    // the change feed sees delete(old versions) + insert(new versions) at ONE gen
    val ch = IndexManifest.changes(spark, dir, pre.gen, post.gen)
    rowsOf(ch.filter(col("_change_type") === "delete")) shouldBe
      rowsOf(batch(0, 40).union(batch(100, 12)).filter(col("vec_id").isin(3L, 7L, 101L, 105L)))
    rowsOf(ch.filter(col("_change_type") === "insert")) shouldBe
      rowsOf(upd.unionByName(batch(500, 4)))
    ch.select("_commit_gen").distinct().collect().map(_.getLong(0)).toSeq shouldBe Seq(post.gen)
    // replay of the committed merge is a watermark no-op
    IndexManifest.merge(spark, cdc, dir, Seq("vec_id"), "op", "upsert_1")
    IndexManifest.current(fs, root).get.gen shouldBe post.gen
    served() shouldBe expect
    // duplicate keys in the cdc fail LOUDLY before anything writes
    val dup = cdc.unionByName(batch(500, 1).withColumn("op", lit("U")))
    val e = intercept[Exception] {
      IndexManifest.merge(spark, dup, dir, Seq("vec_id"), "op", "upsert_2")
    }
    e.getMessage should include("duplicate merge keys")
    served() shouldBe expect
  }

  test("MERGE: crash before the commit is invisible (neither the DV nor the appended files surface); replay converges") {
    freshIndex()
    val before = served()
    val cdc = batch(0, 40).filter(col("vec_id") < 4).withColumn("op", lit("D"))
      .unionByName(batch(700, 3).withColumn("op", lit("I")))
    IndexManifest.interruptBeforeManifest =
      () => throw new RuntimeException("simulated crash pre-commit")
    try intercept[RuntimeException] {
      IndexManifest.merge(spark, cdc, dir, Seq("vec_id"), "op", "m1")
    } finally IndexManifest.interruptBeforeManifest = () => ()
    served() shouldBe before
    val (fs, root) = fsRoot
    IndexManifest.current(fs, root).get.dvs shouldBe empty
    // replay: exactly-once (fresh token; the crashed attempt's orphans stay invisible)
    IndexManifest.merge(spark, cdc, dir, Seq("vec_id"), "op", "m1")
    served() shouldBe rowsOf(batch(0, 40).filter(col("vec_id") >= 4).unionByName(batch(700, 3)))
  }

  test("MERGE RACE MATRIX: a CAS loss to a racing append/delete/compaction REDOES the match against the new current") {
    // vs APPEND: the racer's rows include a key the cdc updates — the
    // redo must DV-delete the racer's version too, or the update fans out
    freshIndex()
    val upd = batch(100, 12).withColumn("codes", expr("transform(codes, c -> cast((c + 9) % 256 as int))"))
    val cdc = upd.withColumn("op", lit("U"))
    IndexManifest.interruptBeforeManifest = () => {
      IndexManifest.interruptBeforeManifest = () => ()
      IndexManifest.appendBatch(spark, batch(100, 12), dir, "racer")
    }
    try IndexManifest.merge(spark, cdc, dir, Seq("vec_id"), "op", "m1")
    finally IndexManifest.interruptBeforeManifest = () => ()
    served() shouldBe rowsOf(batch(0, 40).unionByName(upd)) // exactly one version of each updated row
    // vs DELETE: the racer deletes rows the cdc would KEEP — the redo's
    // match runs on the post-delete current, so nothing resurrects
    freshIndex()
    val cdc2 = batch(0, 40).filter(col("vec_id") === 1L).withColumn("op", lit("D"))
    IndexManifest.interruptBeforeManifest = () => {
      IndexManifest.interruptBeforeManifest = () => ()
      IndexManifest.deleteWhere(spark, dir, col("vec_id") % 4 === 2, "purger")
    }
    try IndexManifest.merge(spark, cdc2, dir, Seq("vec_id"), "op", "m2")
    finally IndexManifest.interruptBeforeManifest = () => ()
    served() shouldBe rowsOf(batch(0, 40).filter(col("vec_id") =!= 1L && col("vec_id") % 4 =!= 2))
    // vs COMPACTION: the compactor rewrote every file the merge's DV
    // names — the redo re-matches against the compacted positions
    freshIndex()
    val cdc3 = batch(0, 40).filter(col("vec_id").isin(5L, 6L)).withColumn("op", lit("D"))
      .unionByName(batch(800, 2).withColumn("op", lit("I")))
    IndexManifest.interruptBeforeManifest = () => {
      IndexManifest.interruptBeforeManifest = () => ()
      IndexManifest.compact(spark, dir, "vec_id")
    }
    try IndexManifest.merge(spark, cdc3, dir, Seq("vec_id"), "op", "m3")
    finally IndexManifest.interruptBeforeManifest = () => ()
    served() shouldBe rowsOf(batch(0, 40).filter(!col("vec_id").isin(5L, 6L))
      .unionByName(batch(800, 2)))
  }

  test("VACUUM SAFETY RAIL: a generation either resolves completely or is gone completely — and a too-late readAt names the retention policy") {
    freshIndex()                                                    // gen 1 (full)
    IndexManifest.appendBatch(spark, batch(100, 12), dir, "day1")   // gen 2 (delta)
    IndexManifest.compact(spark, dir, "vec_id")                     // gen 3 (full)
    val (fs, root) = fsRoot
    // age every DATA file far past any grace cutoff while the gen-2
    // manifest stays young — the round-11 failure shape: a young record
    // whose files an mtime-gated vacuum would have deleted from under it
    def ageDataFiles(): Unit = fs.listStatus(root)
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("cell="))
      .flatMap(cd => fs.listStatus(cd.getPath))
      .foreach(f => fs.setTimes(f.getPath, 1000L, 1000L))
    ageDataFiles()
    IndexManifest.vacuum(spark, dir, keepGens = 1, graceMs = 600000L)
    // gen 2's manifest is younger than the cutoff so it survived — and
    // therefore its files MUST have survived too (no record-without-data)
    IndexManifest.generations(spark, dir) should contain(2L)
    rowsOf(IndexManifest.readAt(spark, dir, 2L)) shouldBe rowsOf(batch(0, 40).union(batch(100, 12)))
    // an exclusive-window vacuum retires gen 1-2 wholly; the error for a
    // vacuumed generation names the recorded retention policy
    IndexManifest.vacuum(spark, dir, keepGens = 1)
    IndexManifest.generations(spark, dir) shouldBe Seq(3L)
    val e = intercept[Exception] { IndexManifest.readAt(spark, dir, 2L) }
    e.getMessage should include("not available")
    e.getMessage should include("kept 1 generation")
    served() shouldBe rowsOf(batch(0, 40).union(batch(100, 12)))
  }

  test("CHANGE FEED PLAN IS FLAT IN WINDOW LENGTH: a 19-commit all-delta window builds the same plan as a 9-commit one (O(full records), not O(generations))") {
    freshIndex()
    (1 to 18).foreach { i =>
      if (i % 4 == 0) IndexManifest.deleteWhere(spark, dir, col("vec_id") % 23 === i, s"p$i")
      else IndexManifest.appendBatch(spark, batch(100L * i, 4), dir, s"w_$i")
    }
    def nodeCount(toGen: Long): Int =
      IndexManifest.changes(spark, dir, 1L, toGen).queryExecution.analyzed
        .collect { case n => n }.size
    // both windows contain appends AND dv deletes: the batched feed
    // builds one scan per change type per delta RUN, so quadrupling the
    // commit count must not grow the plan (the round-12 verdict's
    // unbounded unionByName chain, closed)
    nodeCount(19L) shouldBe nodeCount(9L)
    // and the longer window's feed still replays to the final state
    val feed = IndexManifest.changes(spark, dir, 1L, 19L)
    val replayed = (rowsOf(IndexManifest.readAt(spark, dir, 1L)) ++
      rowsOf(feed.filter(col("_change_type") === "insert")))
      .diff(rowsOf(feed.filter(col("_change_type") === "delete")))
    replayed.sorted shouldBe served()
    // per-commit attribution is intact: every append gen contributes
    // exactly its batch as inserts
    rowsOf(feed.filter(col("_change_type") === "insert" && col("_commit_gen") === 2L)) shouldBe
      rowsOf(batch(100, 4))
    rowsOf(feed.filter(col("_change_type") === "insert" && col("_commit_gen") === 15L)) shouldBe
      rowsOf(batch(1400, 4))
  }

  test("INCREMENTAL CONSUMPTION: changesSince(lastGen) hands a consumer each commit exactly once, across any poll cadence") {
    freshIndex()
    // BOOTSTRAP (round-12 advisor): lastGen = 0 = "nothing consumed yet"
    // — generation 1's full snapshot arrives as inserts at _commit_gen 1,
    // so the feed alone reconstructs the table from nothing
    val Some((f0, g0)) = IndexManifest.changesSince(spark, dir, 0L)
    g0 shouldBe 1L
    rowsOf(f0.filter(col("_change_type") === "insert" && col("_commit_gen") === 1L)) shouldBe
      rowsOf(batch(0, 40))
    f0.filter(col("_change_type") === "delete").count() shouldBe 0L
    // nothing new: the consumer parks
    IndexManifest.changesSince(spark, dir, 1L) shouldBe None
    // one commit, one poll
    IndexManifest.appendBatch(spark, batch(100, 12), dir, "day_1")
    val Some((f1, g1)) = IndexManifest.changesSince(spark, dir, 1L)
    g1 shouldBe 2L
    rowsOf(f1.filter(col("_change_type") === "insert")) shouldBe rowsOf(batch(100, 12))
    // a SLOW consumer: two commits land before the next poll — the feed
    // window covers both, attributed to their own generations
    IndexManifest.appendBatch(spark, batch(200, 8), dir, "day_2")
    IndexManifest.deleteWhere(spark, dir, col("vec_id") % 6 === 2, "purge1")
    val Some((f2, g2)) = IndexManifest.changesSince(spark, dir, g1)
    g2 shouldBe 4L
    rowsOf(f2.filter(col("_change_type") === "insert")) shouldBe rowsOf(batch(200, 8))
    f2.filter(col("_change_type") === "delete")
      .select("_commit_gen").distinct().collect().map(_.getLong(0)).toSeq shouldBe Seq(4L)
    // consuming from the saved high-water mark never re-delivers
    IndexManifest.changesSince(spark, dir, g2) shouldBe None
  }

  test("HISTORY: the log is the catalog — one CommitInfo per retained record, kinds/actions/rewrite flags exact") {
    freshIndex()                                                   // gen 1: full
    IndexManifest.appendBatch(spark, batch(100, 12), dir, "day_1") // gen 2: delta +files
    IndexManifest.deleteWhere(spark, dir, col("vec_id") % 9 === 2, "purge1") // gen 3: delta +dv
    IndexManifest.compact(spark, dir, "vec_id")                    // gen 4: full rewrite
    val h = IndexManifest.history(spark, dir)
    h.map(_.gen) shouldBe Seq(1L, 2L, 3L, 4L)
    h.map(_.kind) shouldBe Seq("full", "delta", "delta", "full")
    h.map(_.rewrite) shouldBe Seq(false, false, false, true)
    h(1).filesAdded should be > 0
    h(1).writers shouldBe Seq("day")
    h(2).filesAdded shouldBe 0
    h(2).dvAdded shouldBe 1
    h(2).dvRowsAdded shouldBe (0L until 40L).count(_ % 9 == 2) + (100L until 112L).count(_ % 9 == 2)
    h(3).rewrite shouldBe true // compaction: file layout changed, rows did not
    h(3).dvAdded shouldBe 0    // ...and it materialized the DVs away
    // vacuum shrinks the catalog to the retained window
    IndexManifest.vacuum(spark, dir, keepGens = 1)
    IndexManifest.history(spark, dir).map(_.gen) shouldBe Seq(4L)
  }

  test("V1 LEDGER SYNTHESIS: a pre-ledger batch recorded ONLY by its file names keeps replay idempotence after the normalizing v3 commit") {
    freshIndex()
    IndexManifest.appendBatch(spark, batch(100, 8), dir, "day1")
    val (fs, root) = fsRoot
    val st = IndexManifest.current(fs, root).get
    // regress to a v1 manifest with NO batches array at all — the
    // 'possibly ledger-less' legacy case: day1's commit is provable
    // only from its ingest-day1-* file names
    val v1 = s"""{"generation":${st.gen + 1},"files":[""" +
      st.paths.sorted.map(p => "\"" + p + "\"").mkString(",") + "]}"
    writeManifestBytes(f"manifest-${st.gen + 1}%09d.json", v1.getBytes("UTF-8"))
    // the NORMALIZING commit (first v3 write on the v1 tree) must fold
    // the file-name-implied ledger in — v1Descent dies with this commit
    IndexManifest.appendBatch(spark, batch(200, 4), dir, "day2")
    val full = served()
    // replay of the pre-ledger batch AFTER normalization: still a no-op
    IndexManifest.appendBatch(spark, batch(100, 8), dir, "day1")
    served() shouldBe full
    // 'day1'/'day2' carry no _<digits> suffix → unstructured ids: the
    // synthesized and live entries sit in the ~-prefixed namespace at
    // version 0 (exact membership), which is what made the replay no-op
    val wm = IndexManifest.current(fs, root).get.watermarks
    wm.get("~day1") shouldBe Some(0L)
    wm.get("~day2") shouldBe Some(0L)
  }

  test("SCHEMA: nested nullability never false-conflicts — a batch with non-nullable array elements matches the stored relaxed type") {
    val (fs, root) = fsRoot
    fs.delete(root, true)
    // array(cast(id as int)): containsNull = false by construction
    def tight(id0: Long, n: Int) = spark.range(id0, id0 + n).selectExpr(
      "id AS vec_id", "array(cast(id as int)) AS codes", "cast(id % 4 as int) AS cell")
    tight(0, 8).schema("codes").dataType
      .asInstanceOf[org.apache.spark.sql.types.ArrayType].containsNull shouldBe false
    IndexManifest.publishBase(spark, tight(0, 8), dir)
    // the same shape appends without a false 'schema conflict'...
    IndexManifest.appendBatch(spark, tight(100, 4), dir, "day1")
    // ...and so does the relaxed twin (nullable elements)
    val loose = spark.range(200, 204).selectExpr(
      "id AS vec_id",
      "transform(sequence(0, 0), j -> cast((id + j) % 256 as int)) AS codes",
      "cast(id % 4 as int) AS cell")
    IndexManifest.appendBatch(spark, loose, dir, "day2")
    IndexManifest.read(spark, dir).count() shouldBe 16L
    // a REAL type change still fails loudly
    val bad = spark.range(300, 302).selectExpr(
      "id AS vec_id", "cast(id as string) AS codes", "cast(id % 4 as int) AS cell")
    val e = intercept[Exception] { IndexManifest.appendBatch(spark, bad, dir, "day3") }
    e.getMessage should include("schema conflict")
  }

  test("PARTITION VALUES WITH URI-SPECIAL CHARACTERS: deletes, reads, and the change feed agree on file identity") {
    val pdir = "/tmp/graft_llm/manifest_spec/uri_index"
    val root = new Path(pdir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(root, true)
    def pbatch(id0: Long, n: Int) = spark.range(id0, id0 + n).selectExpr(
      "id AS vec_id",
      "CASE WHEN id % 2 = 0 THEN 'pt BR' ELSE 'en' END AS region")
    IndexManifest.publishBase(spark, pbatch(0, 20), pdir,
      IndexManifest.TableSpec(partCol = "region", statCols = Seq("vec_id")))
    IndexManifest.deleteWhere(spark, pdir, col("vec_id") % 5 === 0, "purge1")
    // the read path (DV anti-join) must drop exactly the stripe
    val left = IndexManifest.read(spark, pdir).select("vec_id")
      .collect().map(_.getLong(0)).sorted.toSeq
    left shouldBe (0L until 20L).filterNot(_ % 5 == 0)
    // the change feed's DV branch must name exactly the deleted rows —
    // its touched-file filter compares sidecar keys against MANIFEST
    // paths, the cross-encoding seam this test exists for
    val del = IndexManifest.changes(spark, pdir, 1L, 2L)
      .filter(col("_change_type") === "delete")
      .select("vec_id").collect().map(_.getLong(0)).sorted.toSeq
    del shouldBe (0L until 20L).filter(_ % 5 == 0)
  }

  test("LEDGER UPGRADE: a structured id committed via a v1 (raw-id) ledger keeps replay idempotence after compaction") {
    freshIndex()
    IndexManifest.appendBatch(spark, batch(100, 8), dir, "job_7")
    val (fs, root) = fsRoot
    val st = IndexManifest.current(fs, root).get
    // regress to a v1 manifest whose ledger carries the RAW id (the
    // pre-watermark format) and whose files still list the ingest names
    val v1 = s"""{"generation":${st.gen + 1},"batches":["job_7"],"files":[""" +
      st.paths.sorted.map(p => "\"" + p + "\"").mkString(",") + "]}"
    writeManifestBytes(f"manifest-${st.gen + 1}%09d.json", v1.getBytes("UTF-8"))
    // a compaction carries the raw-id ledger forward and rewrites the
    // ingest files away — the file-name fallback can no longer help
    IndexManifest.compact(spark, dir, "vec_id")
    val full = served()
    // the replayed batch must STILL be a no-op: the raw entry re-splits
    // through splitBatchId into (job, 7) at parse time
    IndexManifest.appendBatch(spark, batch(100, 8), dir, "job_7")
    served() shouldBe full
    // and version 7 is the writer's watermark: ≤7 no-ops, 8 lands
    IndexManifest.appendBatch(spark, batch(1, 2), dir, "job_3")
    served() shouldBe full
    IndexManifest.appendBatch(spark, batch(200, 4), dir, "job_8")
    served() shouldBe (full ++ rowsOf(batch(200, 4))).sorted
  }

  test("TIMESTAMP AS OF: readAsOf serves the newest commit at-or-before the instant; pre-history and vacuumed-past asks fail loudly") {
    freshIndex()                                                   // gen 1
    Thread.sleep(15)
    IndexManifest.appendBatch(spark, batch(100, 8), dir, "day_1")  // gen 2
    Thread.sleep(15)
    IndexManifest.appendBatch(spark, batch(200, 8), dir, "day_2")  // gen 3
    val h = IndexManifest.history(spark, dir)
    h.map(_.gen) shouldBe Seq(1L, 2L, 3L)
    h.map(_.timestampMs) shouldBe h.map(_.timestampMs).sorted      // commit clock is monotone
    val Seq(ts1, ts2, ts3) = h.map(_.timestampMs)

    IndexManifest.generationAsOf(spark, dir, ts2) shouldBe 2L
    rowsOf(IndexManifest.readAsOf(spark, dir, ts2)) shouldBe
      rowsOf(IndexManifest.readAt(spark, dir, 2L))
    // between two commits: the EARLIER one is the state as of then
    if (ts3 > ts2 + 1) IndexManifest.generationAsOf(spark, dir, ts3 - 1) shouldBe 2L
    // the future resolves to current; prehistory fails loudly
    IndexManifest.generationAsOf(spark, dir, ts3 + 60000) shouldBe 3L
    val pre = intercept[IllegalArgumentException] {
      IndexManifest.generationAsOf(spark, dir, ts1 - 60000)
    }
    pre.getMessage should include("at or before")

    // vacuum cuts the resolvable past: an instant inside the vacuumed
    // window fails loudly instead of silently serving a newer state
    IndexManifest.vacuum(spark, dir, keepGens = 1)
    IndexManifest.generationAsOf(spark, dir, ts3) shouldBe 3L
    if (ts2 < ts3) intercept[IllegalArgumentException] {
      IndexManifest.generationAsOf(spark, dir, ts2): Unit
    }: Unit
  }

  test("RENAME COLUMN: metadata-only — old files resolve by field id; time travel keeps old names; stat bindings follow; the old name becomes a fresh column") {
    val rdir = "/tmp/graft_llm/manifest_spec/rename"
    val rp = new Path(rdir)
    rp.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(rp, true)
    def mk(id0: Long, n: Int) = spark.range(id0, id0 + n).selectExpr(
      "id AS vec_id", "id * 3 AS w", "cast(id % 4 as int) AS cell")
    IndexManifest.publishBase(spark, mk(0, 30), rdir,
      IndexManifest.TableSpec("cell", Seq("vec_id")))
    IndexManifest.appendBatch(spark, mk(100, 10), rdir, "day_1")        // gen 2
    val preVals = IndexManifest.read(spark, rdir)
      .select("vec_id", "w").collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq

    IndexManifest.renameColumn(spark, rdir, "w", "weight")              // gen 3 (metadata only)
    val dataFiles = IndexManifest.currentState(spark, rdir).get.files
    dataFiles.sortBy(_.path) shouldBe
      IndexManifest.stateAt(spark, rdir, 2L).files.sortBy(_.path)       // ZERO data rewritten
    // an undeclared column renames as an O(delta) record — commit bytes
    // independent of table size, like any other delta
    IndexManifest.history(spark, rdir).find(_.gen == 3L).get.kind shouldBe "delta"

    // every pre-rename file serves under the NEW name, values intact (id-matched scan)
    val post = IndexManifest.read(spark, rdir)
    post.columns should contain("weight")
    post.columns should not contain "w"
    post.select("vec_id", "weight").collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq shouldBe preVals
    // a pinned generation keeps ITS OWN name
    IndexManifest.readAt(spark, rdir, 2L).columns should contain("w")

    // appends continue under the new name
    IndexManifest.appendBatch(spark,
      spark.range(200, 206).selectExpr("id AS vec_id", "id * 3 AS weight",
        "cast(id % 4 as int) AS cell"), rdir, "day_2")                  // gen 4
    IndexManifest.read(spark, rdir).count() shouldBe 46

    // rename the CLUSTERING column: the declared stat binding follows,
    // zone maps stay positional — pruning intact under the new name
    IndexManifest.renameColumn(spark, rdir, "vec_id", "row_id")         // gen 5
    val st5 = IndexManifest.currentState(spark, rdir).get
    st5.statCols shouldBe Seq("row_id")
    // a DECLARED (stat) column's rename re-binds the declaration, which
    // only full records carry
    IndexManifest.history(spark, rdir).find(_.gen == 5L).get.kind shouldBe "full"
    val (kept, skipped) = IndexManifest.planRangeCol(st5, "row_id", 200L, 205L)
    skipped.size should be > 0
    IndexManifest.readRange(spark, rdir, 200L, 205L)
      .select("row_id").collect().map(_.getLong(0)).sorted.toSeq shouldBe (200L to 205L)

    // refusals are loud: partition column, unknown source, existing target
    intercept[IllegalArgumentException] {
      IndexManifest.renameColumn(spark, rdir, "cell", "bucket")
    }.getMessage should include("partition column")
    intercept[IllegalArgumentException] {
      IndexManifest.renameColumn(spark, rdir, "nope", "x")
    }: Unit
    intercept[IllegalArgumentException] {
      IndexManifest.renameColumn(spark, rdir, "weight", "row_id")
    }: Unit

    // a late batch still using the OLD name introduces a BRAND-NEW column
    IndexManifest.appendBatch(spark, mk(300, 4)
      .withColumnRenamed("vec_id", "row_id"), rdir, "day_3")            // gen 6: +w (fresh id)
    val wide = IndexManifest.read(spark, rdir)
    wide.columns.toSet should contain allOf ("weight", "w")
    wide.filter(col("w").isNotNull).count() shouldBe 4                  // only day_3 rows
    wide.filter(col("row_id") < 200 && col("weight").isNull).count() shouldBe 0

    // compaction rewrites under the renamed schema; rows byte-identical
    val before = wide.select("row_id", "weight", "w").collect().map(_.toString).sorted.toSeq
    IndexManifest.compact(spark, rdir, "row_id")
    IndexManifest.read(spark, rdir).select("row_id", "weight", "w")
      .collect().map(_.toString).sorted.toSeq shouldBe before
  }

  test("RENAME COLUMN: a legacy tree (no field ids in the log) refuses until upgradeFieldIds' one rewrite adopts them") {
    freshIndex() // gen 1 — WITH fieldids (modern publish)
    val (fs, root) = fsRoot
    // regress the log: gen 2 = gen 1's record with the fieldids binding
    // stripped (a tree written before field ids existed)
    val p1 = new Path(root, "_manifests/manifest-000000001.json")
    val in = fs.open(p1)
    val txt = try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
    val body = txt.substring(txt.indexOf("\"body\":") + 7, txt.length - 1)
    val stripped = body
      .replaceAll(""""fieldids":\[.*?\]\],""", "")
      .replace("\"generation\":1", "\"generation\":2")
    stripped should not include "fieldids"
    writeManifestBytes(f"manifest-${2L}%09d.json", forgeManifest(2L, stripped))

    IndexManifest.currentState(spark, dir).get.fieldIds shouldBe empty
    val ex = intercept[IllegalArgumentException] {
      IndexManifest.renameColumn(spark, dir, "codes", "payload")
    }
    ex.getMessage should include("upgradeFieldIds")

    val before = served()
    IndexManifest.upgradeFieldIds(spark, dir, "vec_id")                 // gen 3: one rewrite
    IndexManifest.currentState(spark, dir).get.fieldIds should not be empty
    served() shouldBe before                                            // rows untouched
    IndexManifest.renameColumn(spark, dir, "codes", "payload")          // now metadata-only
    IndexManifest.read(spark, dir).columns should contain("payload")
  }

  test("CHECK CONSTRAINTS: declared at publish or added later, enforced on every data-landing verb with SQL NULL semantics; violations land nothing; rename refuses to orphan a check") {
    val cdir = "/tmp/graft_llm/manifest_spec/checks"
    val cp = new Path(cdir)
    cp.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(cp, true)
    def mk(id0: Long, n: Int) = spark.range(id0, id0 + n).selectExpr(
      "id AS vec_id", "id * 3 AS w", "cast(id % 4 as int) AS cell")

    // declared at publish; a violating base refuses before anything lands
    intercept[RuntimeException] {
      IndexManifest.publishBase(spark,
        mk(0, 10).withColumn("w", col("w") - 100), cdir,
        IndexManifest.TableSpec("cell", Seq("vec_id"), checks = Seq("w_nonneg" -> "w >= 0")))
    }.getMessage should include("w_nonneg")
    IndexManifest.currentState(spark, cdir) shouldBe None               // nothing committed

    IndexManifest.publishBase(spark, mk(0, 20), cdir,
      IndexManifest.TableSpec("cell", Seq("vec_id"),
        checks = Seq("w_nonneg" -> "w >= 0", "vec_notnull" -> "vec_id IS NOT NULL")))
    IndexManifest.currentState(spark, cdir).get.checks.map(_._1) shouldBe
      Seq("w_nonneg", "vec_notnull")

    // a clean append lands; a violating one refuses and lands NOTHING
    IndexManifest.appendBatch(spark, mk(100, 5), cdir, "day_1")
    val before = IndexManifest.read(spark, cdir).count()
    val exA = intercept[RuntimeException] {
      IndexManifest.appendBatch(spark,
        mk(200, 5).withColumn("w", lit(-1L)), cdir, "day_2")
    }
    exA.getMessage should include("w_nonneg")
    IndexManifest.read(spark, cdir).count() shouldBe before

    // SQL NULL semantics: a NULL w row PASSES "w >= 0" (unknown ≠ false)
    IndexManifest.appendBatch(spark,
      mk(300, 3).withColumn("w", lit(null).cast("long")), cdir, "day_3")
    IndexManifest.read(spark, cdir).filter(col("w").isNull).count() shouldBe 3

    // merge and replace are enforced too
    intercept[RuntimeException] {
      IndexManifest.merge(spark,
        mk(0, 2).withColumn("w", lit(-7L)).withColumn("op", lit("U")),
        cdir, Seq("vec_id"), "op", "fix_1")
    }.getMessage should include("w_nonneg")
    intercept[RuntimeException] {
      IndexManifest.replaceRange(spark, mk(0, 5).withColumn("w", lit(-7L)),
        cdir, 0L, 4L, "repl_1")
    }.getMessage should include("w_nonneg")

    // ADD CONSTRAINT validates the EXISTING table first
    intercept[RuntimeException] {
      IndexManifest.addCheck(spark, cdir, "w_small", "w < 100")        // 100.. rows violate
    }
    intercept[IllegalArgumentException] {
      IndexManifest.addCheck(spark, cdir, "typo", "nope_col > 0")      // must resolve
    }
    intercept[IllegalArgumentException] {
      IndexManifest.addCheck(spark, cdir, "notbool", "vec_id")         // must BE boolean,
    }                                                                  // no silent != 0 cast
    IndexManifest.addCheck(spark, cdir, "vec_bounded", "vec_id < 1000")
    intercept[RuntimeException] {
      IndexManifest.appendBatch(spark, mk(5000, 2), cdir, "day_4")
    }.getMessage should include("vec_bounded")

    // rename refuses to orphan a check; dropping it unblocks the rename
    intercept[IllegalArgumentException] {
      IndexManifest.renameColumn(spark, cdir, "w", "weight")
    }.getMessage should include("w_nonneg")
    IndexManifest.dropCheck(spark, cdir, "w_nonneg")
    IndexManifest.renameColumn(spark, cdir, "w", "weight")
    IndexManifest.read(spark, cdir).columns should contain("weight")

    // constraints survive compaction and keep firing (on live columns)
    IndexManifest.compact(spark, cdir, "vec_id")
    IndexManifest.currentState(spark, cdir).get.checks.map(_._1).toSet shouldBe
      Set("vec_notnull", "vec_bounded")
    intercept[RuntimeException] {
      IndexManifest.appendBatch(spark, spark.range(6000, 6002).selectExpr(
        "id AS vec_id", "id AS weight", "cast(id % 4 as int) AS cell"), cdir, "day_5")
    }.getMessage should include("vec_bounded")
  }

  test("METADATA-ONLY COUNTS: countRows/partitionCounts equal the scan through append, DV deletes, merge, and compaction; v1 entries refuse loudly") {
    freshIndex()                                                   // 40 rows
    IndexManifest.appendBatch(spark, batch(100, 12), dir, "day_1")
    IndexManifest.deleteWhere(spark, dir, col("vec_id") % 5 === 2, "p1")
    IndexManifest.merge(spark,
      batch(0, 4).withColumn("op", lit("U"))
        .unionByName(batch(500, 3).withColumn("op", lit("I"))),
      dir, Seq("vec_id"), "op", "m_1")

    def scanCounts(): Seq[(String, Long)] =
      IndexManifest.read(spark, dir).groupBy(col("cell").cast("string"))
        .count().collect().map(r => (r.getString(0), r.getLong(1))).sortBy(_._1).toSeq
    def metaCounts(): Seq[(String, Long)] =
      IndexManifest.partitionCounts(spark, dir)
        .collect().map(r => (r.getString(0), r.getLong(1))).sortBy(_._1).toSeq

    IndexManifest.countRows(spark, dir) shouldBe IndexManifest.read(spark, dir).count()
    metaCounts() shouldBe scanCounts()

    // compaction materializes the DVs — counts unchanged, now DV-free
    IndexManifest.compact(spark, dir, "vec_id")
    IndexManifest.currentState(spark, dir).get.dvs shouldBe empty
    IndexManifest.countRows(spark, dir) shouldBe IndexManifest.read(spark, dir).count()
    metaCounts() shouldBe scanCounts()

    // a v1 (stats-less) regression refuses rather than undercounts
    val st = IndexManifest.currentState(spark, dir).get
    val v1 = s"""{"generation":${st.gen + 1},"batches":[],"files":[""" +
      st.paths.sorted.map(p => "\"" + p + "\"").mkString(",") + "]}"
    writeManifestBytes(f"manifest-${st.gen + 1}%09d.json", v1.getBytes("UTF-8"))
    intercept[IllegalArgumentException] {
      IndexManifest.countRows(spark, dir): Unit
    }.getMessage should include("stats-less")
  }

  test("SMALL-FILE COMPACTION: only sub-threshold files fold; healthy files carry forward entry-identical; counts stay exact past the stale-DV-pair seam; feed silent") {
    freshIndex()                                                        // 3 files × ~13 rows
    (1 to 3).foreach(i =>
      IndexManifest.appendBatch(spark, batch(100L * i, 4), dir, s"s_$i")) // 9ish 1-2 row files
    IndexManifest.deleteWhere(spark, dir, col("vec_id") === 100L, "p1") // DV on a SMALL file
    val pre = IndexManifest.currentState(spark, dir).get
    val big = pre.files.filter(_.rows >= 5)
    big should not be empty
    val expect = served()
    val cnt = IndexManifest.countRows(spark, dir)

    IndexManifest.compactSmall(spark, dir, "vec_id", minRows = 5L)
    val post = IndexManifest.currentState(spark, dir).get
    served() shouldBe expect                                            // rows byte-identical
    big.toSet.subsetOf(post.files.toSet) shouldBe true                  // healthy files untouched
    post.files.size should be < pre.files.size                          // small ones folded
    val h = IndexManifest.history(spark, dir).last
    h.kind shouldBe "delta"                                             // O(delta) commit…
    h.rewrite shouldBe true                                             // …and feed-silent
    IndexManifest.changes(spark, dir, pre.gen, post.gen).count() shouldBe 0

    // the STALE-DV-PAIR seam this verb exposes: the sidecar survives but
    // its pair now references a REMOVED file (the rewrite materialized
    // the deleted row away) — counting must not double-subtract it
    post.dvs should not be empty
    IndexManifest.countRows(spark, dir) shouldBe cnt
    IndexManifest.countRows(spark, dir) shouldBe IndexManifest.read(spark, dir).count()
    IndexManifest.partitionCounts(spark, dir)
      .collect().map(r => (r.getString(0), r.getLong(1))).sortBy(_._1).toSeq shouldBe
      IndexManifest.read(spark, dir).groupBy(col("cell").cast("string")).count()
        .collect().map(r => (r.getString(0), r.getLong(1))).sortBy(_._1).toSeq
  }

  test("DROP COLUMN: metadata-only; pinned reads keep it; a REBORN name gets a FRESH id so old values never resurrect; refusals loud") {
    val ddir = "/tmp/graft_llm/manifest_spec/drop"
    val dp = new Path(ddir)
    dp.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(dp, true)
    def mk(id0: Long, n: Int) = spark.range(id0, id0 + n).selectExpr(
      "id AS vec_id", "id * 3 AS w", "cast(id % 4 as int) AS cell")
    IndexManifest.publishBase(spark, mk(0, 20), ddir,
      IndexManifest.TableSpec("cell", Seq("vec_id")))
    IndexManifest.appendBatch(spark, mk(100, 5), ddir, "day_1")         // gen 2

    IndexManifest.dropColumn(spark, ddir, "w")                          // gen 3
    val st3 = IndexManifest.currentState(spark, ddir).get
    IndexManifest.read(spark, ddir).columns should not contain "w"
    st3.files.sortBy(_.path) shouldBe
      IndexManifest.stateAt(spark, ddir, 2L).files.sortBy(_.path)       // ZERO data rewritten
    IndexManifest.history(spark, ddir).find(_.gen == 3L).get.kind shouldBe "delta"
    IndexManifest.readAt(spark, ddir, 2L).columns should contain("w")   // pinned era keeps it
    // the id is TOMBSTONED, not freed
    st3.fieldIds.map(_._2).max shouldBe 3

    // REBORN name: a later batch re-introduces `w` — it must get a
    // FRESH id, and the old files' orphaned values must NOT resurrect
    IndexManifest.appendBatch(spark, mk(200, 4), ddir, "day_2")         // gen 4
    val reborn = IndexManifest.read(spark, ddir)
    reborn.filter(col("vec_id") < 200 && col("w").isNotNull).count() shouldBe 0
    reborn.filter(col("vec_id") >= 200 && col("w").isNotNull).count() shouldBe 4
    val ids4 = IndexManifest.currentState(spark, ddir).get.fieldIds.toMap
    ids4("w") shouldBe 4                                                // fresh, not the retired 2

    // refusals: partition column, declared stat binding, a referencing
    // check, unknown column
    intercept[IllegalArgumentException] {
      IndexManifest.dropColumn(spark, ddir, "cell")
    }.getMessage should include("partition")
    intercept[IllegalArgumentException] {
      IndexManifest.dropColumn(spark, ddir, "vec_id")
    }.getMessage should include("binding")
    IndexManifest.addCheck(spark, ddir, "w_ok", "w >= 0 OR w IS NULL")
    intercept[IllegalArgumentException] {
      IndexManifest.dropColumn(spark, ddir, "w")
    }.getMessage should include("w_ok")
    IndexManifest.dropCheck(spark, ddir, "w_ok")
    IndexManifest.dropColumn(spark, ddir, "w")                          // now drops again
    intercept[IllegalArgumentException] {
      IndexManifest.dropColumn(spark, ddir, "nope")
    }: Unit
  }

  test("BLOOM FILTERS: equality probes skip files zone maps cannot; skips exact through append/delete/compaction; declaration persists in the log") {
    val bdir = "/tmp/graft_llm/manifest_spec/bloom"
    val bp = new Path(bdir)
    bp.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(bp, true)
    // layout DESIGNED to defeat zone maps on the probe column: files
    // cluster by `w` (the declared stat column) while `vec_id` is a
    // modular permutation scattered across every file — a vec_id range
    // probe would keep everything; only a may-contain test can skip
    def mk(id0: Long, n: Int) = spark.range(id0, id0 + n).selectExpr(
      "(id * 533) % 4000 AS vec_id", "id AS w", "cast(id % 4 as int) AS cell")
    IndexManifest.publishBase(spark, mk(0, 1000), bdir,
      IndexManifest.TableSpec("cell", Seq("w"), bloomCols = Seq("vec_id")))
    IndexManifest.appendBatch(spark, mk(1000, 1000), bdir, "day_1")

    def probe(ids: Seq[Long]): (Seq[String], Int, Int) = {
      val st = IndexManifest.currentState(spark, bdir).get
      val (scan, zSkip, bSkip) = IndexManifest.planPoint(spark, bdir, st, "vec_id", ids)
      val rows = IndexManifest.readPoints(spark, bdir, "vec_id", ids)
        .select("vec_id", "w", "cell").collect().map(_.toString).sorted.toSeq
      (rows, scan.size, bSkip)
    }
    def oracle(ids: Seq[Long]): Seq[String] =
      IndexManifest.read(spark, bdir).filter(col("vec_id").isin(ids: _*))
        .select("vec_id", "w", "cell").collect().map(_.toString).sorted.toSeq

    // the declaration survives the log round-trip (delta resolve included)
    IndexManifest.currentState(spark, bdir).get.bloomCols shouldBe Seq("vec_id")

    val ids = Seq(533L, 1066L, 2132L) // = vec_ids of rows 1, 2, 4
    val (rows1, scanned1, bSkip1) = probe(ids)
    rows1 shouldBe oracle(ids)
    rows1.size shouldBe 3
    val total = IndexManifest.currentState(spark, bdir).get.files.size
    bSkip1 should be > 0             // blooms did real pruning…
    scanned1 should be < total       // …the scan is a strict subset
    // an ABSENT value: no false negatives means correctness is free; the
    // scan should collapse to (near) nothing — allow one FP file
    val (rowsAbsent, scannedAbsent, _) = probe(Seq(3999999L))
    rowsAbsent shouldBe empty
    scannedAbsent should be <= 1

    // a DV delete of a probed row: the probe still applies deletion vectors
    IndexManifest.deleteWhere(spark, bdir, col("vec_id") === 533L, "purge_1")
    probe(ids)._1 shouldBe oracle(ids)
    probe(ids)._1.size shouldBe 2

    // compaction rewrites every file — blooms are REWRITTEN with them
    IndexManifest.compact(spark, bdir, "w")
    val (rows2, _, bSkip2) = probe(ids)
    rows2 shouldBe oracle(ids)
    bSkip2 should be >= 0 // compaction may leave few files; exactness is the bar
    // …and a scattered probe over the compacted tree still skips when
    // there is more than one file to skip
    if (IndexManifest.currentState(spark, bdir).get.files.size > 1)
      probe(Seq(533L * 3 % 4000))._3 should be >= 0

    // a bloom-less table: planPoint degrades to zone maps only (no
    // footer reads, bloomSkipped always 0)
    val plain = "/tmp/graft_llm/manifest_spec/bloom_plain"
    val pp = new Path(plain)
    pp.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(pp, true)
    IndexManifest.publishBase(spark, mk(0, 200), plain,
      IndexManifest.TableSpec("cell", Seq("w")))
    val pst = IndexManifest.currentState(spark, plain).get
    IndexManifest.planPoint(spark, plain, pst, "vec_id", Seq(533L))._3 shouldBe 0
    IndexManifest.readPoints(spark, plain, "vec_id", Seq(533L))
      .select("vec_id").collect().map(_.getLong(0)).toSeq shouldBe Seq(533L)
  }

  test("parsed-state memo (r14) never serves a stale tree: republish and out-of-band swap") {
    // in-JVM wipe + republish at the SAME path/generation: tryPublish
    // drops the tree's memo entries, so the new content is served
    freshIndex()
    served() shouldBe rowsOf(batch(0, 40))
    val (fs, root) = fsRoot
    val a = IndexManifest.current(fs, root).get
    IndexManifest.current(fs, root).get.files shouldBe a.files // memo hit, same content
    fs.delete(root, true)
    IndexManifest.publishBase(spark, batch(500, 7), dir)
    served() shouldBe rowsOf(batch(500, 7))
    // OUT-OF-BAND swap (no tryPublish in this JVM — simulating another
    // process replacing the tree): raw-copy a different tree's files
    // over this one; the memo key embeds the record file's
    // (name, mtime, length) identity, so the swapped log is re-parsed
    val otherDir = "/tmp/graft_llm/manifest_spec/index_other"
    val op = new Path(otherDir)
    fs.delete(op, true)
    IndexManifest.publishBase(spark, batch(900, 11), otherDir)
    IndexManifest.current(fs, root).get // fill the memo for the old tree
    fs.delete(root, true)
    org.apache.hadoop.fs.FileUtil.copy(fs, op, fs, root, false, true,
      spark.sparkContext.hadoopConfiguration)
    served() shouldBe rowsOf(batch(900, 11))
    // a swap that keeps name, length AND mtime (`cp -a` and `rsync -a`
    // keep mtimes): two one-generation trees whose records differ in one
    // file name; b's record copied over a's, a's mtime restored — the
    // key's record checksum still tells them apart
    def record(d: String, w: Int): Path = {
      val r = new Path(d)
      fs.delete(r, true)
      IndexManifest.tryWriteManifest(fs, r, 1L,
        Seq(IndexManifest.FileEntry(s"cell=0/ingest-w_$w-part-0.parquet", 1L, 0L, 0L)),
        Seq("w:1")) shouldBe true
      new Path(r, "_manifests/manifest-000000001.json")
    }
    val recA = record(dir + "_swap_a", 1)
    val recB = record(dir + "_swap_b", 2)
    val rootA = new Path(dir + "_swap_a")
    IndexManifest.resolve(fs, rootA, 1L).paths shouldBe Seq("cell=0/ingest-w_1-part-0.parquet")
    val mtime = fs.getFileStatus(recA).getModificationTime
    val bytes = { val in = fs.open(recB); try in.readAllBytes() finally in.close() }
    bytes.length.toLong shouldBe fs.getFileStatus(recA).getLen
    val out = fs.create(recA, true)
    try out.write(bytes) finally out.close()
    fs.setTimes(recA, mtime, -1)
    fs.getFileStatus(recA).getModificationTime shouldBe mtime
    IndexManifest.resolve(fs, rootA, 1L).paths shouldBe Seq("cell=0/ingest-w_2-part-0.parquet")
  }

  test("parsed-state memo is bounded: a reader following a writer holds at most the cap") {
    // a metadata-only tree with more generations than the memo holds,
    // each resolved once, as a reader tailing an external writer does
    val lruDir = "/tmp/graft_llm/manifest_spec/index_lru"
    val root = new Path(lruDir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(root, true)
    def entry(g: Long) = IndexManifest.FileEntry(s"cell=0/ingest-w_$g-part-0.parquet", 1L, g, g)
    IndexManifest.tryWriteManifest(fs, root, 1L, Seq(entry(1L)), Seq("w:1")) shouldBe true
    val gens = IndexManifest.StateMemoCap + 16
    (2 to gens).foreach { g =>
      val prev = IndexManifest.resolveUncached(fs, root, g - 1L)
      IndexManifest.tryWriteDeltaForBench(fs, root, prev, Seq(entry(g.toLong)),
        Map("w" -> g.toLong)) shouldBe true
    }
    val first = IndexManifest.resolve(fs, root, 1L)
    val states = (2 to gens).map(g => IndexManifest.resolve(fs, root, g.toLong))
    IndexManifest.stateMemoSize shouldBe IndexManifest.StateMemoCap
    states.last.files.size shouldBe gens
    IndexManifest.resolve(fs, root, gens.toLong) should be theSameInstanceAs states.last
    // the least recently used generation was evicted and re-parses
    IndexManifest.resolve(fs, root, 1L) should not be theSameInstanceAs(first)
    IndexManifest.stateMemoSize shouldBe IndexManifest.StateMemoCap
  }
}
