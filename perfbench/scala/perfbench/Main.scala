package perfbench

import java.io.File
import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal
import org.apache.spark.sql.SparkSession

/** One measured operation: a load call or one query. `parts` splits its
  * time (query build/exec); `extra` carries figures a check produced. */
case class Op(name: String, seconds: Double, rows: Long, failure: Option[String],
              group: String = "", parts: Map[String, Double] = Map.empty,
              extra: Map[String, Double] = Map.empty) {
  def ok: Boolean = failure.isEmpty
}

/** A benchmark workload. The runner owns the session and the clock. */
trait Workload {
  /** One set-up repetition on a fresh session: generate inputs, pre-populate
    * and stage whatever the passes read. Passes leave these inputs as they
    * found them, so every pass does the same work. */
  def setUp(spark: SparkSession): Unit
  /** One pass over the workload's operations. The first pass of a run is
    * the cold pass. */
  def pass(spark: SparkSession, tr: Tracer): Seq[Op]
  /** Per-layer metrics from isolated calls (traced run only), given the
    * traced passes. */
  def layers(spark: SparkSession, tr: Tracer, counters: Counters, traced: Seq[Seq[Op]]): Map[String, Double]
}

object Main {
  case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
                  work: File, fixture: String, pins: File, pinOut: Option[File])

  private def parse(argv: Seq[String]): Args = {
    val m = argv.grouped(2).map {
      case Seq(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(s"bad arguments: ${other.mkString(" ")}")
    }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble, need("trace") == "1",
      new File(need("work")), need("fixture"), new File(need("pins")), m.get("pin-out").map(new File(_)))
  }

  val SetupReps = 3
  /** Warm passes at least, whatever the run length, so that their median
    * passes over one pass slowed by a burst of host load; a traced run
    * needs one more, so that it has traced and untraced warm passes. */
  val MinWarmPasses = 3

  def main(argv: Array[String]): Unit = {
    val a = parse(argv.toSeq)
    a.work.mkdirs()
    val w: Workload = a.workload match {
      case "etl_workbook" => new EtlWorkbook(a.work, a.seed)
      case "query_suite" => new QuerySuite(a.fixture, if (a.pinOut.isDefined) Map.empty else Pins.read(a.pins))
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    // wall time of each phase of the run, kept with the result
    val phases = ArrayBuffer[(String, Double)]()
    var phaseStart = System.nanoTime()
    def phaseEnd(name: String): Unit = {
      val now = System.nanoTime()
      phases += name -> (now - phaseStart) / 1e9
      phaseStart = now
    }

    // Set-up is repeated, each time on a new session, and its median
    // reported. The first repetition also pays for the JVM's first session,
    // as a fresh process does; the median is one of the later two.
    var spark: SparkSession = null
    val setupTimes = (1 to SetupReps).map { _ =>
      val t0 = System.nanoTime()
      if (spark != null) spark.stop()
      spark = graft.GraftSession.build()
      w.setUp(spark)
      warmUp(spark, a.fixture)
      (System.nanoTime() - t0) / 1e9
    }
    phaseEnd("setup")

    a.pinOut.foreach { f =>
      Pins.write(f, w.pass(spark, new Tracer(false)))
      spark.stop()
      return
    }

    val cpus = spark.sparkContext.defaultParallelism
    val off = new Tracer(false)
    val tracer = new Tracer(a.trace)
    val counters = new Counters
    // The cold pass is the first pass of the process, on a fresh session:
    // memos (scoped to the Spark application) empty, code not yet loaded
    // or compiled, as for a one-shot `graft.etl.Main` load. Warm passes
    // follow for `seconds`. The untraced passes give the end-to-end
    // numbers. In the traced run, warm passes alternate between untraced
    // and traced (spans and listeners on) and end on an untraced one; the
    // tracing overhead is each traced pass against the mean of the two
    // untraced passes around it, so JIT warm-up still under way cancels.
    val passes = ArrayBuffer[(Seq[Op], Boolean)]() // (ops, traced) in run order
    passes += w.pass(spark, off) -> false
    phaseEnd("cold")
    val minPasses = 1 + MinWarmPasses + (if (a.trace) 1 else 0)
    var tracedWall = 0.0
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    while (passes.size < minPasses || elapsed < a.seconds || (a.trace && passes.last._2)) {
      if (a.trace && passes.size % 2 == 0) {
        counters.register(spark)
        val t1 = System.nanoTime()
        passes += tracer("run.pass")(w.pass(spark, tracer)) -> true
        tracedWall += (System.nanoTime() - t1) / 1e9
        counters.unregister(spark)
      } else passes += w.pass(spark, off) -> false
    }
    phaseEnd("warm")
    val untraced = passes.collect { case (p, false) => p }.toSeq
    val traced = passes.collect { case (p, true) => p }.toSeq
    val warm = untraced.tail
    val ops = passes.flatMap(_._1).toSeq
    val failures = ops.flatMap(o => o.failure.map(f => s"${o.name}: $f"))

    val metrics: Map[String, Double] =
      if (!a.trace) endToEnd(setupTimes, untraced.head, warm, retainedHeapMb(spark))
      else {
        val perPass = counters.totals.map { case (k, v) => k -> v.toDouble / traced.size }
        counters.register(spark) // the layer probes count tasks
        val layers = w.layers(spark, tracer, counters, traced)
        counters.unregister(spark)
        val passSec = (ps: Seq[Seq[Op]]) => median(ps.map(_.map(_.seconds).sum))
        val secs = passes.map(_._1.map(_.seconds).sum)
        val overhead = median(passes.indices.filter(passes(_)._2)
          .map(i => secs(i) - (secs(i - 1) + secs(i + 1)) / 2))
        val mb = (b: Double) => b / 1048576.0
        val sc = spark.sparkContext
        Map(
          "spark.plan_s" -> perPass("plan_ms") / 1e3,
          "spark.jobs" -> perPass("jobs"),
          "spark.stages" -> perPass("stages"),
          "spark.tasks" -> perPass("tasks"),
          "spark.failed_tasks" -> perPass("failed_tasks"),
          "spark.task_cpu_s" -> perPass("task_cpu_ns") / 1e9,
          "spark.task_gc_s" -> perPass("task_gc_ms") / 1e3,
          "spark.shuffle_read_mb" -> mb(perPass("shuffle_read_b")),
          "spark.shuffle_write_mb" -> mb(perPass("shuffle_write_b")),
          "spark.spill_mb" -> mb(perPass("spill_b")),
          "spark.input_mb" -> mb(perPass("input_b")),
          "spark.output_mb" -> mb(perPass("output_b")),
          "spark.core_util" -> perPass("task_run_ms") * traced.size / 1e3 / (tracedWall * cpus),
          "cache.pinned_rdds" -> sc.getPersistentRDDs.size.toDouble,
          "cache.pinned_mb" -> mb(sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum.toDouble),
          "trace.overhead_s" -> overhead,
          "trace.overhead_share" -> overhead / passSec(warm)) ++ layers
      }

    val (cal, calPar) = try (graft.Bench.calibrationSec(spark, a.fixture),
      graft.Bench.calibrationParSec(spark, a.fixture))
    catch { case NonFatal(_) => (-1.0, -1.0) }
    val host = Map("cpus" -> cpus, "jdk" -> System.getProperty("java.version"),
      "calibration_s" -> cal, "calibration_par_s" -> calPar)
    val withHost = if (a.trace) metrics ++ Map("host.cpus" -> cpus.toDouble,
      "host.calibration_s" -> cal, "host.calibration_par_s" -> calPar) else metrics
    spark.stop()
    phaseEnd(if (a.trace) "layers_and_host" else "host")

    val out = Json(Map(
      "workload" -> a.workload, "seed" -> a.seed, "trace" -> a.trace,
      "setup_runs_s" -> setupTimes, "phases_s" -> phases.toMap,
      "attempted" -> ops.size, "failed" -> failures.size, "failures" -> failures.take(20),
      "host" -> host, "metrics" -> withHost,
      "warm_samples" -> warm.flatten.size, "p95_samples_beyond" -> beyond(warm.flatten.size),
      "passes" -> passes.zipWithIndex.map { case ((p, t), i) => Map("index" -> i,
        "traced" -> t, "ops" -> p.map(o => Map("name" -> o.name,
          "group" -> o.group, "seconds" -> o.seconds, "rows" -> o.rows, "ok" -> o.ok,
          "parts" -> o.parts, "extra" -> o.extra))) },
      "spans" -> tracer.spans.map(s => Map("id" -> s.id, "parent" -> s.parent,
        "name" -> s.name, "start_s" -> s.startNs / 1e9, "end_s" -> s.endNs / 1e9)),
      "self_s" -> tracer.selfSeconds))
    println("PERFBENCH_RESULT " + out)
  }

  /** A small fixed Spark job that runs after every set-up repetition. */
  private def warmUp(spark: SparkSession, fixture: String): Unit =
    spark.read.parquet(s"$fixture/lineitem.parquet").groupBy("l_returnflag").count().collect()

  def endToEnd(setupTimes: Seq[Double], cold: Seq[Op], warm: Seq[Seq[Op]], heapMb: Double): Map[String, Double] = {
    val samples = warm.flatten.map(_.seconds).sorted
    Map(
      "setup_s" -> median(setupTimes),
      "cold_suite_s" -> cold.map(_.seconds).sum,
      "suite_s" -> median(warm.map(_.map(_.seconds).sum)),
      "rows_per_s" -> median(warm.map(p => p.map(_.rows).sum / p.map(_.seconds).sum)),
      "query_p50_s" -> median(samples),
      "query_p95_s" -> samples(tailIndex(samples.size)),
      "retained_heap_mb" -> heapMb)
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Index of the tail percentile in `n` sorted samples: the 95th, or the
    * highest one that still leaves 10 samples beyond it, and never below
    * the median. */
  def tailIndex(n: Int): Int =
    math.max(n / 2, math.min(math.ceil(0.95 * n).toInt - 1, n - 11))
  def beyond(n: Int): Int = n - 1 - tailIndex(n)

  /** Heap still in use after full collections. Spark frees the blocks of
    * an unreachable broadcast, shuffle or RDD only after a collection, from
    * its ContextCleaner thread, so the heap is collected until it stops
    * shrinking by more than 1 MB. */
  private def retainedHeapMb(spark: SparkSession): Double = {
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    val mem = java.lang.management.ManagementFactory.getMemoryMXBean
    def collected(): Long = { System.gc(); mem.getHeapMemoryUsage.getUsed }
    var before = collected()
    var after = { Thread.sleep(200); collected() }
    var rounds = 2
    while (before - after > (1L << 20) && rounds < 10) {
      before = after
      Thread.sleep(200)
      after = collected()
      rounds += 1
    }
    after / 1048576.0
  }
}

/** Minimal JSON rendering for the result line. */
object Json {
  def apply(v: Any): String = v match {
    case null => "null"
    case s: String => graft.JsonStr.quote(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case b: Boolean => b.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => m.toSeq.sortBy(_._1.toString)
      .map { case (k, x) => graft.JsonStr.quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case other => graft.JsonStr.quote(other.toString)
  }
}
