package perfbench

import java.io.File
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal
import org.apache.spark.sql.SparkSession
import graft.queries._

/** The graded query surface on the fixed fixture in `fixture/`. The seed is
  * unused: the fixture never changes. Each query goes through
  * `GraftSession.build()` and `GraftConf.scoped`, as in `graft.Bench`;
  * `build` and `count()` are timed apart. Each query's row count must
  * equal the count pinned in `expected/query_rows.json`. */
final class QuerySuite(fixture: String, pins: Map[String, Long]) extends Workload {
  import QuerySuite._

  def setUp(spark: SparkSession): Unit = {
    // parquet footers; the runner's warm-up job covers the first-job machinery
    FixtureTables.foreach(t => spark.read.parquet(s"$fixture/$t.parquet").schema)
  }

  def pass(spark: SparkSession, tr: Tracer): Seq[Op] = selected.map { case (module, key, q) =>
    var build, exec = 0.0
    var rows = -1L
    val failure = try {
      graft.GraftConf.scoped(spark) {
        val t0 = System.nanoTime()
        val df = tr("queries.build")(q.build(spark, fixture))
        val t1 = System.nanoTime()
        rows = tr("queries.exec")(df.count())
        build = (t1 - t0) / 1e9
        exec = (System.nanoTime() - t1) / 1e9
      }
      pins.get(key) match {
        case Some(n) if n == rows => None
        case Some(n) => Some(s"$rows rows, pinned $n")
        case None => if (pins.isEmpty) None else Some("no pinned row count") // empty while pinning
      }
    } catch { case NonFatal(e) => Some(s"${e.getClass.getSimpleName}: ${e.getMessage}") }
    Op(key, build + exec, math.max(rows, 0L), failure, module, Map("build" -> build, "exec" -> exec))
  }

  def layers(spark: SparkSession, tr: Tracer, counters: Counters, traced: Seq[Seq[Op]]): Map[String, Double] = {
    val n = traced.size.toDouble
    val ops = traced.flatten
    val perModule = ops.groupBy(_.group).map { case (m, os) => s"queries.${m}_s" -> os.map(_.seconds).sum / n }
    perModule ++ Map(
      "queries.build_s" -> ops.map(_.parts("build")).sum / n,
      "queries.exec_s" -> ops.map(_.parts("exec")).sum / n)
  }
}

object QuerySuite {
  val FixtureTables = Seq("region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "documents", "embeddings", "events")

  val Modules: Seq[(String, QueryModule)] = Seq(
    "Relational" -> Relational, "Windows" -> Windows, "Aggregates" -> Aggregates,
    "AdvancedJoins" -> AdvancedJoins, "Scalars" -> Scalars, "Llm" -> Llm,
    "VectorQuant" -> VectorQuant, "TableFormat" -> TableFormat,
    "StreamingBatch" -> StreamingBatch, "Sources" -> Sources, "Extras" -> Extras,
    "Analytics" -> Analytics, "TextScoring" -> TextScoring,
    "ScalePatterns" -> ScalePatterns, "Fuzzed" -> Fuzzed)

  /** The fixed subset a run times: for each module, the query whose warm
    * time on the fixture is nearest the module's median, so that the
    * subset's per-query times sit where the module's do (README.md shows
    * how its time follows the full pass). Queries whose first run in a
    * process takes over 2 s are passed over, or one query would be most of
    * every cold pass. TableFormat and Sources are left out: every one of
    * their queries stages files under a fixed /tmp path, and the benchmark
    * writes only inside its checkout. */
  val Subset: Seq[String] = Seq(
    "q08_join_left_outer", "q26_running_sum", "q34_minmax_by", "q36_range_join",
    "q42_math_funcs", "q133_bloom_decon", "q235_semdedup_sq8_agreement", "q64_sliding_window",
    "q123_lateral_topk", "q128_winsorize", "q105_unigram_lm", "q114_salted_join",
    "q195_fuzz_nested")

  lazy val selected: Seq[(String, String, Q)] = {
    require(Modules.flatMap(_._2.queries).size == graft.QueryRegistry.all.size,
      "QueryRegistry has a module this benchmark does not list")
    val byKey = Modules.flatMap { case (m, mod) => mod.queries.map { case (k, q) => k -> (m, q) } }.toMap
    Subset.map { k =>
      val (m, q) = byKey.getOrElse(k, throw new IllegalStateException(s"no query $k in QueryRegistry"))
      (m, k, q)
    }
  }
}

/** Row counts pinned from the tree that defined the benchmark. */
object Pins {
  def read(f: File): Map[String, Long] =
    new com.fasterxml.jackson.databind.ObjectMapper()
      .readValue(f, classOf[java.util.Map[String, Number]]).asScala
      .map { case (k, v) => k -> v.longValue }.toMap

  def write(f: File, ops: Seq[Op]): Unit = {
    val failed = ops.filterNot(_.ok)
    require(failed.isEmpty, s"cannot pin: ${failed.map(o => s"${o.name}: ${o.failure.get}").mkString("; ")}")
    java.nio.file.Files.writeString(f.toPath,
      ops.map(o => s"""  "${o.name}": ${o.rows}""").mkString("{\n", ",\n", "\n}\n"))
  }
}
