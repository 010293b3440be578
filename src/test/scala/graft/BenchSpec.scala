package graft

import graft.queries.Q
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** Bench failure honesty: a query that throws must surface as the -1
  * sentinel and an `errors` count in the JSON — never as a silently-timed
  * "suspiciously fast" row — and must not poison the healthy queries'
  * timings or the total. */
class BenchSpec extends AnyFunSuite with Matchers {
  private lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  private val healthy = Q.noOracle((s, d) =>
    Tables.nation(s, d).select("n_nationkey"))
  private val brokenBuild = Q.noOracle((_, _) =>
    throw new RuntimeException("deliberately malformed query"))
  // builds fine, dies at action time — the harder case: the failure
  // happens inside count(), after timing started
  private val brokenAction = Q.noOracle((s, d) =>
    Tables.nation(s, d).filter(
      org.apache.spark.sql.functions.expr("assert_true(n_nationkey < 0) IS NULL")))

  test("failed queries report -1, healthy queries report real time") {
    val res = Bench.timeQueries(spark, sf,
      Seq("ok" -> healthy, "bad_build" -> brokenBuild, "bad_action" -> brokenAction),
      iters = 1).toMap
    res("ok") should be >= 0.0
    res("bad_build") shouldBe -1.0
    res("bad_action") shouldBe -1.0
  }

  test("JSON excludes failures from the total and counts them in errors") {
    val json = Bench.renderJson(
      Seq("a" -> 1.5, "b" -> -1.0, "c" -> 2.0), iters = 2, sfDir = sf)
    json should include(""""value":3.5""")
    json should include(""""errors":1""")
    json should include(""""b":-1.0""")
    // the line must stay parseable by the driver's json.load
    json.count(_ == '{') shouldBe json.count(_ == '}')
    json should startWith("{")
    json should endWith("}")
  }

  test("compact line fits the driver's 2000-char tail window at full registry size") {
    // simulate the full registry with realistic key lengths
    val results = (1 to 250).map(i => f"q${i}%03d_some_longish_query_name" -> (i * 0.013))
    val json = Bench.renderCompactJson(results, iters = 2, sfDir = sf)
    json.length should be < 1800 // leaves room for sbt's trailing [success] line
    json should startWith("{")
    json should endWith("}")
    json.count(_ == '{') shouldBe json.count(_ == '}')
    json should include(""""queries_total":250""")
    json should include(""""metric":"total"""")
  }

  test("compact line always includes failures even when they are not slowest") {
    val results = Seq("slow" -> 9.0, "bad" -> -1.0) ++
      (1 to 60).map(i => s"q$i" -> (1.0 + i * 0.01))
    val json = Bench.renderCompactJson(results, iters = 1, sfDir = sf, keep = 5)
    json should include(""""bad":-1.0""")
    json should include(""""errors":1""")
    json should include(""""slow":9.0""")
  }

  test("both calibration fields ride every artifact (r13 parallel calibration)") {
    val json = Bench.renderJson(Seq("a" -> 1.0), 1, sf, calSec = 0.5, calParSec = 0.25)
    json should include(""""calibration_sec":0.5""")
    json should include(""""calibration_par_sec":0.25""")
    val compact = Bench.renderCompactJson(Seq("a" -> 1.0), 1, sf,
      calSec = 0.5, calParSec = 0.25)
    compact should include(""""calibration_par_sec":0.25""")
    compact.count(_ == '{') shouldBe compact.count(_ == '}')
  }

  test("cpus rides both JSON lines (r14, advisor ask: calibration_par_sec is only comparable at equal parallelism)") {
    Bench.renderJson(Seq("a" -> 1.0), 1, sf, cpus = 32) should include(""""cpus":32""")
    val compact = Bench.renderCompactJson(Seq("a" -> 1.0), 1, sf, cpus = 8)
    compact should include(""""cpus":8""")
    compact.count(_ == '{') shouldBe compact.count(_ == '}')
  }

  test("the de-noising setting rides both JSON lines; the compact line still fits the tail window") {
    val json = Bench.renderJson(Seq("a" -> 1.0), 1, sf, slowExtraIters = 1, slowSec = 1.5)
    json should include(""""slow_extra_iters":1,"slow_sec":1.5""")
    val results = (1 to 250).map(i => f"q${i}%03d_some_longish_query_name" -> (i * 0.013))
    val compact = Bench.renderCompactJson(results, iters = 2, sfDir = sf, calSec = 0.5,
      calParSec = 0.25, cpus = 32, slowExtraIters = 1, slowSec = 1.5)
    compact should include(""""slow_extra_iters":1,"slow_sec":1.5""")
    compact.length should be < 1800
    compact.count(_ == '{') shouldBe compact.count(_ == '}')
    // unstated settings read -1, like the calibration fields
    Bench.renderCompactJson(Seq("a" -> 1.0), 1, sf) should include(""""slow_extra_iters":-1""")
  }

  test("slow queries get extra de-noising iterations; fast ones do not (r14 verdict ask #2)") {
    var slowCalls = 0
    val counted = Q.noOracle { (s, d) =>
      slowCalls += 1
      Tables.nation(s, d).select("n_nationkey")
    }
    // threshold 0: every reading is "slow", so 1 base + 2 extra = 3 builds
    Bench.timeQueries(spark, sf, Seq("c" -> counted), iters = 1,
      slowExtraIters = 2, slowSec = 0.0)
    slowCalls shouldBe 3
    var fastCalls = 0
    val counted2 = Q.noOracle { (s, d) =>
      fastCalls += 1
      Tables.nation(s, d).select("n_nationkey")
    }
    // unreachable threshold: base iterations only
    Bench.timeQueries(spark, sf, Seq("c" -> counted2), iters = 2,
      slowExtraIters = 2, slowSec = 1e9)
    fastCalls shouldBe 2
  }

  test("a failure on one iteration marks the query failed even if another succeeds") {
    var calls = 0
    val flaky = Q.noOracle { (s, d) =>
      calls += 1
      if (calls == 1) throw new RuntimeException("first-iteration failure")
      Tables.nation(s, d).select("n_nationkey")
    }
    Bench.timeQueries(spark, sf, Seq("flaky" -> flaky), iters = 2)
      .head._2 shouldBe -1.0
  }
}
