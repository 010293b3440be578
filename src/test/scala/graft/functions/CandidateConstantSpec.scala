package graft.functions

import graft.{SparkEntry, TestSpark}
import org.apache.spark.sql.{AnalysisException, Column, DataFrame}
import org.apache.spark.sql.execution.{ReusedSubqueryExec, SubqueryExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** The candidate-constant contract of the fused ANN expressions: every
  * candidate-side argument is a query constant (a literal or an
  * uncorrelated scalar subquery), each expression instance decodes its
  * own constant, and the IVF members table is indexed by cell id. */
class CandidateConstantSpec extends AnyFunSuite with Matchers with AdaptiveSparkPlanHelper {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def registerAll(): Unit = {
    L2Micro.register(spark)
    ArgminL2Micro.register(spark)
    ArgminTop2L2Micro.register(spark)
    ArgminTopNL2Micro.register(spark)
    ArgminPairL2Micro.register(spark)
    ArgminStructL2Micro.register(spark)
    PqEncodeMicro.register(spark)
  }

  private def candsDf(cents: Seq[(Int, Seq[Double])]): DataFrame =
    cents.toDF("cand", "cvec").agg(collect_list(struct(col("cand"), col("cvec"))).as("cands"))

  /** (vec_id → cand) of the l2_micro fan-out's first (dist, cand) row. */
  private def fanoutArgmin(v: DataFrame, cents: Seq[(Int, Seq[Double])]): Map[Long, Int] =
    v.crossJoin(broadcast(cents.toDF("cand", "cvec")))
      .select(col("vec_id"), col("cand"), expr("l2_micro(embedding, cvec)").as("dist"))
      .groupBy("vec_id").agg(min(struct(col("dist"), col("cand"))).as("m"))
      .collect().map(r => r.getLong(0) -> r.getStruct(1).getInt(1)).toMap

  test("a column-valued candidate argument fails analysis, naming the function") {
    registerAll()
    val cands = "array(named_struct('cand', 1, 'cvec', array(500000D)))"
    val members = s"array(named_struct('cell', 0, 'cands', $cands))"
    val cbs = "array(named_struct('j', 0, 'code', 0, 'cw', array(500000D)))"
    val df = spark.sql(
      s"SELECT array(CAST(0.5 AS FLOAT)) AS embedding, array(500000D) AS em, " +
        s"array(0D) AS shift, $cands AS cands, $members AS members, $cbs AS cbs")
    Seq(
      "argmin_l2_micro" -> "argmin_l2_micro(embedding, cands)",
      "argmin_top2_l2_micro" -> "argmin_top2_l2_micro(embedding, cands)",
      "argmin_topn_l2_micro" -> "argmin_topn_l2_micro(embedding, cands, 2)",
      "argmin_pair_l2_micro" -> "argmin_pair_l2_micro(embedding, members, 0, 1)",
      "argmin_struct_l2_micro" -> "argmin_struct_l2_micro(embedding, members, 0)",
      "pq_encode_micro" -> "pq_encode_micro(em, cbs)",
      "pq_encode_shift_micro" -> "pq_encode_shift_micro(em, shift, cbs)"
    ).foreach { case (fn, call) =>
      val e = intercept[AnalysisException](df.selectExpr(call))
      e.getMessage should include(s"$fn: the candidate argument must be a query constant")
      // the same call on the constant itself analyzes and runs
      val constant = call.replace("cands", cands).replace("members", members)
        .replace("cbs", cbs)
      noException should be thrownBy df.selectExpr(constant).collect()
    }
  }

  test("two constants in one plan each match their own fan-out (codegen on and off)") {
    registerAll()
    val rnd = new scala.util.Random(5)
    val dims = 8
    val v = (1 to 120).map(i => (i.toLong, Seq.fill(dims)(rnd.nextFloat() * 2 - 1)))
      .toDF("vec_id", "embedding")
    def cents(n: Int, base: Int) = (0 until n).map(c =>
      (base + c, Seq.fill(dims)((rnd.nextDouble() * 2 - 1) * 1000000.0)))
    val a = cents(7, 0)
    val b = cents(5, 100)
    def both(f: (Column, Column) => Column): DataFrame =
      v.select(lit(1).as("set"), col("vec_id"), f(col("embedding"), candsDf(a).scalar()).as("c"))
        .union(v.select(lit(2).as("set"), col("vec_id"),
          f(col("embedding"), candsDf(b).scalar()).as("c")))
    val viaArgmin = both(call_function("argmin_l2_micro", _, _))
    val viaTop2 = both((e, c) => call_function("argmin_top2_l2_micro", e, c).getField("c1"))
    val want = Map(1 -> fanoutArgmin(v, a), 2 -> fanoutArgmin(v, b))
    want(1).values.toSet should not be want(2).values.toSet
    Seq("true", "false").foreach { cg =>
      spark.conf.set("spark.sql.codegen.wholeStage", cg)
      try Seq(viaArgmin, viaTop2).foreach { df =>
        val got = df.collect().groupBy(_.getInt(0)).map { case (set, rs) =>
          set -> rs.map(r => r.getLong(1) -> r.getInt(2)).toMap
        }
        got shouldBe want
      } finally spark.conf.set("spark.sql.codegen.wholeStage", "true")
    }
  }

  test("members table: a memberless probed cell drops the row; a memberless or absent cell2 probes cell1 only") {
    registerAll()
    def cv(x: Double) = Seq(x * 1000000.0, 0.0)
    def emb(x: Float) = Seq(x, 0f)
    // coarse cells at x = 0 (10), -1 (20) and 3 (30); cell 20 has no
    // members. Vector 1 sits on cell 20, vector 2's second cell is the
    // memberless 20, vector 3 probes 30 then 10, and its best member
    // (cand 1, x = 1.7) is in the second cell.
    val coarse = Seq(10 -> cv(0), 20 -> cv(-1), 30 -> cv(3))
    val members = Seq((10, 1, cv(1.7)), (10, 2, cv(-0.1)), (30, 3, cv(3.1)), (30, 4, cv(2.5)))
      .toDF("cell", "cand", "cvec")
      .groupBy("cell").agg(collect_list(struct(col("cand"), col("cvec"))).as("cands"))
    val vecs = Seq((1L, 0, emb(-1.0f)), (2L, 0, emb(-0.3f)), (3L, 0, emb(1.8f)))
      .toDF("vec_id", "label", "embedding")
    def assigned(coarseSet: Seq[(Int, Seq[Double])], nprobe: Int): Map[Long, Int] =
      graft.queries.Llm.probeCells(spark, vecs,
        candsDf(coarseSet).withColumnRenamed("cands", "coarse_cands"), members, nprobe)
        .collect().map(r => r.getLong(0) -> r.getInt(2)).toMap
    assigned(coarse, 2) shouldBe Map(2L -> 2, 3L -> 1)
    // the general-nprobe shape drops a probed cell without members too:
    // with one probe vector 1 has nothing left, with three it keeps 10, 30
    assigned(coarse, 1) shouldBe Map(2L -> 2, 3L -> 4)
    assigned(coarse, 3) shouldBe Map(1L -> 2, 2L -> 2, 3L -> 1)
    // one coarse cell: cell2 is absent, every vector probes cell 10 only
    assigned(Seq(10 -> cv(0)), 2) shouldBe Map(1L -> 2, 2L -> 2, 3L -> 1)
  }

  test("q99, q201 and q216 run each distinct candidate relation as one Subquery") {
    val sf = "/root/testdata/sf0.001"
    Seq("q99_centroid_assign", "q201_ivf_assign", "q216_pq_assign").foreach { q =>
      val df = SparkEntry.queries(q)(spark, sf)
      df.collect()
      val plan = df.queryExecution.executedPlan
      val subs = collectWithSubqueries(plan) { case s: SubqueryExec => s }
      val reused = collectWithSubqueries(plan) { case r: ReusedSubqueryExec => r }
      withClue(s"$q:\n$plan") {
        subs should not be empty
        subs.map(_.child.canonicalized).distinct.size shouldBe subs.size
        reused.foreach(r => subs.map(_.child.canonicalized) should contain(r.child.child.canonicalized))
      }
    }
  }
}
