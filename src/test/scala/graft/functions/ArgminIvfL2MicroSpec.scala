package graft.functions

import graft.TestSpark
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** Parity of the IVF companion expressions against the relational
  * fan-out (one l2_micro row per (vector, candidate), ranked by
  * (dist, cand)): top-2's second cell vs the fan-out's second row, and
  * argmin-pair over a two-cell members table vs the fan-out's first
  * row — plus degenerate inputs. */
class ArgminIvfL2MicroSpec extends AnyFunSuite with Matchers {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def registerAll(): Unit = {
    L2Micro.register(spark)
    ArgminL2Micro.register(spark)
    ArgminTop2L2Micro.register(spark)
    ArgminPairL2Micro.register(spark)
  }

  private def candsDf(cents: Seq[(Int, Seq[Double])]) =
    cents.toDF("cand", "cvec")
      .agg(collect_list(struct(col("cand"), col("cvec"))).as("cands"))

  /** One-row members table: cell id → that cell's candidates. */
  private def membersDf(cells: Seq[(Int, Seq[(Int, Seq[Double])])]) =
    cells.flatMap { case (cell, cs) => cs.map { case (c, v) => (cell, c, v) } }
      .toDF("cell", "cand", "cvec")
      .groupBy("cell").agg(collect_list(struct(col("cand"), col("cvec"))).as("cands"))
      .agg(collect_list(struct(col("cell"), col("cands"))).as("members"))

  private def top2(emb: Column, cands: Column): Column =
    call_function("argmin_top2_l2_micro", emb, cands)

  /** (vec_id → cand) at rank `rn` of the (dist, cand) order of the
    * l2_micro fan-out over every candidate. */
  private def fanoutRank(v: DataFrame, cents: Seq[(Int, Seq[Double])], rn: Int): Map[Long, Int] =
    v.crossJoin(broadcast(cents.toDF("cand", "cvec")))
      .select(col("vec_id"), col("cand"), expr("l2_micro(embedding, cvec)").as("dist"))
      .withColumn("rn", row_number().over(
        Window.partitionBy("vec_id").orderBy(col("dist"), col("cand"))))
      .filter(col("rn") === rn)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap

  test("argmin2 (top2.c2) == second row of the l2_micro fan-out") {
    registerAll()
    val rnd = new scala.util.Random(11)
    val dims = 16
    val vecs = (1 to 150).map(i => (i.toLong, Seq.fill(dims)(rnd.nextFloat() * 2 - 1)))
    val cents = (0 until 9).map(c =>
      (c, Seq.fill(dims)((rnd.nextDouble() * 2 - 1) * 1000000.0)))
    val v = vecs.toDF("vec_id", "embedding")
    val ref = fanoutRank(v, cents, 2)
    val got = v.select(col("vec_id"), top2(col("embedding"), candsDf(cents).scalar()).as("t"))
      .select(col("vec_id"), col("t.c2"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    got shouldBe ref
  }

  test("argmin_pair == argmin over concat on random split candidate sets") {
    registerAll()
    val rnd = new scala.util.Random(23)
    val dims = 12
    val vecs = (1 to 120).map(i => (i.toLong, Seq.fill(dims)(rnd.nextFloat() * 2 - 1)))
    val cents = (0 until 11).map(c =>
      (c, Seq.fill(dims)((rnd.nextDouble() * 2 - 1) * 1000000.0)))
    val (ca, cb) = cents.partition(_._1 % 2 == 0)
    val v = vecs.toDF("vec_id", "embedding")
    // the union of both cells is every candidate: the reference is the
    // fan-out's first row
    val ref = fanoutRank(v, cents, 1)
    val got = v.select(col("vec_id"),
      call_function("argmin_pair_l2_micro", col("embedding"),
        membersDf(Seq(0 -> ca, 1 -> cb)).scalar(), lit(0), lit(1)).as("a"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    got shouldBe ref
  }

  test("argmin_top2 == (argmin, argmin2) in one pass, incl. the <2-candidate edge") {
    registerAll()
    val rnd = new scala.util.Random(17)
    val dims = 16
    val vecs = (1 to 150).map(i => (i.toLong, Seq.fill(dims)(rnd.nextFloat() * 2 - 1)))
    val cents = (0 until 9).map(c =>
      (c, Seq.fill(dims)((rnd.nextDouble() * 2 - 1) * 1000000.0)))
    val v = vecs.toDF("vec_id", "embedding")
    val cands = candsDf(cents).scalar()
    val got = v.select(col("vec_id"), top2(col("embedding"), cands).as("t"))
      .select(col("vec_id"), col("t.c1"), col("t.c2"))
      .collect().map(r => r.getLong(0) -> ((r.getInt(1), r.getInt(2)))).toMap
    // argmin2 is the fan-out's second row
    val second = fanoutRank(v, cents, 2)
    val ref = v.select(col("vec_id"),
      call_function("argmin_l2_micro", col("embedding"), cands).as("a"))
      .collect().map(r => r.getLong(0) -> ((r.getInt(1), second(r.getLong(0))))).toMap
    got shouldBe ref
    // one candidate → c1 set, c2 null
    val one = Seq((1L, Seq(0.5f))).toDF("vec_id", "embedding")
      .select(top2(col("embedding"), candsDf(Seq(7 -> Seq(500000.0))).scalar()).as("t"))
      .select(col("t.c1"), col("t.c2")).head()
    one.getInt(0) shouldBe 7
    one.isNullAt(1) shouldBe true
  }

  test("argmin_pair treats a NULL second array as empty, not as unknown") {
    registerAll()
    // the second cell is NULL: its member array is absent, so the scan
    // covers the first cell only
    val v = Seq((1L, Seq(0.5f, 0.5f))).toDF("vec_id", "embedding")
    val r = v.select(call_function("argmin_pair_l2_micro", col("embedding"),
      membersDf(Seq(0 -> Seq(3 -> Seq(500000.0, 500000.0)))).scalar(),
      lit(0), lit(null).cast("int")))
    r.head().getInt(0) shouldBe 3
  }

  test("argmin2 degenerate inputs: <2 candidates yield null; ties break by cand") {
    registerAll()
    val v = Seq((1L, Seq(0.5f))).toDF("vec_id", "embedding")
    v.select(top2(col("embedding"), candsDf(Seq(7 -> Seq(500000.0))).scalar()).getField("c2"))
      .head().isNullAt(0) shouldBe true
    // three candidates, two tied at the best distance: best = 2,
    // second = 9 (the other tied one), not the farther 5
    val c = Seq(9 -> Seq(500000.0), 5 -> Seq(900000.0), 2 -> Seq(500000.0))
    v.select(top2(col("embedding"), candsDf(c).scalar()).getField("c2"))
      .head().getInt(0) shouldBe 9
  }
}
