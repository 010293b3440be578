package graft.functions

import graft.TestSpark
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** Parity of the fused argmin expression against the reference fan-out
  * shape (one l2_micro row per (vector, candidate), argmin over
  * (dist, cand)), plus tie and degenerate-input behavior, on both the
  * interpreted (eval) and codegen paths. */
class ArgminL2MicroSpec extends AnyFunSuite with Matchers {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def candsDf(cents: Seq[(Int, Seq[Double])]) =
    cents.toDF("cand", "cvec")
      .agg(collect_list(struct(col("cand"), col("cvec"))).as("cands"))

  private def argmin(emb: Column, cands: Column): Column =
    call_function("argmin_l2_micro", emb, cands)

  test("matches the l2_micro fan-out argmin on random data (both codegen paths)") {
    val rnd = new scala.util.Random(7)
    val dims = 16
    val vecs = (1 to 200).map(i => (i.toLong, Seq.fill(dims)(rnd.nextFloat() * 2 - 1)))
    val cents = (0 until 13).map(c =>
      (c, Seq.fill(dims)((rnd.nextDouble() * 2 - 1) * 1000000.0)))

    L2Micro.register(spark)
    ArgminL2Micro.register(spark)
    val v = vecs.toDF("vec_id", "embedding")
    val fanout = v
      .crossJoin(broadcast(cents.toDF("cand", "cvec")))
      .select(col("vec_id"), col("cand"), expr("l2_micro(embedding, cvec)").as("dist"))
      .groupBy("vec_id")
      .agg(min(struct(col("dist"), col("cand"))).as("m"))
      .select(col("vec_id"), col("m.cand").as("assigned"))

    val fused = v
      .select(col("vec_id"), argmin(col("embedding"), candsDf(cents).scalar()).as("assigned"))

    Seq("true", "false").foreach { cg =>
      spark.conf.set("spark.sql.codegen.wholeStage", cg)
      try {
        val a = fanout.collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
        val b = fused.collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
        b shouldBe a
      } finally spark.conf.set("spark.sql.codegen.wholeStage", "true")
    }
  }

  test("ties break toward the smaller cand regardless of candidate order") {
    ArgminL2Micro.register(spark)
    val v = Seq((1L, Seq(0.5f, 0.5f))).toDF("vec_id", "embedding")
    val c = Seq(500000.0, 500000.0)
    // two identical centroids, listed larger-cand first
    val r = v.select(argmin(col("embedding"), candsDf(Seq(9 -> c, 3 -> c)).scalar()))
      .head().getInt(0)
    r shouldBe 3
  }

  test("empty candidate array and null inputs yield null") {
    ArgminL2Micro.register(spark)
    val v = Seq((1L, Seq(0.1f))).toDF("vec_id", "embedding")
    val empty = v.select(expr(
      "argmin_l2_micro(embedding, CAST(array() AS array<struct<cand:int,cvec:array<double>>>))"))
    empty.head().isNullAt(0) shouldBe true
    val nullEmb = spark.sql(
      "SELECT argmin_l2_micro(CAST(NULL AS array<float>), array(named_struct('cand', 1, 'cvec', array(1.0d))))")
    nullEmb.head().isNullAt(0) shouldBe true
  }

  test("early exit cannot change the result (adversarial near-tie chain)") {
    ArgminL2Micro.register(spark)
    // candidates in decreasing quality so every later one early-exits;
    // then one better candidate LAST so the scan must still pick it up
    val dims = 8
    val base = Seq.fill(dims)(0.25f)
    val v = Seq((1L, base)).toDF("vec_id", "embedding")
    val exact = base.map(f => {
      val m = f.toDouble * 1000000.0
      if (m >= 0) math.floor(m + 0.5) else math.ceil(m - 0.5)
    })
    val cents = Seq(
      5 -> exact.map(_ + 100.0), // dist = 8*10^4
      6 -> exact.map(_ + 50.0),  // better
      7 -> exact.map(_ + 200.0), // worse, early-exits
      2 -> exact                 // exact match, last
    )
    val r = v.select(argmin(col("embedding"), candsDf(cents).scalar())).head().getInt(0)
    r shouldBe 2
  }
}
