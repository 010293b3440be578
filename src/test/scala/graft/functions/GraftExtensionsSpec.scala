package graft.functions

import graft.GraftExtensions
import org.apache.spark.sql.SparkSessionExtensions
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** The session-extension packaging: a session built with
  * `withExtensions(new GraftExtensions)` (or the spark.sql.extensions
  * config) gets `cosine_sim` in its catalog. The shared test session
  * already exists, so this spec builds the injection target directly and
  * checks the registered builder produces the native expression. */
class GraftExtensionsSpec extends AnyFunSuite with Matchers {

  test("GraftExtensions injects the cosine_sim function") {
    val ext = new SparkSessionExtensions
    new GraftExtensions().apply(ext)
    // the injected triple builds the native codegen expression
    val (ident, info, builder) = GraftExtensions.cosineSim
    ident.funcName shouldBe "cosine_sim"
    info.getName shouldBe "cosine_sim"
    import org.apache.spark.sql.catalyst.expressions.Literal
    val e = builder(Seq(Literal(1.0f), Literal(2.0f)))
    e shouldBe a[CosineSimilarity]
  }

  test("GraftExtensions injects zorder2 and the bloom sketch pair") {
    import org.apache.spark.sql.catalyst.expressions.Literal
    val (zi, _, zb) = GraftExtensions.zOrder2
    zi.funcName shouldBe "zorder2"
    zb(Seq(Literal(1L), Literal(2L))) shouldBe a[ZOrder2]
    val (bi, _, bb) = GraftExtensions.bloomAgg
    bi.funcName shouldBe "graft_bloom_agg"
    bb(Seq(Literal(1L), Literal(100L), Literal(800L))) shouldBe
      a[org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate]
    an[IllegalArgumentException] should be thrownBy bb(Seq.empty)
    val (mi, _, mb) = GraftExtensions.mightContain
    mi.funcName shouldBe "graft_might_contain"
    mb(Seq(Literal(Array[Byte](1)), Literal(1L))) shouldBe
      a[org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain]
  }

  test("GraftExtensions injects the whole ANN/quantization surface (round-9 uniformity nit)") {
    val names = GraftExtensions.annFunctions.map(_._1.funcName)
    names should contain allOf ("dense_lut_micro", "pq_adc_micro", "pq_encode_micro",
      "pq_encode_shift_micro", "sq8_quantize_micro", "argmin_l2_micro",
      "argmin_top2_l2_micro", "argmin_pair_l2_micro",
      "argmin_topn_l2_micro", "argmin_struct_l2_micro")
    // every builder constructs its native expression (catches a
    // copy-paste triple pointing at the wrong case class)
    import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
    val dummy: Seq[Expression] = Seq(Literal(1), Literal(2), Literal(3), Literal(4))
    GraftExtensions.annFunctions.foreach { case (ident, info, builder) =>
      info.getName shouldBe ident.funcName
      val built = builder(dummy)
      built.getClass.getName shouldBe info.getClassName
    }
  }

  test("the registered SQL name evaluates through the catalog (shared session)") {
    val spark = graft.TestSpark.spark
    CosineSimilarity.register(spark)
    val r = spark.sql(
      "SELECT cosine_sim(array(CAST(1.0 AS FLOAT), CAST(0.0 AS FLOAT)), " +
        "array(CAST(1.0 AS FLOAT), CAST(0.0 AS FLOAT)))").collect()(0).getDouble(0)
    r shouldBe 1.0
  }
}
