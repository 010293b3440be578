package graft.queries

import graft.{GraftConf, SparkEntry, TestSpark}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** The `spark.graft.ivf.step` operating knob (q201/q202), exercised
  * through the session conf. */
class IvfSpec extends AnyFunSuite with Matchers {
  private lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  private def recallRow(step: Option[String]) = GraftConf.scoped(spark) {
    step.foreach(spark.conf.set("spark.graft.ivf.step", _))
    SparkEntry.queries("q202_ivf_recall")(spark, sf).head()
  }

  test("step=1 makes the IVF assignment EXACT (recall 1.0) — every centroid its own cell") {
    // with all-distinct centroids each seed's cell contains (at least)
    // itself, and the vector's nearest coarse seed IS its nearest
    // centroid (same fused arithmetic), so probing that cell cannot
    // miss: recall is 1.0 by construction, not by luck
    val r = recallRow(Some("1"))
    r.getAs[Double]("recall") shouldBe 1.0
    r.getAs[Double]("geo_recall") shouldBe 1.0
  }

  test("default step trades recall for work (strictly below 1.0 on this fixture) and the conf scopes away") {
    val d = recallRow(None)
    d.getAs[Double]("recall") should be < 1.0
    d.getAs[Double]("recall") should be > 0.5
    // conf did not leak from the previous test (GraftConf.scoped)
    spark.conf.getOption("spark.graft.ivf.step") shouldBe None
  }

  test("the coarse pick keys on the EFFECTIVE step: \" 10 \" after \"10\" is a memo hit") {
    def build(step: String): Unit = GraftConf.scoped(spark) {
      spark.conf.set("spark.graft.ivf.step", step)
      SparkEntry.queries("q201_ivf_assign")(spark, sf)
    }
    build("10")
    val held = BoundedMemo.size
    build(" 10 ")
    BoundedMemo.size shouldBe held
    // unset and an unparseable value both mean the default pick
    GraftConf.scoped(spark) { SparkEntry.queries("q201_ivf_assign")(spark, sf) }
    val withDefault = BoundedMemo.size
    build("abc")
    build("0")
    BoundedMemo.size shouldBe withDefault
  }

  private def kmeansRecallRow(confs: (String, String)*) = GraftConf.scoped(spark) {
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    SparkEntry.queries("q207_ivf_kmeans_recall")(spark, sf).head()
  }

  test("trained (k-means) coarse quantizer beats the rank pick at defaults — no knob needed") {
    val trained = kmeansRecallRow()
    val rank = recallRow(None)
    trained.getAs[Double]("recall") should be > rank.getAs[Double]("recall")
    trained.getAs[Double]("recall") should be > 0.9
  }

  test("nprobe knob: probing ALL coarse cells makes either quantizer exact; nprobe=1 narrows") {
    // #cells = ceil(k/ceil(sqrt(k))) ≤ k; nprobe ≥ #cells ⇒ the probed
    // union is every member list ⇒ argmin over all k centroids ⇒ exact
    // by construction (same fused arithmetic as the brute path)
    val allCells = kmeansRecallRow("spark.graft.ivf.nprobe" -> "1000")
    allCells.getAs[Double]("recall") shouldBe 1.0
    allCells.getAs[Double]("geo_recall") shouldBe 1.0
    val one = kmeansRecallRow("spark.graft.ivf.nprobe" -> "1")
    val two = kmeansRecallRow()
    one.getAs[Double]("recall") should be <= two.getAs[Double]("recall")
    // conf scoped away (GraftConf.scoped)
    spark.conf.getOption("spark.graft.ivf.nprobe") shouldBe None
  }

  test("duplicate-collapsed corpus flips to per-distinct-vector seeding — exact with no knobs") {
    // 100 labels whose centroid VECTORS collapse to 4 distinct
    // directions (25 labels each): nd = 4 ≤ 0.75·k, so the trained
    // coarse pick seeds one cell per DISTINCT quantized vector instead
    // of √k md5-rank cells, cells align with directions exactly (Lloyd
    // fixed point), and the 2-cell probe cannot miss — the ×1000
    // replica-decade failure mode (640 directions under 10k labels,
    // 0.176 recall before this branch) reproduced at unit scale.
    import spark.implicits._
    val dims = 8
    val dirs = Array.tabulate(4, dims)((d, i) => if (i % 4 == d) 1.0f else 0.1f * d)
    val rows = (0 until 100).map { lbl =>
      (lbl.toLong, dirs(lbl % 4).toSeq, lbl)
    }.toDF("vec_id", "embedding", "label")
    val dir = java.nio.file.Files.createTempDirectory("ivf_collapse").toString
    rows.write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val r = GraftConf.scoped(spark) {
      SparkEntry.queries("q207_ivf_kmeans_recall")(spark, dir).head()
    }
    r.getAs[Double]("recall") shouldBe 1.0
    r.getAs[Double]("geo_recall") shouldBe 1.0
  }
}
