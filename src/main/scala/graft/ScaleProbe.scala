package graft

import org.apache.spark.sql.SparkSession

/** Scale-measurement probe: run ONE registry query against an arbitrary
  * fixture dir and print its wall time and first rows. Exists for the
  * ×10/×100/×1000 self-bench (BASELINE.md decade tables), where the
  * interesting output is a metric ROW (e.g. q207's recall certificate)
  * rather than a timing total — Bench only counts, and Verify is the
  * GRADING harness (it clears every `spark.graft.*` knob because its
  * oracle SQL is pinned to defaults). This probe is measurement, not
  * grading: knobs are honored, nothing is compared.
  *
  * Usage: runMain graft.ScaleProbe <name[,name...]> <sfDir> [maxRows=20] [passes=1] [k=v,...]
  *
  * The optional 5th argument sets session confs (e.g.
  * `spark.graft.ivf.nprobe=4`) for the duration of the probe, so a
  * warm sbt shell can vary them per run.
  *
  * With passes > 1 each query is run that many times and the MIN wall
  * time is reported (the BASELINE.md min-of-2 methodology for the
  * load-sensitive decade tables).
  */
object ScaleProbe {
  def main(args: Array[String]): Unit = {
    val names = args(0).split(",").map(_.trim).filter(_.nonEmpty)
    val sfDir = args(1)
    val maxRows = if (args.length > 2) args(2).toInt else 20
    val passes = if (args.length > 3) args(3).toInt else 1
    val confs = if (args.length > 4)
      args(4).split(",").map(_.trim).filter(_.contains("=")).map { kv =>
        val Array(k, v) = kv.split("=", 2); (k, v)
      }.toSeq
    else Seq.empty
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    for (name <- names) {
      val q = QueryRegistry.all.collectFirst { case (n, qq) if n == name => qq }
        .getOrElse(sys.error(s"unknown query: $name"))
      var best = Double.MaxValue
      var rows = Array.empty[String]
      for (_ <- 1 to passes) {
        val t0 = System.nanoTime()
        rows = GraftConf.scoped(spark) {
          confs.foreach { case (k, v) => spark.conf.set(k, v) }
          val df = q.build(spark, sfDir)
          df.limit(maxRows).collect().map(_.toString)
        }
        best = math.min(best, (System.nanoTime() - t0) / 1e9)
      }
      println(f"[probe] $name $best%.1f s (min of $passes), showing ${rows.length} row(s)")
      rows.foreach(r => println(s"[probe] $r"))
    }
    spark.stop()
  }
}
