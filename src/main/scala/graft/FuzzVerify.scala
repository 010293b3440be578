package graft

import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}

/** Differential-fuzzing runner (VERDICT r4 directive #2).
  *
  * Generates [[graft.fuzz.QueryGen]] cases for a seed, executes each SQL
  * text in Spark over the fixture temp views, and dumps results in the
  * EXACT layout `Verify` uses (parquet part-files under `outDir/<name>/` +
  * `outDir/oracle_sql.json`, where the "oracle" SQL is the same text) —
  * so `scripts/oracle_check.py` performs the DuckDB differential compare
  * unchanged. Any schema/row/value mismatch it reports is a real dialect
  * divergence between Spark and DuckDB on that SQL.
  *
  * Usage: runMain graft.FuzzVerify <sfDir> <outDir> [nCases] [seed]
  */
object FuzzVerify {
  private def fixtureTables(spark: SparkSession, sfDir: String) = Seq(
    "lineitem" -> Tables.lineitem(spark, sfDir),
    "orders" -> Tables.orders(spark, sfDir),
    "customer" -> Tables.customer(spark, sfDir),
    "part" -> Tables.part(spark, sfDir),
    "supplier" -> Tables.supplier(spark, sfDir),
    "nation" -> Tables.nation(spark, sfDir),
    "region" -> Tables.region(spark, sfDir),
    "events" -> Tables.events(spark, sfDir),
    "documents" -> Tables.documents(spark, sfDir))

  def registerViews(spark: SparkSession, sfDir: String): Unit =
    fixtureTables(spark, sfDir).foreach { case (n, df) => df.createOrReplaceTempView(n) }

  /** xlsx-bridge registration (fuzz-over-xlsx, round-7 directive #5):
    * every fixture table round-trips through the repo's OWN xlsx writer
    * and DSv2 reader before becoming a view, so the whole generated-SQL
    * corpus differentially tests the writer→ZIP/tokenizer→type bridge
    * against DuckDB reading the original parquet — any value the bridge
    * mangles surfaces as an oracle mismatch on some generated query.
    * xlsx has ONE numeric type and no timestamp type, so the bridge is
    * schema-driven rather than lossy: longs come back CAST from the
    * sheet's doubles (exact below 2^53 — fixture keys are far below),
    * and timestamps travel as ISO-8601 strings (micro-precision) parsed
    * back on read — serial-number round-trips are covered separately by
    * the xlsx corner-case specs, string transport is exact. */
  def registerViewsViaXlsx(spark: SparkSession, sfDir: String): Unit = {
    import org.apache.spark.sql.functions.{col, date_format, to_timestamp}
    import org.apache.spark.sql.types._
    val fmt = "yyyy-MM-dd'T'HH:mm:ss.SSSSSS"
    val base = s"/tmp/graft_fuzz_xlsx/${sfDir.replaceAll("[^a-z0-9.]", "_")}"
    new java.io.File(base).mkdirs()
    fixtureTables(spark, sfDir).foreach { case (name, df0) =>
      val path = s"$base/$name.xlsx"
      val schema = df0.schema
      if (!new java.io.File(path).exists()) {
        val out = df0.select(schema.fields.map { f =>
          f.dataType match {
            case TimestampType => date_format(col(f.name), fmt).as(f.name)
            case _ => col(f.name)
          }
        }.toIndexedSeq: _*)
        graft.xlsx.XlsxWriter.writeDataFrame(out, path, name)
      }
      val restored = spark.read.format("xlsx").load(path)
        .select(schema.fields.map { f =>
          f.dataType match {
            case TimestampType => to_timestamp(col(f.name), fmt).as(f.name)
            case t @ (LongType | IntegerType | DoubleType) => col(f.name).cast(t).as(f.name)
            case _ => col(f.name)
          }
        }.toIndexedSeq: _*)
      restored.createOrReplaceTempView(name)
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    val n = if (args.length > 2) args(2).toInt else 250
    val seed = if (args.length > 3) args(3).toLong else 42L
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // 5th arg "xlsx" routes every view through the xlsx round-trip bridge
    if (args.length > 4 && args(4) == "xlsx") registerViewsViaXlsx(spark, sfDir)
    else registerViews(spark, sfDir)

    val cases = fuzz.QueryGen.cases(seed, n)
    var failed = 0
    cases.foreach { c =>
      try
        spark.sql(c.sql).coalesce(1).write.mode("overwrite").parquet(s"$outDir/${c.name}")
      catch { case e: Throwable =>
        failed += 1
        System.err.println(s"[fuzz] ${c.name} FAILED IN SPARK: ${e.getMessage}\n${c.sql}")
      }
    }
    val json = JsonStr.obj(cases.map(c => c.name -> c.sql))
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    println(s"[fuzz] ${cases.size} cases generated (seed=$seed), $failed failed in Spark")
    spark.stop()
    if (failed > 0) sys.exit(1)
  }
}
