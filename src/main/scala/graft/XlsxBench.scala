package graft

import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.functions._

/** Throughput benchmark for the xlsx surface — the reference's core
  * use-case (xlsx → database ETL). The reference publishes no numbers
  * (BASELINE.md:5), so this records OUR absolute single-node throughput:
  * distributed sink write, DSv2 scan (full and column-pruned), and the
  * end-to-end xlsx→DuckDB ETL, all on a generated N-row × 8-col mixed-type
  * workbook directory (one workbook per partition, the distributed
  * layout the scan plans one InputPartition per file over).
  *
  * Usage: runMain graft.XlsxBench [rows=1000000] [parts=16] [dir=target/xlsxbench]
  * The session comes from `GraftSession.build()` (cores from
  * `$SPARK_GRAFT_CPUS`), the same confs as `graft.Bench`.
  * Prints one JSON line: rows, MB on disk, seconds and rows/s per stage.
  */
object XlsxBench {
  def main(args: Array[String]): Unit = {
    val rows = if (args.length > 0) args(0).toLong else 1000000L
    val parts = if (args.length > 1) args(1).toInt else 16
    val dir = if (args.length > 2) args(2) else "target/xlsxbench"
    val spark = GraftSession.build()

    // 8 mixed-type columns exercising the shared-strings-free inline path,
    // numeric cells, dates, and booleans — the sanitizer's full surface.
    val df = spark.range(rows).repartition(parts)
      .select(
        col("id"),
        (col("id") % 997).cast("int").as("bucket"),
        (col("id") % 10000 / 100.0).as("price"),
        concat(lit("customer_"), col("id") % 5000).as("name"),
        (col("id") % 2 === 0).as("active"),
        date_add(lit(java.sql.Date.valueOf("2020-01-01")), (col("id") % 1000).cast("int")).as("d"),
        concat(lit("note "), col("id") % 37).as("note"),
        (col("id") * 31 % 1000003).as("checksum"))

    def time[T](f: => T): (T, Double) = {
      val t0 = System.nanoTime(); val r = f; (r, (System.nanoTime() - t0) / 1e9)
    }

    // 1. distributed sink write (two-phase commit, one workbook/partition)
    val (_, wSec) = time {
      df.write.format("xlsx").mode(SaveMode.Overwrite).save(dir)
    }
    val mb = {
      val d = new java.io.File(dir)
      d.listFiles().filter(_.getName.endsWith(".xlsx")).map(_.length()).sum / 1e6
    }

    // 2. full scan + aggregate (all 8 columns reach the engine)
    val (n1, fullSec) = time {
      spark.read.format("xlsx").load(dir)
        .agg(count(lit(1)), sum("checksum"), max("price")).head(); rows
    }

    // 3. column-pruned scan (2 of 8 columns; DSv2 pruneColumns path)
    val (_, prunedSec) = time {
      spark.read.format("xlsx").load(dir).select("bucket", "price")
        .groupBy("bucket").agg(sum("price")).count()
    }

    // 4. end-to-end ETL (workbook-file oriented, like the reference CLI):
    // one part workbook (rows/parts rows) -> DuckDB table via JDBC sink
    val oneBook = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".xlsx")).minBy(_.getName).getPath
    val etlRows = rows.toDouble / parts
    val db = s"$dir/etl.duckdb"
    new java.io.File(db).delete()
    val (_, etlSec) = time {
      etl.Main.run(spark,
        etl.Main.Args(oneBook, s"jdbc:duckdb:$db", SaveMode.Overwrite, None, None, "bench"))
    }

    val rd = rows.toDouble
    val j = f"""{"rows":$rows,"parts":$parts,"xlsx_mb":$mb%.1f,""" +
      f""""write_sec":$wSec%.2f,"write_rows_s":${rd / wSec}%.0f,""" +
      f""""scan_sec":$fullSec%.2f,"scan_rows_s":${rd / fullSec}%.0f,"scan_mb_s":${mb / fullSec}%.1f,""" +
      f""""pruned_sec":$prunedSec%.2f,"etl_rows":${etlRows.toLong},"etl_sec":$etlSec%.2f,"etl_rows_s":${etlRows / etlSec}%.0f}"""
    println(j)
    spark.stop()
  }
}
