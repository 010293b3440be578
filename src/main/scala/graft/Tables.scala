package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the driver-generated fixture tables (TESTDATA.md).
  *
  * All tables are single parquet files per scale factor; at 100 TB the same
  * call sites work unchanged because `spark.read.parquet` accepts
  * directories/globs of many files and plans one partition per row-group
  * split ([SPK] ParquetFileFormat). Nothing here pins partition counts.
  *
  * SMALL-INPUT CPU FAN-OUT (r13 optimization round, guide §2.5 "one huge
  * unsplittable file → repartition immediately after the read"): every
  * fixture file is one ≤11 MB parquet file = ONE scan split, and
  * whole-stage codegen fuses a query's expensive map work (tokenize/
  * shingle/hash/distance) into the scan stage — so the CPU-heavy phase of
  * such a query runs on 1 of 32 cores (job-level probe: q155's dominant
  * jobs at n=3/n=4 tasks, q241's 1.05 s single-task broadcast build).
  * [[wide]] appends a round-robin `repartition(defaultParallelism)` when
  * the planned split count is far below the session parallelism.
  *
  * It is OPT-IN per pipeline, not applied inside [[t]]: a full-suite
  * experiment with the repartition inside every accessor won 12 s on the
  * CPU-heavy queries but lost 51 s across the tail (bench_full_r13opt_
  * fanout.json vs _base.json) — for cheap downstream work the exchange
  * costs more than single-core scanning saves, global ORDER BYs re-execute
  * the exchange for range-partition sampling, and broadcast builds pick up
  * a shuffle job. So only pipelines whose per-row compute measurably
  * dominates opt in (the shingle/intersection family, the ANN distance
  * family, the positional-hash scorers).
  *
  * Scale-adaptive by construction, not a local[32] constant: the
  * repartition fires only when `sizeInBytes / files.maxPartitionBytes <
  * defaultParallelism / 2` — at any realistic cluster scale the scan
  * plans at least cores/2 splits and this is a no-op; inputs under 128 KB
  * stay untouched (broadcast fodder). Filter pushdown and column pruning
  * pass through a Repartition node (PushedFilters/ReadSchema pins
  * unchanged — PlanSpec), statistics propagate, and round-robin
  * repartition local-sorts its input (SPARK-23207) so task retries stay
  * deterministic.
  */
object Tables {
  /** Inferred-schema memo, keyed by absolute fixture path (r13
    * optimization round). `spark.read.parquet` without a schema runs a
    * footer-inference JOB on every call — measured ~25–40 ms on this
    * host — and every timed bench iteration re-builds its query, so a
    * fuzz row that registers 9 views paid ~250 ms of pure footer
    * re-reads per iteration. The memo holds METADATA ONLY (StructType,
    * never rows or results — the production analog is a catalog/
    * metastore serving the table schema): after the first inference per
    * path, later reads pass the schema explicitly and plan zero
    * inference jobs. The data itself is always re-read from parquet.
    * Fixture inputs are immutable for a JVM's lifetime (read-only
    * testdata); anything the engine WRITES is read back through its own
    * readers, never through this accessor. */
  private val schemas = new Memo[String, org.apache.spark.sql.types.StructType]

  /** The session confs parquet schema INFERENCE depends on (r14, advisor
    * ask): two sessions in one JVM could legitimately infer different
    * StructTypes for the same footer (events' nanos-as-long legacy
    * switch, binary-as-string, int96 mapping, NTZ inference, field-id
    * resolution — which IndexManifest flips session-wide). A path-only
    * key would hand the second session the first session's inference;
    * keying on (path, these confs) makes the memo exact instead of
    * "correct as long as every session shares reader confs". */
  private def inferenceKey(spark: SparkSession, path: String): String = {
    val confs = Seq(
      "spark.sql.legacy.parquet.nanosAsLong",
      "spark.sql.parquet.binaryAsString",
      "spark.sql.parquet.int96AsTimestamp",
      "spark.sql.parquet.inferTimestampNTZ.enabled",
      "spark.sql.parquet.fieldId.read.enabled")
    path + "#" + confs.map(k => spark.conf.getOption(k).getOrElse("-")).mkString(",")
  }

  def t(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    val schema = schemas(inferenceKey(spark, path))(spark.read.parquet(path).schema)
    spark.read.schema(schema).parquet(path)
  }

  private val maxes = new Memo[(String, String, String), Long]

  /** `max(column)` of fixture table `name` under `dir`, one small job per
    * JVM per (dir, table, column): the integer split points and id offsets
    * the staged table-format trees derive from the fixture. */
  def maxOf(spark: SparkSession, dir: String, name: String, column: String): Long =
    maxes((dir, name, column)) {
      t(spark, dir, name).agg(org.apache.spark.sql.functions.max(column)).head().getLong(0)
    }

  /** Adaptive CPU fan-out for a scan-rooted relation whose downstream
    * per-row work is known heavy — see the object scaladoc. Sizing reads
    * the optimizer's own estimate (file size for a bare scan), so the
    * same call is a no-op wherever the scan already plans enough splits. */
  def wide(spark: SparkSession, df: DataFrame): DataFrame = {
    val bytes = df.queryExecution.optimizedPlan.stats.sizeInBytes
    val cores = spark.sparkContext.defaultParallelism
    val splitBytes = org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
      spark.conf.get("spark.sql.files.maxPartitionBytes", "128m"))
    val planned = (bytes + splitBytes - 1) / splitBytes
    if (bytes >= 131072 && planned < cores / 2) df.repartition(cores) else df
  }

  def region(s: SparkSession, d: String): DataFrame    = t(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = t(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = t(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = t(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = t(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = t(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = t(s, d, "lineitem")
  /** events.ts has shipped as two physical types across fixture
    * generations: TIMESTAMP(NANOS) (which Spark 4 refuses to map to
    * TimestampType — read as raw nanos via the legacy conf and truncate to
    * microseconds, the same truncation DuckDB applies) and TIMESTAMP(MICROS)
    * without UTC adjustment (which Spark reads as TIMESTAMP_NTZ). Both are
    * normalized here to session-local TimestampType so every downstream
    * query sees one canonical type; sessions run with
    * spark.sql.session.timeZone=UTC, making the NTZ→LTZ cast
    * value-preserving and oracle-comparable (DuckDB reads the same file as
    * a naive timestamp).
    */
  def events(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr}
    import org.apache.spark.sql.types.{LongType, TimestampNTZType}
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = t(s, d, "events")
    raw.schema("ts").dataType match {
      case LongType         => raw.withColumn("ts", expr("timestamp_micros(ts DIV 1000)"))
      case TimestampNTZType => raw.withColumn("ts", col("ts").cast("timestamp"))
      case _                => raw
    }
  }
  def documents(s: SparkSession, d: String): DataFrame = t(s, d, "documents")
  /** Embeddings opt in to [[wide]] at the accessor: every consumer is a
    * per-row distance/encoding pipeline (the ANN family), measured as the
    * family-wide winner under fan-out with no losing consumer. */
  def embeddings(s: SparkSession, d: String): DataFrame =
    wide(s, t(s, d, "embeddings"))
}
