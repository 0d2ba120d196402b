package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Loaders for the driver-generated parquet fixtures (TESTDATA.md).
  *
  * The fixtures have shipped `events.ts` under two physical encodings across
  * regenerations: INT64 TIMESTAMP(NANOS) (reads as Long under
  * `spark.sql.legacy.parquet.nanosAsLong=true`, set here so it also holds in
  * the driver's own smoke session) and plain `timestamp[us]` (reads as
  * TIMESTAMP_NTZ under Spark 4's NTZ inference). [[events]] branches on the
  * type it actually read and normalizes both to a session-UTC TimestampType
  * column with microsecond values — exactly what DuckDB sees for the same
  * file, so oracle hashes are invariant to the fixture's physical encoding.
  */
object Tables {

  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.read.parquet(s"$dir/$name.parquet")
  }

  /** `events` with `ts` normalized to TimestampType (µs) regardless of the
    * fixture's physical encoding (INT64-nanos or timestamp[us]/NTZ). */
  def events(spark: SparkSession, dir: String): DataFrame = {
    val raw = load(spark, dir, "events")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case _ => // TIMESTAMP_NTZ (or already TZ): wall-clock µs; UTC session cast
        raw.withColumn("ts", col("ts").cast(org.apache.spark.sql.types.TimestampType))
    }
  }

  def lineitem(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "lineitem")
  def orders(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "orders")
  def customer(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "part")
  def nation(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "nation")
  def region(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "region")
  def documents(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "embeddings")

  /** Seconds-since-epoch of a (possibly NTZ) timestamp column; the session
    * timezone is pinned UTC so this matches DuckDB's naive-as-UTC `epoch()`. */
  def epochSecs(c: Column): Column = unix_timestamp(c.cast("timestamp"))

  /** Round-robin `df` across the session's shuffle-partition knob when the
    * scan would otherwise under-parallelize a CPU-heavy kernel above it:
    * the sf0.1 fixtures are ONE parquet row group each, so they read as a
    * single task and a per-row kernel (wire decode, JSON parse, signature
    * UDFs) runs on one core of 32 (guide §2.5 — unsplittable input,
    * repartition immediately after the read). INPUT-ADAPTIVE, not a local
    * constant: when the input already carries at least half the knob's
    * partitions (the scaled fixtures ship 16-32 files; a cluster input
    * ships thousands of splits) this is a NO-OP, so the proxy shuffle
    * never taxes the already-parallel case. Safe only above consumers
    * whose results are partitioning-invariant (keyed aggs / total-order
    * sorts) — which every oracle-gated query is, by the cross-engine
    * hashing discipline. */
  def parallelizeKernelInput(df: DataFrame): DataFrame = {
    val target = df.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    if (scanParallelism(df) * 2 >= target) df else df.repartition(target)
  }

  /** Scan-level parallelism of `df` WITHOUT building the full execution
    * RDD: `df.rdd` on an adaptive plan materializes every upstream exchange
    * stage at query-CONSTRUCTION time — real jobs run (and upstream work is
    * done twice) before the query executes (ADVICE r15). Reading the leaf
    * FileSourceScan's split count instead stays plan-local: splits are
    * decided from file metadata (maxPartitionBytes packing), no job runs.
    * Non-file inputs (local relations etc.) fall back to the RDD probe,
    * which is plan-local exactly when the frame has no upstream Exchange —
    * the input contract of [[parallelizeKernelInput]]: feed it a scan plus
    * row-local projections/filters (every call site is), never a frame
    * with a shuffle already inside. */
  private def scanParallelism(df: DataFrame): Int = {
    val scans = df.queryExecution.sparkPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s.inputRDD.getNumPartitions
    }
    if (scans.nonEmpty) scans.sum else df.rdd.getNumPartitions
  }

  /** The exchange-trades mapping of `events` — the candle-engine input
    * (≙ txs_7; see FIXTURES.md A2). Must stay in lockstep with
    * [[tradesOracleSql]]. */
  def trades(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir).select(
      col("event_id").as("uid"),
      col("ts").as("time_stamp"),
      concat(lit("A"), (col("user_id") % 4).cast("string")).as("amount_asset_id"),
      concat(lit("P"), (col("user_id") % 3).cast("string")).as("price_asset_id"),
      col("event_type").as("sender"),
      col("user_id").cast("int").as("height"),
      (col("event_id") % 100 + 1).cast("long").as("amount"),
      col("value").cast("decimal(18,2)").as("price"),
      (col("event_id") % 4 + 1).cast("short").as("tx_version"))

  /** DuckDB rendering of [[trades]] for oracle CTEs. */
  val tradesOracleSql: String =
    """SELECT event_id AS uid, ts AS time_stamp,
      |  'A' || CAST(user_id % 4 AS VARCHAR) AS amount_asset_id,
      |  'P' || CAST(user_id % 3 AS VARCHAR) AS price_asset_id,
      |  event_type AS sender,
      |  CAST(user_id AS INT) AS height,
      |  CAST(event_id % 100 + 1 AS BIGINT) AS amount,
      |  CAST(value AS DECIMAL(18,2)) AS price,
      |  CAST(event_id % 4 + 1 AS SMALLINT) AS tx_version
      |FROM events""".stripMargin
}
