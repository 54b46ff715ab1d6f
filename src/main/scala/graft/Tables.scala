package graft

import org.apache.spark.SparkFiles
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Readers for the driver-generated testdata (schemas in FIXTURES.md).
  *
  * All tables are single parquet files per scale-factor directory. Two
  * type quirks are handled centrally here so every operator downstream
  * sees clean, oracle-comparable types:
  *
  *  1. `events.ts` is parquet `TIMESTAMP(NANOS, isAdjustedToUTC=false)`,
  *     which Spark's vectorized reader rejects outright
  *     ([PARQUET_TYPE_ILLEGAL]). We read it via
  *     `spark.sql.legacy.parquet.nanosAsLong=true` (int64 nanoseconds)
  *     and floor-truncate to microseconds, matching DuckDB's native
  *     ns→µs parquet conversion bit-for-bit.
  *  2. `orders.o_orderdate` / `lineitem.l_shipdate` are parquet
  *     MILLIS with isAdjustedToUTC=false → Spark `TimestampNTZType`.
  *     Comparisons must use NTZ literals (see [[Tables.ntz]]).
  */
object Tables {

  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def apply(spark: SparkSession, sfDir: String, name: String): DataFrame =
    name match {
      case "events" => events(spark, sfDir)
      case n        => spark.read.parquet(s"$sfDir/$n.parquet")
    }

  def region(spark: SparkSession, sfDir: String): DataFrame    = apply(spark, sfDir, "region")
  def nation(spark: SparkSession, sfDir: String): DataFrame    = apply(spark, sfDir, "nation")
  def customer(spark: SparkSession, sfDir: String): DataFrame  = apply(spark, sfDir, "customer")
  def supplier(spark: SparkSession, sfDir: String): DataFrame  = apply(spark, sfDir, "supplier")
  def part(spark: SparkSession, sfDir: String): DataFrame      = apply(spark, sfDir, "part")
  def orders(spark: SparkSession, sfDir: String): DataFrame    = apply(spark, sfDir, "orders")
  def lineitem(spark: SparkSession, sfDir: String): DataFrame  = apply(spark, sfDir, "lineitem")
  def documents(spark: SparkSession, sfDir: String): DataFrame = apply(spark, sfDir, "documents")
  def embeddings(spark: SparkSession, sfDir: String): DataFrame = apply(spark, sfDir, "embeddings")

  /** events with `ts` converted to a clean `TIMESTAMP_NTZ` (µs).
    * `ts DIV 1000` floor-truncates ns→µs exactly as DuckDB's parquet
    * reader does, so oracle comparisons are exact.
    *
    * NOTE: setting `nanosAsLong` is session-global by necessity — the
    * flag is read at scan execution, not plan time, so it cannot be
    * scoped per-read. It only affects parquet files with NANOS
    * timestamps (which Spark would otherwise refuse to read at all).
    */
  def events(spark: SparkSession, sfDir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = spark.read.parquet(s"$sfDir/events.parquet")
    raw.schema("ts").dataType match {
      case LongType =>
        // NANOS layout (pre-2026-08-13 generator): int64 ns under the
        // legacy flag. Floor division in exact integer math
        // (ts - pmod(ts,1000) is a multiple of 1000): plain DIV
        // truncates toward zero and would be 1µs off DuckDB's floored
        // ns→µs conversion for pre-1970 (negative) nanosecond
        // timestamps. No double round-trip — int64 ns exceeds double's
        // 53-bit mantissa.
        raw.withColumn("ts",
          expr("CAST(timestamp_micros(CAST((ts - pmod(ts, 1000)) DIV 1000 AS BIGINT)) AS TIMESTAMP_NTZ)"))
      case _: TimestampNTZType =>
        // MICROS/adjUTC=false layout (2026-08-13 regeneration): Spark
        // reads TIMESTAMP_NTZ µs natively, bit-identical to DuckDB.
        raw
      case other =>
        throw new IllegalStateException(
          s"events.ts: unexpected parquet-read type $other — " +
            "expected int64 ns (legacy) or TIMESTAMP_NTZ µs")
    }
  }

  // ---- determinism-protocol helpers (SURVEY §7d) ----

  /** Money values (DOUBLE ~< 1e6, 2dp) cast exact for associative sums. */
  val D12_2: DecimalType = DecimalType(12, 2)
  /** Rates (discount/tax, 2dp in [0,1)) cast exact. */
  val D4_2: DecimalType = DecimalType(4, 2)

  def money(c: Column): Column = c.cast(D12_2)
  def rate(c: Column): Column  = c.cast(D4_2)

  /** NTZ timestamp literal — safe to compare against MILLIS-NTZ columns. */
  def ntz(s: String): Column = expr(s"TIMESTAMP_NTZ '$s'")

  /** Path of `name` in this SparkContext's scratch directory, a folder
    * under SparkFiles' root. Spark creates that root per context under
    * `spark.local.dir` and deletes it recursively when the context
    * stops, so every file the ops derive lives exactly as long as the
    * context that wrote it.
    */
  def scratchPath(name: String): String =
    new java.io.File(SparkFiles.getRootDirectory(), s"graft/$name").getPath

  /** Scratch directory for an op that round-trips data through files:
    * one per (op, dataset) in a context, so two datasets read by one
    * context never overwrite each other's files.
    */
  def runDir(op: String, sfDir: String): String =
    scratchPath(s"${op}_${sfDir.hashCode.toHexString}")
}
