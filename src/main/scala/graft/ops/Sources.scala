package graft.ops

import graft.Tables._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Additional source/sink formats (SURVEY §2a sink note, widened):
  * CSV and JSON-lines round trips through real files — the write path
  * and the schema-explicit read path both exercised. Doubles survive
  * text serialization exactly (Spark emits shortest-round-trip
  * representations), so the oracle compares against the original rows.
  */
object Sources {

  private val schema = StructType(Seq(
    StructField("event_id", LongType), StructField("event_type", StringType),
    StructField("user_id", LongType), StructField("value", DoubleType)))

  private def slice(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    events(spark, sfDir).select($"event_id", $"event_type", $"user_id", $"value")
  }

  def sourceCsvRoundtrip(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val out = runDir("roundtrip_csv", sfDir)
    slice(spark, sfDir).write.mode("overwrite")
      .option("header", "true").csv(out)
    spark.read.option("header", "true").schema(schema).csv(out)
      .orderBy($"event_id")
  }

  def sourceJsonRoundtrip(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val out = runDir("roundtrip_json", sfDir)
    slice(spark, sfDir).write.mode("overwrite").json(out)
    spark.read.schema(schema).json(out)
      .orderBy($"event_id")
  }

  /** Malformed-row ingestion (round-7): a CSV is derived from events
    * with every 10th row (event_id % 10 == 0) deliberately corrupted
    * (non-numeric `value` field), then read back twice — PERMISSIVE
    * with a `_corrupt_record` column (bad rows surface as raw lines,
    * parseable fields kept) and DROPMALFORMED (bad rows silently
    * dropped). Output is a one-row audit summary; the money-decimal
    * sum over the surviving rows proves the good rows parsed exactly.
    * The oracle mirrors the corruption rule arithmetically on the
    * parquet source — deterministic, no shared temp-file path needed.
    *
    * Scale note: both reads are plain distributed text scans; the
    * corrupt-row audit is a single partial-aggregate pass (no
    * collect), which is exactly the 100 TB quarantine-count shape.
    */
  def sourceCsvMalformed(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val out = runDir("malformed_csv", sfDir)
    slice(spark, sfDir)
      .select(concat_ws(",",
        $"event_id", $"event_type", $"user_id",
        when(pmod($"event_id", lit(10)) === 0, lit("oops"))
          .otherwise($"value".cast(StringType))).as("value"))
      .write.mode("overwrite").text(out)
    val permissive = spark.read
      .schema(schema.add(StructField("_corrupt_record", StringType)))
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .csv(out)
    // separate clean-schema read: DROPMALFORMED must not see (and
    // would otherwise count) the corrupt-record column itself. The
    // count must reference a parsed column: CSV column pruning hands
    // the parser an EMPTY projection for a bare count(), so no field
    // is ever parsed and no row is ever judged malformed (measured:
    // count() = 10000, not 9000). count($"value") forces `value` into
    // the scan schema; count(lit(1)) then sees only surviving rows.
    val nDropped = spark.read.schema(schema)
      .option("mode", "DROPMALFORMED").csv(out)
      .agg(count(lit(1)), count($"value"))
      .head.getLong(0)
    permissive.agg(
      count(lit(1)).as("n_total"),
      count(when($"_corrupt_record".isNotNull, 1)).as("n_corrupt"),
      sum(when($"_corrupt_record".isNull, money($"value")))
        .cast(DoubleType).as("sum_value_good"))
      .withColumn("n_dropmalformed", lit(nDropped))
  }

  /** ORC round trip — the columnar alternative to parquet; binary
    * encoding, so doubles are trivially exact.
    */
  def sourceOrcRoundtrip(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val out = runDir("roundtrip_orc", sfDir)
    slice(spark, sfDir).write.mode("overwrite").orc(out)
    spark.read.schema(schema).orc(out)
      .orderBy($"event_id")
  }

  /** XML round trip — the XML data source is built into Spark 4 (the
    * former spark-xml package): write with an explicit rowTag, read
    * back schema-explicit. Doubles survive like CSV/JSON (shortest
    * round-trip rendering), so the oracle compares against the
    * original rows. Distributed like any text source: one file per
    * partition out, splittable scan back.
    */
  def sourceXmlRoundtrip(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val out = runDir("roundtrip_xml", sfDir)
    slice(spark, sfDir).write.mode("overwrite")
      .option("rowTag", "event").format("xml").save(out)
    spark.read.schema(schema).option("rowTag", "event").format("xml").load(out)
      .orderBy($"event_id")
  }
}
