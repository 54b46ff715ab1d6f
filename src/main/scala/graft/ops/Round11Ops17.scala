package graft.ops

import graft.Tables._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Round-11 widening, part 17: union-by-name, GDPR erasure,
  * compressed roundtrips, training-shard manifest, burst detection,
  * URL codec.
  */
object Round11Ops17 {

  private def u24(key: Column): Column =
    expr(s"CAST(conv(substring(md5(CAST(${key.toString} AS STRING)), 1, 6), 16, 10) AS BIGINT)")

  /** unionByName with allowMissingColumns: two feeds with different
    * column orders — one missing the priority column entirely —
    * reconcile by NAME (positional UNION would silently cross-wire
    * them); the absent column null-fills. The aggregate groups the
    * null bucket explicitly. This is the schema-drift-tolerant merge
    * every multi-source ingest needs.
    */
  def setUnionByName(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val full = orders(spark, sfDir)
      .filter($"o_orderkey" % 2 === 0)
      .select($"o_orderkey".as("k"), $"o_orderpriority".as("prio"),
        (money($"o_totalprice") * 100).cast(LongType).as("cents"))
    val slim = orders(spark, sfDir)
      .filter($"o_orderkey" % 2 =!= 0)
      .select((money($"o_totalprice") * 100).cast(LongType).as("cents"),
        $"o_orderkey".as("k"))
    full.unionByName(slim, allowMissingColumns = true)
      .groupBy($"prio")
      .agg(count(lit(1)).as("n"), sum($"cents").as("sum_cents"))
      .orderBy($"prio".asc_nulls_first)
  }

  /** GDPR erasure audit: a deletion list (5% of users by md5) anti-
    * joins the event log; retained and erased row counts reconcile
    * per event type. The deletion list is a real distinct-key table
    * driving a null-safe anti join — the right-to-be-forgotten
    * pattern — not a per-row predicate, so the same plan serves an
    * externally-supplied list at scale.
    */
  def pipelineGdprErasure(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val del = events(spark, sfDir).select($"user_id").distinct()
      .filter(pmod(u24($"user_id"), lit(20)) === 0)
    val retained = events(spark, sfDir)
      .join(del, Seq("user_id"), "left_anti")
      .groupBy($"event_type").agg(count(lit(1)).as("n_retained"))
    val total = events(spark, sfDir)
      .groupBy($"event_type").agg(count(lit(1)).as("n_total"))
    total.join(retained, Seq("event_type"))
      .select($"event_type", $"n_total", $"n_retained",
        ($"n_total" - $"n_retained").as("n_erased"))
      .orderBy($"event_type")
  }

  /** Compression-codec roundtrips: the same projection written as
    * gzip CSV and zstd parquet, read back through each codec, and
    * re-aggregated — both rows must land on the direct-scan numbers.
    * CSV reads under an EXPLICIT schema (inference is a second,
    * unaudited parse). Codec choice changes bytes, never content.
    */
  def sourceCompressedRoundtrip(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val base = events(spark, sfDir)
      .select($"event_id", $"event_type",
        (money($"value") * 100).cast(LongType).as("cents"))
    val csvDir = runDir("r11_csv_gz", sfDir)
    val pqDir = runDir("r11_pq_zstd", sfDir)
    base.write.mode("overwrite").option("compression", "gzip")
      .option("header", "true").csv(csvDir)
    base.write.mode("overwrite").option("compression", "zstd").parquet(pqDir)
    val schema = StructType(Seq(
      StructField("event_id", LongType), StructField("event_type", StringType),
      StructField("cents", LongType)))
    val fromCsv = spark.read.schema(schema).option("header", "true").csv(csvDir)
      .agg(count(lit(1)).as("n"), sum($"cents").as("sum_cents"))
      .select(lit("csv_gzip").as("fmt"), $"n", $"sum_cents")
    val fromPq = spark.read.parquet(pqDir)
      .agg(count(lit(1)).as("n"), sum($"cents").as("sum_cents"))
      .select(lit("parquet_zstd").as("fmt"), $"n", $"sum_cents")
    fromCsv.unionAll(fromPq).orderBy($"fmt")
  }

  /** WebDataset-style training-shard manifest: documents pack into
    * ~4 KiB shards per language in doc_id order (a doc whose byte
    * cursor starts in shard k belongs to shard k). Shard boundaries
    * are pure integer math, so the manifest an exabyte packer would
    * emit is byte-identical to this one.
    *
    * The byte cursor is a DISTRIBUTED prefix sum (round-16 low-card-
    * window sweep: a lang-only window would cap parallelism at 5
    * languages forever): docs bucket into fixed doc_id ranges, the
    * cursor is the intra-bucket running sum plus the running total of
    * the preceding buckets' byte counts — the census is |langs| x
    * |buckets| rows, so its offset window is over a bounded rollup.
    */
  def multimodalShardManifest(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val docs = documents(spark, sfDir)
      .select($"lang", $"doc_id", length($"text").cast(LongType).as("len"))
      .withColumn("b", expr("doc_id DIV 512"))
    val wIn = Window.partitionBy($"lang", $"b").orderBy($"doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val census = docs.groupBy($"lang".as("c_lang"), $"b".as("c_b"))
      .agg(sum($"len").as("bl"))
    val wOff = Window.partitionBy($"c_lang").orderBy($"c_b")
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = census
      .withColumn("off", coalesce(sum($"bl").over(wOff), lit(0L)))
      .select($"c_lang", $"c_b", $"off")
    docs.join(broadcast(offsets),
        $"lang" === $"c_lang" && $"b" === $"c_b")
      .withColumn("cum", $"off" + sum($"len").over(wIn))
      .withColumn("shard", expr("CAST((cum - len) DIV 4096 AS BIGINT)"))
      .groupBy($"lang", $"shard")
      .agg(count(lit(1)).as("n_docs"), sum($"len").as("bytes"),
        min($"doc_id").as("first_doc"), max($"doc_id").as("last_doc"))
      .orderBy($"lang", $"shard")
  }

  /** Burst detection: a day bursts when its event count exceeds twice
    * the trailing 7-day mean — written division-free (7·c > 2·s₇ over
    * the EXCLUSIVE trailing frame) in exact integers. Emits every
    * full-frame day with its flag, so quiet periods are part of the
    * checked contract too.
    */
  def tsBurstDetect(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val daily = events(spark, sfDir)
      .groupBy($"event_type", to_date($"ts").as("d"))
      .agg(count(lit(1)).as("c"))
    val w = Window.partitionBy($"event_type").orderBy($"d")
      .rowsBetween(-7, -1)
    daily
      .withColumn("s7", sum($"c").over(w))
      .withColumn("nf", count(lit(1)).over(w))
      .filter($"nf" === 7)
      .select($"event_type", $"d", $"c", $"s7",
        ($"c" * 7 > $"s7" * 2).as("is_burst"))
      .orderBy($"event_type", $"d")
  }

  /** URL form-encoding roundtrip: url_decode(url_encode(x)) must be
    * the identity, and for this corpus (lowercase tokens + spaces)
    * the encoded form substitutes '+' for exactly the space count —
    * a property the oracle can state without owning the codec.
    */
  def fnUrlCodec(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    documents(spark, sfDir)
      .select($"doc_id",
        expr("url_decode(url_encode(text))").as("text_rt"),
        length(expr("url_encode(text)")).cast(LongType).as("enc_len"),
        (length(expr("url_encode(text)")) -
          length(regexp_replace(expr("url_encode(text)"), "\\+", "")))
          .cast(LongType).as("n_plus"))
      .orderBy($"doc_id")
  }
}
