package graft.ops

import graft.Tables._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Round-11 widening, part 25: daily mix entropy, rare-category
  * collapse, additive decomposition, multiline JSON, CTAS/INSERT,
  * conversion-lag histogram.
  */
object Round11Ops25 {

  /** Shannon entropy of each day's event-type mix — the
    * traffic-diversity monitor (a collapsed mix = an incident or a
    * bot). Shares are exact integer ratios; each type's term does ONE
    * log and freezes at 9 dp as DECIMAL before the per-day sum
    * (freeze-then-sum), so entropy is partitioning-independent.
    */
  def tsMixEntropy(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val daily = events(spark, sfDir)
      .groupBy(to_date($"ts").as("d"), $"event_type")
      .agg(count(lit(1)).as("c"))
    val tot = daily.groupBy($"d".as("d2")).agg(sum($"c").as("n"))
    daily.join(tot, $"d" === $"d2")
      .select($"d", $"n",
        round(($"c".cast(DoubleType) / $"n".cast(DoubleType)) *
          log($"c".cast(DoubleType) / $"n".cast(DoubleType)), 9)
          .cast(DecimalType(28, 9)).as("term"))
      .groupBy($"d")
      .agg(max($"n").as("n_events"), sum($"term").as("st"))
      // round IN DECIMAL (exact HALF_UP on the 9-dp sum), THEN cast —
      // and negate with unary minus: `st * -1` promotes past
      // DECIMAL(38) and Spark's precision-loss rescue TRUNCATES the
      // scale to 7 before the round (observed: -1.608944469 → 1.608945)
      .select($"d", $"n_events",
        round(-$"st", 6).cast(DoubleType).as("entropy"))
      .orderBy($"d")
  }

  /** Rare-category collapse — the encoding hygiene step before
    * one-hot/target encoding: composite brand#size categories with
    * below-mean support collapse into OTHER (c·k ≥ n is the
    * division-free mean test), then the recount shows the collapsed
    * distribution. Two aggregations and a bounded-dim broadcast
    * rejoin; the mapping table is what a feature store would persist.
    */
  def mlRareCategoryCollapse(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val cats = part(spark, sfDir)
      .select(concat($"p_brand", lit("#"), $"p_size".cast(StringType))
        .as("cat"))
    val counts = cats.groupBy($"cat").agg(count(lit(1)).as("c"))
    val tot = counts.agg(sum($"c").as("n"), count(lit(1)).as("k"))
    val mapping = counts.crossJoin(broadcast(tot))
      .select($"cat",
        when($"c" * $"k" >= $"n", $"cat").otherwise(lit("OTHER"))
          .as("encoded"))
    cats.join(broadcast(mapping), "cat")
      .groupBy($"encoded")
      .agg(count(lit(1)).as("n_parts"),
        countDistinct($"cat").as("n_source_cats"))
      .orderBy($"encoded")
  }

  /** Additive seasonal decomposition (STL-lite): trend = centered
    * 7-day moving average (full frames only), seasonal = per-weekday
    * mean of the detrended series, residual = remainder. Every mean
    * divides exact sums ONCE (counts are integers; detrended values
    * freeze at 9 dp as DECIMAL before the weekday mean), windows are
    * event-type-partitioned. Emits the three components per day —
    * the decomposition a forecasting pipeline materializes.
    */
  def tsDecomposeAdditive(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val daily = events(spark, sfDir)
      .filter($"event_type" === "view")
      .groupBy(to_date($"ts").as("d"))
      .agg(count(lit(1)).as("c"))
    // single-series centered MA as a date-band SELF-JOIN on the
    // bounded daily rollup (~30 rows) — not an unpartitioned window,
    // which the board-wide sweep bans; the corpus-sized work all
    // happened in the groupBy above
    val trended = daily.as("a").join(daily.as("b"),
        datediff(col("b.d"), col("a.d")).between(-3, 3))
      .groupBy(col("a.d").as("d"), col("a.c").as("c"))
      .agg(count(lit(1)).as("nf"), sum(col("b.c")).as("ts7"))
      .filter($"nf" === 7)
      .select($"d", $"c",
        ($"ts7".cast(DoubleType) / lit(7.0)).as("trend"))
      .withColumn("detr",
        round($"c".cast(DoubleType) - $"trend", 9).cast(DecimalType(28, 9)))
      .withColumn("dow", dayofweek($"d"))
    val seasonal = trended.groupBy($"dow".as("dw"))
      .agg((sum($"detr").cast(DoubleType) /
        count(lit(1)).cast(DoubleType)).as("seasonal"))
    trended.join(broadcast(seasonal), $"dow" === $"dw")
      .select($"d", $"c", round($"trend", 6).as("trend"),
        round($"seasonal", 6).as("seasonal"),
        round($"c".cast(DoubleType) - $"trend" - $"seasonal", 6)
          .as("residual"))
      .orderBy($"d")
  }

  /** Multiline JSON ingestion: the same rows written as ONE json
    * array document (not json-lines) read back under multiLine=true
    * with an explicit schema — the config that trips every first
    * ingestion of API-export files (default line mode reads a json
    * array as one corrupt record). multiLine makes the file
    * unsplittable; the aggregate proves content survived.
    */
  def sourceJsonMultiline(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val dir = runDir("r11_mljson", sfDir)
    // a CONSTANT-size slice (≤500 docs at any corpus size): a
    // multiline array is ONE document, so the builder necessarily
    // single-threads — the op demonstrates the read path, not bulk
    // export (json-lines is the bulk format). Bounding by event_id
    // keeps driver memory and the single Files.write O(1) in the
    // corpus, not O(n) as a plain 1-in-100 slice would be.
    val rows = events(spark, sfDir)
      .filter(pmod($"event_id", lit(100)) === 0 && $"event_id" <= 50000)
      .select($"event_id", $"event_type",
        (money($"value") * 100).cast(LongType).as("cents"))
      .orderBy($"event_id")
      .select(to_json(struct($"event_id", $"event_type", $"cents")).as("j"))
      .as[String].collect()
    val doc = rows.mkString("[", ",", "]")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/events.json"),
      doc.getBytes("UTF-8"))
    val schema = StructType(Seq(
      StructField("event_id", LongType), StructField("event_type", StringType),
      StructField("cents", LongType)))
    spark.read.schema(schema).option("multiLine", "true").json(dir)
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n"), sum($"cents").as("sum_cents"))
      .orderBy($"event_type")
  }

  /** Managed-table DDL surface: CREATE TABLE AS SELECT into the
    * session catalog, INSERT INTO appending a second slice, then a
    * query over the combined table — the CTAS + append lifecycle a
    * SQL-first user expects to work. The table is parquet under the
    * session warehouse; both writes are ordinary distributed jobs.
    */
  def sqlCtasInsert(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    orders(spark, sfDir).createOrReplaceTempView("g11_orders_ci")
    spark.sql("DROP TABLE IF EXISTS g11_priority_cents")
    val ctasDir = runDir("r11_ctas", sfDir)
    val loc = new org.apache.hadoop.fs.Path(ctasDir)
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(loc)) fs.delete(loc, true)
    spark.sql(s"""
      CREATE TABLE g11_priority_cents USING parquet
      LOCATION '$ctasDir' AS
      SELECT o_orderpriority prio,
        CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT) cents
      FROM g11_orders_ci WHERE o_orderkey % 2 = 0
    """)
    spark.sql("""
      INSERT INTO g11_priority_cents
      SELECT o_orderpriority,
        CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)
      FROM g11_orders_ci WHERE o_orderkey % 2 != 0
    """)
    spark.sql("""
      SELECT prio, CAST(count(*) AS BIGINT) n, sum(cents) sum_cents
      FROM g11_priority_cents GROUP BY prio ORDER BY prio
    """)
  }

  /** View→purchase conversion-lag histogram: hours from a user's
    * first view to their first subsequent purchase, bucketed into
    * power-of-two hour bands — integer timestamp math end to end
    * (the lag is a microsecond difference DIV'd into hours). The
    * product question behind every funnel: not just WHETHER users
    * convert but HOW FAST.
    */
  def analyticConversionLag(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val e = events(spark, sfDir).select($"user_id", $"event_type", $"ts")
    val v = e.filter($"event_type" === "view")
      .groupBy($"user_id").agg(min($"ts").as("view_ts"))
    val p = e.filter($"event_type" === "purchase")
      .join(v, Seq("user_id"))
      .filter($"ts" > $"view_ts")
      .groupBy($"user_id", $"view_ts").agg(min($"ts").as("purchase_ts"))
    val lagged = p.select(
      // NTZ → TIMESTAMP under the UTC session is instant-preserving
      expr("CAST((unix_micros(CAST(purchase_ts AS TIMESTAMP)) - " +
        "unix_micros(CAST(view_ts AS TIMESTAMP))) " +
        "DIV 3600000000 AS BIGINT)").as("lag_hours"))
    lagged
      .select(
        when($"lag_hours" < 1, 0L).when($"lag_hours" < 2, 1L)
          .when($"lag_hours" < 4, 2L).when($"lag_hours" < 8, 4L)
          .when($"lag_hours" < 16, 8L).when($"lag_hours" < 32, 16L)
          .otherwise(32L).as("lag_band_hours"))
      .groupBy($"lag_band_hours")
      .agg(count(lit(1)).as("n_users"))
      .orderBy($"lag_band_hours")
  }
}
