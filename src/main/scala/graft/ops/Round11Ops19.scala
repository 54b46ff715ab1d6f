package graft.ops

import graft.Tables._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Round-11 widening, part 19: survival curve, OOV rate, dynamic
  * partition overwrite, concurrent-order depth, weighted median,
  * hierarchical benchmark lookup.
  */
object Round11Ops19 {

  /** User-lifetime survival curve: the fraction of users still active
    * `t` days after their first event, for a fixed horizon grid. One
    * user-keyed shuffle computes lifetimes; the horizon sweep is six
    * conditional counts in a single final aggregate fanned back out by
    * explode — no per-horizon corpus pass, no unbounded state.
    */
  def analyticSurvivalRetention(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val horizons = Seq(0, 7, 14, 30, 60, 90)
    val life = events(spark, sfDir)
      .groupBy($"user_id")
      .agg(datediff(max(to_date($"ts")), min(to_date($"ts"))).as("lifetime"))
    val cs = count(lit(1)).as("n_users") +:
      horizons.map(t => count(when($"lifetime" >= t, 1)).as(s"h$t"))
    val agg = life.agg(cs.head, cs.tail: _*)
    agg.select($"n_users",
        explode(array(horizons.map(t =>
          struct(lit(t).as("horizon_days"), col(s"h$t").as("n_surv"))): _*)).as("r"))
      .select($"r.horizon_days", $"r.n_surv", $"n_users",
        round($"r.n_surv".cast(DoubleType) / $"n_users".cast(DoubleType), 6)
          .as("surv_frac"))
      .orderBy($"horizon_days")
  }

  /** Out-of-vocabulary rate per source against a corpus-derived top-20
    * vocabulary (count desc, token asc — fully deterministic). The
    * vocab is k-bounded BY CONSTRUCTION, so broadcasting it is the
    * scale-safe tokenizer-coverage join: the token stream is touched
    * once, shuffled only for the per-source counts. The everyday
    * pre-tokenizer audit before committing a vocab to a training run.
    */
  def textOovRate(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val toks = documents(spark, sfDir)
      .select($"source", explode(split($"text", " ")).as("tok"))
    val vocab = toks.groupBy($"tok").agg(count(lit(1)).as("cnt"))
      .orderBy($"cnt".desc, $"tok").limit(20)
      .select($"tok", lit(1).as("inv"))
    toks.join(broadcast(vocab), Seq("tok"), "left")
      .groupBy($"source")
      .agg(count(lit(1)).as("n_tokens"),
        count(when($"inv".isNull, 1)).as("n_oov"))
      .select($"source", $"n_tokens", $"n_oov",
        round($"n_oov".cast(DoubleType) / $"n_tokens".cast(DoubleType), 6)
          .as("oov_rate"))
      .orderBy($"source")
  }

  /** Dynamic partition overwrite: a full partitioned write, then a
    * corrected re-write of ONE partition's rows under
    * partitionOverwriteMode=dynamic — only partitions present in the
    * incoming batch are replaced; the rest keep their files (static
    * overwrite mode would truncate them). This is the idempotent
    * partition-backfill primitive; at scale the overwrite touches
    * exactly the changed partitions' files.
    */
  def sourceDynamicPartitionOverwrite(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val dir = runDir("r11_dpo", sfDir)
    val base = events(spark, sfDir)
      .select($"event_id", (money($"value") * 100).cast(LongType).as("cents"),
        $"event_type")
    base.write.mode("overwrite").partitionBy("event_type").parquet(dir)
    base.filter($"event_type" === "purchase")
      .withColumn("cents", $"cents" * 2)
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("event_type").parquet(dir)
    spark.read.parquet(dir)
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n"), sum($"cents").as("sum_cents"))
      .orderBy($"event_type")
  }

  /** Concurrent open orders per day — the sweep-line interval-depth
    * query (orders are "open" from order date until their last
    * shipment). Each order contributes a +1/-1 delta pair; the depth
    * is a DISTRIBUTED prefix sum: within-month cumulative windows
    * (month-partitioned, never global) plus month-offset totals from
    * a bounded month×month join — the lorenz/gini global-rank idiom
    * applied to interval stabbing. No unpartitioned window at any
    * corpus size.
    */
  def analyticConcurrentOrders(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val spans = orders(spark, sfDir)
      .join(lineitem(spark, sfDir), $"o_orderkey" === $"l_orderkey")
      .groupBy($"o_orderkey", $"o_orderdate")
      .agg(max($"l_shipdate").as("endts"))
      .select(to_date($"o_orderdate").as("s"),
        date_add(to_date($"endts"), 1).as("e"))
    val deltas = spans.select(explode(array(
        struct($"s".as("d"), lit(1L).as("delta")),
        struct($"e".as("d"), lit(-1L).as("delta")))).as("r"))
      .select($"r.d", $"r.delta")
    val daily = deltas.groupBy($"d").agg(sum($"delta").as("nd"))
      .withColumn("mon", trunc($"d", "MM"))
    val within = daily.withColumn("cw",
      sum($"nd").over(Window.partitionBy($"mon").orderBy($"d")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val mtot = daily.groupBy($"mon").agg(sum($"nd").as("mnd"))
    val off = mtot.as("a")
      .join(mtot.as("b"), col("b.mon") < col("a.mon"), "left")
      .groupBy(col("a.mon").as("mon"))
      .agg(coalesce(sum(col("b.mnd")), lit(0L)).as("noff"))
    within.join(off, "mon")
      .select($"d", ($"noff" + $"cw").as("depth"))
      .orderBy($"d")
  }

  /** Weighted median: the smallest price whose cumulative quantity
    * weight reaches half the group total, per return flag — written
    * division-free (2·cumw ≥ totw). Price-tie membership is
    * order-stable (a tied run qualifies iff its LAST row does), so
    * the window needs no further tiebreak and the result is identical
    * at any parallelism.
    *
    * Round 17: boundary-bucket selection. The round-16 form ran the
    * bucket-offset prefix sum over EVERY row (full corpus shuffle +
    * sort). But the census alone pins which single bucket per flag
    * contains the weighted median — the first whose cumulative weight
    * reaches half the total — and every lower bucket's rows can never
    * qualify while every higher bucket's prices are strictly larger
    * than the qualifying minimum. So only that one bucket's rows (a
    * few thousand behind a broadcast semi-filter) need the intra-
    * bucket running sum; the corpus is scanned exactly twice (census +
    * filtered pass), sorted never.
    */
  def aggWeightedMedian(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val li = lineitem(spark, sfDir)
      .select($"l_returnflag", $"l_extendedprice",
        $"l_quantity".cast(LongType).as("w"))
      // price-domain bucket ($512 bands, monotone in the sort key, so
      // equal prices share a bucket): the cumulative weight is the
      // intra-bucket running sum plus the running weight of the lower
      // buckets — a (flag x ~200-bucket) census, never a 3-partition
      // sort of the whole table (round-16 low-card-window sweep)
      .withColumn("cb", expr("CAST(floor(l_extendedprice / 512.0) AS BIGINT)"))
    val census = li.groupBy($"l_returnflag".as("c_rf"), $"cb".as("c_cb"))
      .agg(sum($"w").as("bw"))
    val wOff = Window.partitionBy($"c_rf").orderBy($"c_cb")
      .rowsBetween(Window.unboundedPreceding, -1)
    // the median bucket: first (lowest cb) whose running weight
    // reaches half the flag total — one census row per flag
    val medBucket = census
      .withColumn("woff", coalesce(sum($"bw").over(wOff), lit(0L)))
      .withColumn("totw", sum($"bw").over(Window.partitionBy($"c_rf")))
      .filter(($"woff" + $"bw") * 2 >= $"totw")
      .withColumn("pick", row_number().over(
        Window.partitionBy($"c_rf").orderBy($"c_cb")))
      .filter($"pick" === 1)
      .select($"c_rf", $"c_cb", $"woff", $"totw")
    li.join(broadcast(medBucket),
        $"l_returnflag" === $"c_rf" && $"cb" === $"c_cb")
      // (flag, cb) spec: cb is constant inside the filtered bucket, so
      // this equals a per-flag running sum — and it keeps the window
      // off the low-card-only partition shape the PlanSpec sweep forbids
      .withColumn("cw", $"woff" +
        sum($"w").over(Window.partitionBy($"l_returnflag", $"cb")
          .orderBy($"l_extendedprice")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .filter($"cw" * 2 >= $"totw")
      .groupBy($"l_returnflag")
      .agg(min($"l_extendedprice").as("w_median"), max($"totw").as("tot_qty"))
      .select($"l_returnflag", $"w_median", $"tot_qty")
      .orderBy($"l_returnflag")
  }

  /** Hierarchical benchmark lookup — the multi-level dimension
    * fallback every pricing/enrichment pipeline runs: each part takes
    * the (brand, type) average retail price when that cell has ≥ 20
    * parts, else the brand average when it does, else the global
    * average. Three aggregates of the SAME scan (brand×type is
    * fixed-cardinality, so both lookup sides broadcast; the 1-row
    * global is a cross join), two left joins, one coalescing CASE —
    * no correlated per-row subqueries. Averages divide exact decimal
    * sums by exact counts, once.
    */
  def joinHierarchicalLookup(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val p = part(spark, sfDir)
    val bt = p.groupBy($"p_brand".as("bt_brand"), $"p_type".as("bt_type"))
      .agg(count(lit(1)).as("n_bt"), sum(money($"p_retailprice")).as("s_bt"))
    val b = p.groupBy($"p_brand".as("b_brand"))
      .agg(count(lit(1)).as("n_b"), sum(money($"p_retailprice")).as("s_b"))
    val g = p.agg(count(lit(1)).as("n_g"), sum(money($"p_retailprice")).as("s_g"))
    p.select($"p_partkey", $"p_brand", $"p_type", $"p_retailprice")
      .join(broadcast(bt),
        $"p_brand" === $"bt_brand" && $"p_type" === $"bt_type", "left")
      .join(broadcast(b), $"p_brand" === $"b_brand", "left")
      .crossJoin(broadcast(g))
      .select($"p_partkey", $"p_brand", $"p_type",
        $"p_retailprice".as("retail"),
        when($"n_bt" >= 20, round($"s_bt".cast(DoubleType) / $"n_bt".cast(DoubleType), 6))
          .when($"n_b" >= 20, round($"s_b".cast(DoubleType) / $"n_b".cast(DoubleType), 6))
          .otherwise(round($"s_g".cast(DoubleType) / $"n_g".cast(DoubleType), 6))
          .as("benchmark"),
        when($"n_bt" >= 20, lit("brand_type"))
          .when($"n_b" >= 20, lit("brand"))
          .otherwise(lit("global")).as("level"))
      .orderBy($"p_partkey")
  }
}
