package graft.ops

import graft.Tables._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Round-7 widening, part 4: dynamic partition pruning, cohort
  * retention, OHLC downsampling, HTML stripping, URL parsing, heavy
  * hitters, deterministic reservoir sampling, collocation PMI, linear
  * gap interpolation, and the GROUP BY ALL SQL surface.
  */
object Round7Ops3 {

  /** Dynamic partition pruning: the fact side is directory-partitioned
    * by `event_type`; the dim side is filtered on a NON-partition
    * attribute (`category`), so no static PartitionFilter is possible —
    * instead Catalyst injects a `dynamicpruning` subquery that reuses
    * the dim's broadcast to prune fact partitions AT RUNTIME
    * (PlanSpec-pinned). At 100 TB this is the difference between
    * scanning every event-type directory and scanning only the 2 of 5
    * the dim filter actually selects — without the query author ever
    * naming them.
    */
  def scaleDppJoin(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val fact = ScaleTechniques.partitionedEvents(spark, sfDir)
    // The dim must be a real scan, not a LocalRelation: Catalyst
    // constant-folds a Filter over inline VALUES away before the
    // PartitionPruning rule looks for a selective predicate, so an
    // in-memory dim never triggers DPP. On disk (as any real dim
    // table is) the Filter survives and the pruning subquery appears.
    val dimPath = ScaleTechniques.materializeOnce("dpp_dim") { tmp =>
      Seq(
        ("click", "engagement"), ("view", "engagement"),
        ("purchase", "conversion"), ("signup", "conversion"),
        ("error", "ops")).toDF("et", "category")
        .write.mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(tmp)
    }
    val dim = spark.read.parquet(dimPath)
    fact.join(dim.filter($"category" === "conversion"), $"event_type" === $"et")
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n_events"), sum(money($"value")).as("_sv"))
      .select($"event_type", $"n_events", $"_sv".cast(DoubleType).as("sum_value"))
      .orderBy($"event_type")
  }

  /** Cohort retention matrix: users bucketed by first-seen day, counted
    * per week offset since that cohort day. Single user-keyed window
    * shuffle derives the cohort (no self-join), then the aggregate
    * shuffle carries only |cohorts × weeks| rows — both bounded by key
    * cardinality, never input size.
    */
  def analyticRetentionCohort(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val ev = events(spark, sfDir)
      .select($"user_id", date_trunc("DAY", $"ts").cast(DateType).as("day"))
      .withColumn("cohort_day", min($"day").over(Window.partitionBy($"user_id")))
    ev.groupBy($"cohort_day",
        expr("CAST(datediff(day, cohort_day) DIV 7 AS INT)").as("week_offset"))
      .agg(countDistinct($"user_id").as("active_users"),
        count(lit(1)).as("n_events"))
      .orderBy($"cohort_day", $"week_offset")
  }

  /** Time-series OHLC downsampling: per (event_type, hour) bar with
    * open/close picked by `min_by`/`max_by` on a (ts, event_id) struct
    * (total order, so the pick is deterministic) — a single partial+
    * final aggregate pass, no window sort over the raw stream. Money
    * math in exact decimal; one double conversion at the end.
    */
  def tsDownsampleOhlc(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    events(spark, sfDir)
      .select($"event_type", date_trunc("HOUR", $"ts").as("bucket"),
        $"ts", $"event_id", money($"value").as("v"))
      .groupBy($"event_type", $"bucket")
      .agg(
        min_by($"v", struct($"ts", $"event_id")).as("_o"),
        max_by($"v", struct($"ts", $"event_id")).as("_c"),
        max($"v").as("_h"), min($"v").as("_l"),
        sum($"v").as("_vol"), count(lit(1)).as("n_events"))
      .select($"event_type", $"bucket",
        $"_o".cast(DoubleType).as("open"), $"_h".cast(DoubleType).as("high"),
        $"_l".cast(DoubleType).as("low"), $"_c".cast(DoubleType).as("close"),
        $"_vol".cast(DoubleType).as("volume"), $"n_events")
      .orderBy($"event_type", $"bucket")
  }

  /** HTML tag stripping + entity decode — the first cleanup pass of
    * every crawl pipeline. The markup is injected deterministically
    * here (both engines build the identical string) so the strip chain
    * is fully oracle-checked: tag removal, `&quot;` decode, whitespace
    * squeeze, trim. Pure narrow projection — codegen'd regexes, no
    * shuffle until the final presentation sort.
    */
  def textHtmlStrip(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val html = documents(spark, sfDir).select($"doc_id",
      concat(lit("<html><body class=\"doc\"><h1>"), $"source",
        lit("</h1><p>"),
        expr("replace(text, 'table', '&quot;table&quot;')"),
        lit("</p><br/></body></html>")).as("html"))
    html.select($"doc_id",
        trim(regexp_replace(
          regexp_replace(
            regexp_replace($"html", "<[^>]*>", " "),
            "&quot;", "\""),
          "\\s+", " ")).as("clean"))
      .withColumn("n_chars_clean", length($"clean"))
      .orderBy($"doc_id")
  }

  /** URL decomposition with Spark's `parse_url` (HOST / PATH / QUERY
    * param). URLs are built deterministically from document fields so
    * the extraction is oracle-checked against regexp-based parsing.
    * Row-level narrow op; the typed casts (BIGINT/INT) prove the params
    * round-trip losslessly.
    */
  def fnUrlParse(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    documents(spark, sfDir)
      .select($"doc_id", concat(lit("https://"), $"source",
        lit(".example.com/"), $"lang", lit("/doc/"),
        $"doc_id".cast(StringType), lit("?q="),
        $"n_chars".cast(StringType), lit("&page=2")).as("url"))
      .select($"doc_id",
        expr("parse_url(url, 'HOST')").as("host"),
        expr("parse_url(url, 'PATH')").as("path"),
        expr("CAST(parse_url(url, 'QUERY', 'q') AS BIGINT)").as("q_chars"),
        expr("CAST(parse_url(url, 'QUERY', 'page') AS INT)").as("page"))
      .orderBy($"doc_id")
  }

  /** Heavy hitters by relative support: users with ≥1.2× the average
    * event count. The threshold comparison stays in INTEGER math
    * (`n · n_users · 10 ≥ total · 12`) so no float-boundary row can
    * flip between engines; the reported lift is a single identical
    * double expression. The totals row is a broadcast scalar — the
    * per-user aggregate is the only input-sized shuffle.
    */
  def aggHeavyHitters(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val ev = events(spark, sfDir)
    val tot = ev.agg(count(lit(1)).as("total"),
      countDistinct($"user_id").as("n_users"))
    ev.groupBy($"user_id").agg(count(lit(1)).as("n"))
      .crossJoin(broadcast(tot))
      .filter($"n" * $"n_users" * lit(10L) >= $"total" * lit(12L))
      .select($"user_id", $"n",
        expr("CAST(n AS DOUBLE) * CAST(n_users AS DOUBLE) / CAST(total AS DOUBLE)")
          .as("lift"))
      .orderBy($"n".desc, $"user_id")
  }

  /** Deterministic per-group reservoir sample: k rows per event_type
    * picked by ranking on `md5(event_id)` — a uniform-ish, seed-free,
    * re-run-stable sample (same rows on every engine and every re-read,
    * unlike `rand()` or partition-order-dependent `limit`). One shuffle
    * keyed by group; per-task state is the k-row heap.
    */
  def sampleReservoirHash(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"event_type")
      .orderBy(expr("md5(CAST(event_id AS STRING))"), $"event_id")
    events(spark, sfDir)
      .select($"event_type", $"event_id", $"user_id")
      .withColumn("pick", row_number().over(w))
      .filter($"pick" <= 4)
      .orderBy($"event_type", $"pick")
  }

  /** Collocation mining: pointwise mutual information of adjacent word
    * pairs, `ln(p(x,y) / (p(x)·p(y)))` with bigram probabilities over
    * the bigram stream and unigram probabilities over the token stream.
    * Counts are exact integers; the PMI is one identical double
    * expression rounded to 6dp (the repo's ln() cross-engine protocol).
    * Two bounded shuffles (unigram + bigram vocab), totals broadcast.
    */
  def textCollocationPmi(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val toks = documents(spark, sfDir)
      .select(split($"text", " ").as("t")).filter(size($"t") >= 2)
    val uni = toks.select(explode($"t").as("w"))
      .groupBy($"w").agg(count(lit(1)).as("n_w"))
    val big = toks.select(explode(expr(
      "transform(sequence(1, size(t) - 1), i -> struct(element_at(t, i) AS w1, element_at(t, i + 1) AS w2))"
    )).as("b")).select($"b.w1", $"b.w2")
    val totals = uni.agg(sum($"n_w").as("nt"))
      .crossJoin(big.agg(count(lit(1)).as("nb")))
    big.groupBy($"w1", $"w2").agg(count(lit(1)).as("n_xy"))
      .filter($"n_xy" >= 5)
      .join(uni.select($"w".as("w1"), $"n_w".as("n_x")), "w1")
      .join(uni.select($"w".as("w2"), $"n_w".as("n_y")), "w2")
      .crossJoin(broadcast(totals))
      .select($"w1", $"w2", $"n_xy", expr(
        "ROUND(LN(CAST(n_xy AS DOUBLE) * CAST(nt AS DOUBLE) * CAST(nt AS DOUBLE) / (CAST(nb AS DOUBLE) * CAST(n_x AS DOUBLE) * CAST(n_y AS DOUBLE))), 6)"
      ).as("pmi"))
      .orderBy($"w1", $"w2")
  }

  /** Linear gap interpolation over a per-user daily spine (purchase
    * days only, so gaps are real): missing days get
    * `prev + (next − prev) · Δ/span`, actual days pass through exactly.
    * The bracketing values come from two IGNORE NULLS window passes on
    * ONE user-keyed partitioning; the ratio is integer-day arithmetic
    * cast once to double — identical op sequence in both engines.
    */
  def tsInterpolateLinear(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val daily = events(spark, sfDir)
      .filter($"event_type" === "purchase")
      .groupBy($"user_id", date_trunc("DAY", $"ts").cast(DateType).as("day"))
      .agg(max($"value").as("day_max"))
    val spine = daily.groupBy($"user_id")
      .agg(min($"day").as("d0"), max($"day").as("d1"))
      .select($"user_id",
        explode(expr("sequence(d0, d1, interval 1 day)")).as("day"))
    val wP = Window.partitionBy($"user_id").orderBy($"day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wF = Window.partitionBy($"user_id").orderBy($"day")
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    spine.join(daily, Seq("user_id", "day"), "left_outer")
      .select($"user_id", $"day", $"day_max",
        last($"day_max", ignoreNulls = true).over(wP).as("pv"),
        last(when($"day_max".isNotNull, $"day"), ignoreNulls = true).over(wP).as("pd"),
        first($"day_max", ignoreNulls = true).over(wF).as("nv"),
        first(when($"day_max".isNotNull, $"day"), ignoreNulls = true).over(wF).as("nd"))
      .select($"user_id", $"day", $"day_max".isNotNull.as("is_actual"),
        expr("""CASE WHEN pd = nd THEN pv
                     WHEN pv IS NULL THEN nv
                     WHEN nv IS NULL THEN pv
                     ELSE pv + (nv - pv) * (CAST(datediff(day, pd) AS DOUBLE) / CAST(datediff(nd, pd) AS DOUBLE))
                END""").as("interp"))
      .orderBy($"user_id", $"day")
  }

  /** SQL `GROUP BY ALL` — every non-aggregate select item becomes a
    * grouping key without restating the list (the drift-proof form for
    * wide reporting queries). Same partial+final hash aggregate plan as
    * an explicit GROUP BY; decimal-exact money protocol.
    */
  def sqlGroupByAll(spark: SparkSession, sfDir: String): DataFrame = {
    lineitem(spark, sfDir).createOrReplaceTempView("g7c_lineitem")
    spark.sql("""
      SELECT l_returnflag, l_linestatus, year(l_shipdate) AS ship_year,
        count(*) AS n_items,
        CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty
      FROM g7c_lineitem
      GROUP BY ALL
      ORDER BY l_returnflag, l_linestatus, ship_year
    """)
  }
}
