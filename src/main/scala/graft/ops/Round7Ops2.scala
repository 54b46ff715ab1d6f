package graft.ops

import graft.Tables._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Round-7 widening, part 3: the relational and pipeline primitives
  * still missing from the surface — NOT IN null-aware anti join,
  * bloom-filter semi-join reduction, incremental aggregate (MV delta)
  * maintenance, time-series gap-fill with forward fill, and one-pass
  * column profiling.
  */
object Round7Ops2 {

  /** NOT IN with a NULLABLE probe column — the three-valued-logic trap
    * a plain anti join gets wrong: a NULL probe compares UNKNOWN to
    * every list element, so the row must be EXCLUDED (here every 97th
    * order's custkey is nulled deterministically). Written as SQL
    * NOT IN so Catalyst plans its null-aware anti join: with the build
    * side broadcast, a single-column NAAJ stays a BroadcastHashJoin
    * (PlanSpec-pinned) instead of degenerating into the O(n·m)
    * BroadcastNestedLoopJoin that null-aware semantics otherwise
    * force — the difference between a hash probe and a scan of the
    * whole list per row at 100 TB.
    */
  def joinNullAwareAnti(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    orders(spark, sfDir)
      .withColumn("probe_custkey",
        when(pmod($"o_orderkey", lit(97)) === 0, lit(null).cast(LongType))
          .otherwise($"o_custkey"))
      .createOrReplaceTempView("g7_orders_probe")
    customer(spark, sfDir).createOrReplaceTempView("g7_customer")
    spark.sql("""
      SELECT o_orderstatus, count(*) AS n_orders
      FROM g7_orders_probe
      WHERE probe_custkey NOT IN (SELECT c_custkey FROM g7_customer
                                  WHERE c_mktsegment = 'BUILDING')
      GROUP BY o_orderstatus ORDER BY o_orderstatus
    """)
  }

  /** Bloom-filter semi-join reduction: the qualifying suppliers'
    * keys are sketched into a driver-built bloom filter (exact size
    * bound: n keys at 1% fpp is ~1.2 bytes/key — a few hundred MB for
    * 10^8 keys, vs shipping the keys themselves), the fact side is
    * pruned by `mightContain` BEFORE its shuffle, and the exact join
    * afterwards removes the false positives. Net effect at 100 TB: the
    * probe-side exchange carries only ~selectivity × |fact| rows —
    * the same row-level runtime filtering Spark injects automatically
    * when `spark.sql.optimizer.runtime.bloomFilter.enabled` thresholds
    * hit, made explicit and deterministic (output is fp-independent
    * because the join is exact).
    */
  def scaleBloomPrefilter(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val qualifying = supplier(spark, sfDir)
      .filter($"s_acctbal" >= 5000.0)
      .select($"s_suppkey")
    val bloom = qualifying.stat.bloomFilter("s_suppkey", 1000L, 0.01)
    val mightContain = udf((k: Long) => bloom.mightContain(k))
    lineitem(spark, sfDir)
      .filter(mightContain($"l_suppkey"))
      .join(qualifying, $"l_suppkey" === $"s_suppkey")
      .groupBy($"s_suppkey")
      .agg(count(lit(1)).as("n_items"),
        sum(money($"l_quantity")).cast(DoubleType).as("sum_qty"))
      .orderBy($"s_suppkey")
  }

  /** Incremental aggregate maintenance — the materialized-view delta
    * pattern: the pre-2000 "base" aggregate (in production: yesterday's
    * materialized state, NOT recomputed) is merged with the aggregate
    * of only the delta partition via one full-outer join on the group
    * key, coalescing each side's partial count/sum. Correct because
    * count and the decimal sum are associative — the merged result is
    * bit-identical to a full recompute (which IS the oracle). At
    * 100 TB this is the difference between re-shuffling the whole
    * history every load and shuffling only the delta plus a key-
    * partitioned merge against pre-aggregated (orders-of-magnitude
    * smaller) state.
    */
  def pipelineIncrementalAgg(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val cutoff = ntz("2000-01-01 00:00:00")
    def partial(df: DataFrame): DataFrame =
      df.groupBy($"o_custkey")
        .agg(count(lit(1)).as("n"), sum(money($"o_totalprice")).as("rev"))
    val base  = partial(orders(spark, sfDir).filter($"o_orderdate" < cutoff))
      .select($"o_custkey", $"n".as("base_n"), $"rev".as("base_rev"))
    val delta = partial(orders(spark, sfDir).filter($"o_orderdate" >= cutoff))
      .select($"o_custkey", $"n".as("delta_n"), $"rev".as("delta_rev"))
    base.join(delta, Seq("o_custkey"), "full_outer")
      .select($"o_custkey",
        (coalesce($"base_n", lit(0L)) + coalesce($"delta_n", lit(0L)))
          .as("n_orders"),
        (coalesce($"base_rev", lit(0).cast(D12_2))
          + coalesce($"delta_rev", lit(0).cast(D12_2)))
          .cast(DoubleType).as("revenue"))
      .orderBy($"o_custkey")
  }

  /** Time-series gap-fill: per user, the daily event count and max
    * value on a GAP-FREE day spine (sequence from that user's first to
    * last active day), missing days zero-filled for counts and
    * forward-filled (last non-null over an unbounded-preceding frame)
    * for the value — the resample-and-ffill step every downstream
    * window model assumes. max (not sum) is the carried metric:
    * order-independent and exact across engines. Scale shape: the
    * daily pre-aggregation shrinks events to user×day BEFORE the spine
    * join and window, so the shuffled volume is bounded by the
    * calendar, not the event rate; spine join and fill window share
    * the user_id partitioning.
    */
  def tsGapFill(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val daily = events(spark, sfDir)
      .groupBy($"user_id",
        date_trunc("DAY", $"ts").cast(DateType).as("day"))
      .agg(count(lit(1)).as("n_events"), max($"value").as("day_max"))
    val spine = daily.groupBy($"user_id")
      .agg(min($"day").as("d0"), max($"day").as("d1"))
      .select($"user_id",
        explode(expr("sequence(d0, d1, interval 1 day)")).as("day"))
    val fill = Window.partitionBy($"user_id").orderBy($"day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    spine.join(daily, Seq("user_id", "day"), "left_outer")
      .select($"user_id", $"day",
        coalesce($"n_events", lit(0L)).as("n_events"),
        last($"day_max", ignoreNulls = true).over(fill).as("filled_max"))
      .orderBy($"user_id", $"day")
  }

  /** One-pass column profiling — the data-quality summary a 100 TB
    * ingestion runs before anything else: non-null count, exact
    * distinct count, min and max for each numeric lineitem column,
    * all in ONE scan (a single multi-aggregate; Spark plans the four
    * count-distincts via one Expand at ×4 row amplification — one
    * pass over the data instead of four separate jobs), then
    * `stack`ed into one row per column. Exact distincts because the
    * oracle needs exactness; the approx_count_distinct variant of this
    * op is the sketch tier (agg_approx_count_distinct).
    */
  def pipelineProfileColumns(spark: SparkSession, sfDir: String): DataFrame = {
    val cols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
    val aggs = cols.flatMap { c =>
      Seq(count(col(c)).as(s"${c}_n"), countDistinct(col(c)).as(s"${c}_d"),
        min(col(c)).as(s"${c}_min"), max(col(c)).as(s"${c}_max"))
    }
    val one = lineitem(spark, sfDir).agg(aggs.head, aggs.tail: _*)
    val stacked = cols
      .map(c => s"'$c', ${c}_n, ${c}_d, ${c}_min, ${c}_max")
      .mkString(", ")
    one.selectExpr(
        s"stack(${cols.size}, $stacked) AS " +
          "(column_name, n_nonnull, n_distinct, min_val, max_val)")
      .orderBy("column_name")
  }

  /** Per-group z-score outlier detection, engine-tie safe: mean and
    * sample variance are derived from EXACT decimal moments (count,
    * sum(q), sum(q*q) over the 2dp-quantized value), then converted to
    * double once — both engines perform the identical double-op
    * sequence on identical exact inputs, so the raw (unrounded) z the
    * |z| > 2 filter sees is bit-identical and no boundary row can
    * flip. The naive-stddev alternative (avg/stddev_samp of raw
    * doubles) differs across engines in the last ulps and makes the
    * threshold a coin flip. One partial-agg pass for the moments, a
    * broadcast of the per-user stats (bounded by user count), one
    * codegen'd filter — nothing corpus-sized shuffles.
    */
  def analyticZscoreOutliers(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val q = events(spark, sfDir)
      .select($"event_id", $"user_id", money($"value").as("qv"))
    val stats = q.groupBy($"user_id")
      .agg(count(lit(1)).as("n"), sum($"qv").as("s1"),
        sum($"qv" * $"qv").as("s2"))
      .withColumn("mean", $"s1".cast(DoubleType) / $"n")
      .withColumn("std",
        sqrt(($"s2".cast(DoubleType) - $"n" * $"mean" * $"mean") / ($"n" - 1)))
      .select($"user_id", $"mean", $"std")
    q.join(broadcast(stats), Seq("user_id"))
      .withColumn("z", ($"qv".cast(DoubleType) - $"mean") / $"std")
      .filter(abs($"z") > 2.0)
      .select($"event_id", $"user_id",
        $"qv".cast(DoubleType).as("value_q"), round($"z", 4).as("z"))
      .orderBy($"event_id")
  }

  /** Inverted index over the corpus: term → document frequency +
    * the first 20 postings (sorted doc_ids, comma-joined) — the
    * retrieval-side artifact of a text pipeline. Explode + hash
    * aggregate; `collect_set` bounds per-term state by distinct docs
    * and the postings column is capped at 20 entries, so row width is
    * bounded no matter the corpus size (the full posting list at
    * 100 TB would be written as (term, doc) pairs instead — this op is
    * the dictionary/head view).
    */
  def textInvertedIndex(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    documents(spark, sfDir)
      .select($"doc_id", explode(split($"text", " ")).as("term"))
      .groupBy($"term")
      .agg(countDistinct($"doc_id").as("df"),
        array_join(
          expr("transform(slice(sort_array(collect_set(doc_id)), 1, 20), " +
            "x -> cast(x AS STRING))"), ",").as("postings"))
      .orderBy($"term")
  }

  /** Z-order (Morton) clustering key: customer bucket and day-number
    * bucket bit-interleaved into one 16-bit z-value. Sorting/range-
    * partitioning by z keeps BOTH dimensions locally narrow in every
    * partition — the multi-dimensional data-skipping layout (Delta
    * OPTIMIZE ZORDER BY) that lets min/max file stats prune scans on
    * either predicate column; Round7Spec2 measures the per-partition
    * span shrinkage after `repartitionByRange(zval)`. The interleave
    * is 16 shift-and-mask terms of integer arithmetic — exactly
    * mirrored in the oracle's dialect.
    */
  def scaleZorderCluster(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val morton = (0 until 8).map { i =>
      s"shiftleft(shiftright(xb, $i) & 1, ${2 * i}) + " +
        s"shiftleft(shiftright(yb, $i) & 1, ${2 * i + 1})"
    }.mkString(" + ")
    orders(spark, sfDir)
      .withColumn("xb", pmod($"o_custkey", lit(256)).cast(IntegerType))
      .withColumn("yb",
        pmod(datediff($"o_orderdate".cast(DateType),
          to_date(lit("1995-01-01"))), lit(256)).cast(IntegerType))
      .withColumn("zval", expr(morton))
      .select($"o_orderkey", $"xb", $"yb", $"zval")
      .orderBy($"zval", $"o_orderkey")
  }

  /** Batch mirror of stateful sessionization (gap > 30 min closes a
    * session): lag-boundary + running-sum islands on ONE (user_id)
    * partitioning, runs collapsed to (start, end, n). The real
    * streaming path is [[Streaming.statefulSessionStream]] —
    * flatMapGroupsWithState with EventTimeTimeout, where a session is
    * emitted when the watermark passes its end + gap and its state is
    * freed; StreamingSpec drives it through a MemoryStream. Sessions
    * per key live in the StateStore, so memory scales with ACTIVE
    * sessions, not stream length.
    */
  def streamStatefulSession(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    events(spark, sfDir)
      .select($"user_id", $"ts", $"event_id")
      .withColumn("boundary",
        when(lag($"ts", 1).over(w).isNull ||
          $"ts" > lag($"ts", 1).over(w) + expr("INTERVAL 30 MINUTES"), 1L)
          .otherwise(0L))
      .withColumn("session_id", sum($"boundary").over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy($"user_id", $"session_id")
      .agg(min($"ts").as("session_start"), max($"ts").as("session_end"),
        count(lit(1)).as("n_events"))
      .select($"user_id", $"session_id", $"session_start", $"session_end",
        $"n_events")
      .orderBy($"user_id", $"session_start")
  }

  /** Rule-based quarantine audit: four independent validation rules
    * evaluated in one codegen'd projection, combined into a bitmask,
    * histogrammed — the ingest-gate shape where each row is tagged
    * with WHICH rules it violated (not just a boolean), so the
    * quarantine bucket is queryable by failure mode. One scan, one
    * tiny aggregate; rules never branch into separate passes.
    */
  def pipelineQuarantineRules(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    lineitem(spark, sfDir)
      .select(
        (when($"l_discount" > 0.08, 1).otherwise(0) +
          when($"l_tax" >= 0.06, 2).otherwise(0) +
          when($"l_quantity" >= 45.0, 4).otherwise(0) +
          when($"l_shipdate" > ntz("2001-06-01 00:00:00"), 8).otherwise(0))
          .as("violation_mask"))
      .groupBy($"violation_mask")
      .agg(count(lit(1)).as("n_rows"))
      .orderBy($"violation_mask")
  }

  /** Trigram language-model head: for every bigram context seen >= 20
    * times, the most likely next token and its conditional probability
    * cnt(w1 w2 w3)/cnt(w1 w2) — the n-gram LM table a quality filter
    * scores perplexity against. Ties on count break lexicographically
    * (engine-pinned ordering). Two explode+count aggregates sharing
    * the corpus scan and a key-partitioned join — the vocabulary, not
    * the corpus, bounds the shuffled state at 100 TB.
    */
  def textTrigramLm(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val toks = documents(spark, sfDir)
      .select($"doc_id", split($"text", " ").as("t"))
    val tri = toks.filter(size($"t") >= 3)
      .select(explode(expr(
        "transform(sequence(1, size(t) - 2), i -> struct(" +
          "concat(element_at(t, i), ' ', element_at(t, i + 1)) AS ctx, " +
          "element_at(t, i + 2) AS nxt))")).as("g"))
      .groupBy($"g.ctx".as("ctx"), $"g.nxt".as("nxt"))
      .agg(count(lit(1)).as("n3"))
    val ctxCounts = tri.groupBy($"ctx").agg(sum($"n3").as("n_ctx"))
    val w = Window.partitionBy($"ctx").orderBy($"n3".desc, $"nxt".asc)
    tri.withColumn("rk", row_number().over(w))
      .filter($"rk" === 1)
      .join(ctxCounts.filter($"n_ctx" >= 20), Seq("ctx"))
      .select($"ctx", $"nxt", $"n_ctx",
        round($"n3".cast(DoubleType) / $"n_ctx", 6).as("p_next"))
      .orderBy($"ctx")
  }

  /** Interval-containment join — the late-arriving-fact resolve: each
    * purchase event is matched to the session interval containing its
    * timestamp. The join keeps the user_id EQUI-key, so Catalyst
    * plans a hash join partitioned by user with the range containment
    * as a residual filter — NOT the nested loop a pure theta join
    * forces; at 100 TB the shuffle is keyed and the per-key interval
    * list is what the residual scans (bounded by sessions per user).
    * Intervals are the stateful-session output, so this is also the
    * composition proof for the SCD2/session family.
    */
  def joinIntervalContainment(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val sessions = streamStatefulSession(spark, sfDir)
      .select($"user_id", $"session_id", $"session_start", $"session_end")
    val purchases = events(spark, sfDir)
      .filter($"event_type" === "purchase")
      .select($"user_id", $"event_id", $"ts")
    purchases.join(sessions, Seq("user_id"))
      .filter($"ts" >= $"session_start" && $"ts" <= $"session_end")
      .select($"event_id", $"user_id", $"session_id", $"session_start")
      .orderBy($"event_id")
  }

  /** Small-file compaction — the table-maintenance pass every 100 TB
    * lake needs: a 64-way fragmented write (the streaming-ingest
    * failure mode: file count × partitions × triggers) is compacted
    * with `coalesce(4)` — a NARROW dependency, so the rewrite moves
    * data without any shuffle — and the round trip is proven
    * content-preserving by exact count + decimal checksum. File counts
    * are deterministic contract constants (64 explicit partitions in,
    * 4 out); at scale the same pass sizes output files to the HDFS
    * block / parquet row-group sweet spot instead of a fixed 4.
    */
  def pipelineCompactSmallFiles(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    def nFiles(dir: String): Int =
      new java.io.File(dir).listFiles().count(_.getName.startsWith("part-"))
    val out = ScaleTechniques.materializeOnce(
      s"compact_${ScaleTechniques.datasetKey(sfDir)}") { tmp =>
      orders(spark, sfDir).select($"o_orderkey", $"o_totalprice")
        .repartition(64)
        .write.mode("overwrite").parquet(s"$tmp/small")
      spark.read.parquet(s"$tmp/small")
        .coalesce(4)
        .write.mode("overwrite").parquet(s"$tmp/compacted")
    }
    val small = s"$out/small"; val compacted = s"$out/compacted"
    spark.read.parquet(compacted)
      .agg(lit(nFiles(small)).as("n_files_small"),
        lit(nFiles(compacted)).as("n_files_compacted"),
        count(lit(1)).as("n_rows"),
        sum(money($"o_totalprice")).cast(DoubleType).as("revenue_checksum"))
  }

  /** Plain-text source round trip: the corpus written as a text file
    * (one line per document), read back with `spark.read.text`, and
    * proven content-preserving through order-free aggregates (line
    * count, total chars, lexicographic min/max) — text ingest is how
    * raw crawl data enters a pipeline before any schema exists.
    */
  def sourceTextRoundtrip(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val out = ScaleTechniques.materializeOnce(
      s"text_rt_${ScaleTechniques.datasetKey(sfDir)}") { tmp =>
      documents(spark, sfDir).select($"text")
        .write.mode("overwrite").text(tmp)
    }
    spark.read.text(out)
      .agg(count(lit(1)).as("n_lines"),
        sum(length($"value")).as("total_chars"),
        min($"value").as("min_line"), max($"value").as("max_line"))
  }

  /** Pairwise Pearson correlation from EXACT decimal moments (n, Σx,
    * Σy, Σxx, Σyy, Σxy over 2dp-quantized values), converted to double
    * once and combined with the identical formula on both engines —
    * the same engine-tie-safe recipe as analytic_zscore_outliers,
    * extended to the bivariate moments. ONE scan computes all three
    * pairs' moments (a single multi-aggregate), then `stack` emits one
    * row per pair; built-in corr() would be one engine's accumulation
    * order against the other's.
    */
  def aggCorrPairs(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val colsPairs = Seq(("l_quantity", "l_extendedprice"),
      ("l_quantity", "l_discount"), ("l_extendedprice", "l_discount"))
    val base = lineitem(spark, sfDir).select(
      money($"l_quantity").as("q"), money($"l_extendedprice").as("e"),
      money($"l_discount").as("d"))
    val short = Map("l_quantity" -> "q", "l_extendedprice" -> "e",
      "l_discount" -> "d")
    val aggs = Seq(count(lit(1)).as("n")) ++
      Seq("q", "e", "d").flatMap { c =>
        Seq(sum(col(c)).as(s"s_$c"), sum(col(c) * col(c)).as(s"s_$c$c"))
      } ++
      colsPairs.map { case (x, y) =>
        sum(col(short(x)) * col(short(y))).as(s"s_${short(x)}${short(y)}")
      }
    def corrExpr(x: String, y: String): String = {
      val (nd, sx, sy, sxx, syy, sxy) =
        ("CAST(n AS DOUBLE)", s"CAST(s_$x AS DOUBLE)", s"CAST(s_$y AS DOUBLE)",
          s"CAST(s_$x$x AS DOUBLE)", s"CAST(s_$y$y AS DOUBLE)",
          s"CAST(s_$x$y AS DOUBLE)")
      s"round(($nd * $sxy - $sx * $sy) / " +
        s"sqrt(($nd * $sxx - $sx * $sx) * ($nd * $syy - $sy * $sy)), 6)"
    }
    val stacked = colsPairs.map { case (x, y) =>
      s"'${x}__$y', ${corrExpr(short(x), short(y))}"
    }.mkString(", ")
    base.agg(aggs.head, aggs.tail: _*)
      .selectExpr(s"stack(3, $stacked) AS (pair, corr)", "n")
      .orderBy("pair")
  }

  /** SQL PIVOT clause (vs agg_pivot's DataFrame `.pivot`): the
    * SQL-syntax spelling of the same rotate, with explicit IN values
    * (pivot columns must be enumerable — at scale an open-ended pivot
    * is a schema explosion) and null→0 coalesce because PIVOT emits
    * NULL for absent combinations where a CASE aggregation emits 0.
    */
  def sqlPivotClause(spark: SparkSession, sfDir: String): DataFrame = {
    orders(spark, sfDir).createOrReplaceTempView("g7p_orders")
    spark.sql("""
      SELECT o_orderpriority, coalesce(p, 0) AS n_p, coalesce(o, 0) AS n_o,
             coalesce(f, 0) AS n_f
      FROM (SELECT o_orderpriority, o_orderstatus FROM g7p_orders)
      PIVOT (count(*) FOR o_orderstatus IN ('P' AS p, 'O' AS o, 'F' AS f))
      ORDER BY o_orderpriority
    """)
  }

  /** Quoted-multiline CSV round trip — the parser trap that silently
    * corrupts naive ingest: a field containing embedded newlines,
    * delimiters, AND quote characters (derived deterministically from
    * the corpus) is written RFC-4180 style (quote = escape = `"`) and
    * read back with `multiLine=true`. Content preservation is proven
    * by order-free aggregates recomputed from the base table by the
    * oracle. At scale multiLine costs splittability (a file is one
    * task); the op documents that trade — it is the correctness tier,
    * with single-line escaped encodings as the parallel path.
    */
  def sourceCsvQuotedMultiline(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    def tricky(df: DataFrame): DataFrame =
      df.withColumn("tricky",
        concat(lit("l1\n"), $"lang", lit(",\"q\" end")))
    val tmp = ScaleTechniques.materializeOnce(
      s"mlcsv_${ScaleTechniques.datasetKey(sfDir)}") { t =>
      tricky(documents(spark, sfDir))
        .select($"doc_id", $"tricky")
        .write.mode("overwrite")
        .option("header", "true").option("quote", "\"").option("escape", "\"")
        .csv(t)
    }
    spark.read
      .option("header", "true").option("multiLine", "true")
      .option("quote", "\"").option("escape", "\"")
      .schema("doc_id LONG, tricky STRING")
      .csv(tmp)
      .agg(count(lit(1)).as("n_rows"),
        sum(length($"tricky")).as("total_chars"),
        countDistinct($"tricky").as("n_distinct"),
        min($"doc_id").as("min_id"), max($"doc_id").as("max_id"))
  }

  /** Forward as-of join: each click paired with the same user's NEXT
    * purchase at-or-after it ((ts, event_id) lexicographic) — the
    * attribution direction joinAsofLastEvent doesn't cover. Same
    * single-shuffle union-window form: first non-null purchase id over
    * the (currentRow, unboundedFollowing) frame; a time-conditioned
    * join would explode to |clicks| × |later purchases| before its
    * min-aggregate.
    */
  def joinAsofForward(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    events(spark, sfDir)
      .filter($"event_type".isin("click", "purchase"))
      .withColumn("purchase_id", when($"event_type" === "purchase", $"event_id"))
      .withColumn("next_purchase_id",
        first($"purchase_id", ignoreNulls = true).over(w))
      .filter($"event_type" === "click")
      .select($"event_id".as("click_id"), $"user_id", $"next_purchase_id")
      .orderBy($"click_id")
  }

  /** Numeric RANGE frame (vs win_range_interval's time-based one):
    * per priority class, how many orders and how much revenue sit
    * within 1000.0 BELOW each order's price. Value-based frames
    * include ALL ties regardless of position, so the result is
    * deterministic without a key tiebreak; the decimal-sum protocol
    * keeps the revenue exact. One shuffle on the partition key, one
    * sort — the frame scan is a running two-pointer over the sorted
    * run, not a per-row rescan.
    */
  def winRangeNumeric(spark: SparkSession, sfDir: String): DataFrame = {
    orders(spark, sfDir).createOrReplaceTempView("g7_orders")
    spark.sql("""
      SELECT o_orderkey, o_orderpriority, o_totalprice,
        count(*) OVER w AS n_in_band,
        CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) OVER w AS DOUBLE)
          AS rev_in_band
      FROM g7_orders
      WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice
                   RANGE BETWEEN 1000.0 PRECEDING AND CURRENT ROW)
      ORDER BY o_orderkey
    """)
  }
}
