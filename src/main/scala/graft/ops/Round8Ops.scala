package graft.ops

import graft.Tables._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Round-8 widening: trigram-LM perplexity scoring, int8 embedding
  * quantization with quantized-space top-k, exact-decimal EWMA,
  * dedup survivorship (golden record per duplicate cluster), rolling
  * distinct-count windows, and the Spark 4 VARIANT surface.
  */
object Round8Ops {

  /** Corpus-LM perplexity scoring — the quality-filter step that ranks
    * documents by how "expected" their token stream is under the
    * corpus's own trigram model (high mean negative-log-prob = outlier
    * doc). p(w3 | w1 w2) = cnt(w1 w2 w3)/cnt(w1 w2), both counts from
    * one explode+aggregate pass over the corpus; every document
    * trigram exists in the model by construction, so no backoff branch
    * is needed.
    *
    * Engine-tie protocol: each -ln p term is rounded to 9 dp and
    * accumulated in DECIMAL(28,9) — exact and order-free, so the only
    * cross-engine risk is a libm ulp landing within 5e-10 of a
    * rounding boundary (the text_collocation_pmi ln protocol, one
    * magnitude stricter); the per-doc mean converts to double once.
    *
    * Scale shape: trigram occurrences shuffle on (ctx, nxt) —
    * vocabulary-bounded, not corpus-bounded — then once on doc_id for
    * the per-doc mean. No driver state, no window over the corpus.
    */
  def textPerplexityScore(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val occ = documents(spark, sfDir)
      .select($"doc_id", split($"text", " ").as("t"))
      .filter(size($"t") >= 3)
      .select($"doc_id", explode(expr(
        "transform(sequence(1, size(t) - 2), i -> struct(" +
          "concat(element_at(t, i), ' ', element_at(t, i + 1)) AS ctx, " +
          "element_at(t, i + 2) AS nxt))")).as("g"))
      .select($"doc_id", $"g.ctx".as("ctx"), $"g.nxt".as("nxt"))
    val tri = occ.groupBy($"ctx", $"nxt").agg(count(lit(1)).as("n3"))
    val ctxC = tri.groupBy($"ctx").agg(sum($"n3").as("n_ctx"))
    occ.join(tri, Seq("ctx", "nxt"))
      .join(ctxC, Seq("ctx"))
      .withColumn("nll",
        round(log($"n_ctx".cast(DoubleType) / $"n3"), 9)
          .cast(DecimalType(28, 9)))
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_trigrams"),
        round(sum($"nll").cast(DoubleType) / count(lit(1)), 6)
          .as("mean_nll"))
      .orderBy($"doc_id")
  }

  /** Int8 embedding quantization + top-k in quantized space — the 4×
    * memory-reduction path an ANN index takes at 100 TB (int8 codes +
    * per-vector scale instead of float32). Symmetric linear
    * quantization: q_i = round(x_i * 127 / max|x|). Quantized values
    * are small integers; they are carried as exact doubles so the
    * compiled graft_dot kernel (codegen'd primitive loop) computes the
    * integer dot products — every product ≤ 127² and sum ≤ 64·127²
    * is exactly representable, so accumulation order cannot matter and
    * the result ties out bit-for-bit on any engine.
    *
    * float→double widening, the scale division, round-half-away, sqrt
    * and the final division are all IEEE-exact or correctly rounded,
    * so Spark and DuckDB derive identical codes and cosines with NO
    * rounding slack needed before the final display round.
    */
  def simEmbeddingQuantize(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    graft.expressions.GraftFunctions.ensureRegistered(spark)
    val q = embeddings(spark, sfDir)
      .select($"vec_id",
        expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("e"))
      .withColumn("scale",
        lit(127.0) / expr("array_max(transform(e, x -> abs(x)))"))
      // codes carried as float for the graft_dot kernel: |q| ≤ 127 and
      // every partial sum ≤ 64·127² < 2²⁴, so float storage and the
      // kernel's double accumulation are both exact — no rounding slack
      .withColumn("q", expr("transform(e, x -> CAST(round(x * scale) AS FLOAT))"))
      .withColumn("qn", call_function("graft_dot", $"q", $"q"))
      .select($"vec_id", $"q", $"qn")
    // pair generation is the G×G grid SHUFFLE join (LlmOps.gridPairs)
    // — no corpus broadcast, and the top-50 is TakeOrderedAndProject
    // so each cell keeps a local top-50 before the driver-side merge.
    // QUADRATIC BY CONTRACT (round-14 scale probe: 82× at 10× data):
    // Round8Spec compares this top-50 pairwise against
    // sim_cosine_topk's exact pairs (same pair universe required), so
    // it cannot sample; it shares the exact-baseline role and the
    // sim_ann_* family is the linear scale path.
    LlmOps.gridPairs(q, "vec_id", 8)
      .withColumn("q_dot", call_function("graft_dot", $"q_a", $"q_b"))
      .withColumn("q_cos", $"q_dot" / (sqrt($"qn_a") * sqrt($"qn_b")))
      .select($"id_a", $"id_b", $"q_dot".cast(LongType).as("q_dot"),
        round($"q_cos", 6).as("q_cos"))
      .orderBy($"q_cos".desc, $"id_a", $"id_b")
      .limit(50)
  }

  /** Exponentially weighted moving average over each user's last 8
    * event values (α = 1/2) — the smoothing pass a metrics pipeline
    * runs per entity. The recurrence is unrolled into an explicit lag
    * chain so it stays a SINGLE user-keyed window (no iterative
    * self-joins), and the weights are powers of two over 2-dp DECIMAL
    * values: every product v_j·2^(7−j) and the weight total are exact
    * integers scaled by 2^-7·10^-2, so the weighted sum is order-free
    * exact and the one double division at the end ties out on any
    * engine. At 100 TB this is one shuffle on user_id and a bounded
    * 8-slot frame per row — state never grows with history length.
    */
  def tsEwma(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    val base = events(spark, sfDir)
      .select($"user_id", $"event_id", $"ts", money($"value").as("v"))
    val lagged = (0 to 7).foldLeft(base) { (df, j) =>
      df.withColumn(s"v_$j", lag($"v", j).over(w))
    }
    val num = (0 to 7).map { j =>
      val wgt = lit(1L << (7 - j)).cast(DecimalType(10, 0))
      when(col(s"v_$j").isNotNull, col(s"v_$j") * wgt)
        .otherwise(lit(0).cast(DecimalType(30, 2)))
    }.reduce(_ + _)
    val den = (0 to 7).map { j =>
      when(col(s"v_$j").isNotNull, lit(1L << (7 - j))).otherwise(lit(0L))
    }.reduce(_ + _)
    lagged
      .select($"user_id", $"event_id",
        round(num.cast(DoubleType) / den.cast(DoubleType), 6).as("ewma"))
      .orderBy($"user_id", $"event_id")
  }

  /** Survivorship / golden-record construction: each near-duplicate
    * cluster (connected components over verified near-dup pairs)
    * collapses to one canonical row — min doc_id wins (deterministic,
    * order-free), with merged provenance (sorted distinct langs and
    * sources) and audit mass (total chars). This is the step that
    * turns pair detection into an actually deduplicated corpus; the
    * cluster map shuffles on cluster_id, bounded by #duplicates, not
    * corpus size.
    */
  def pipelineDedupSurvivorship(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val clusters = Round3Ops.nearDupClusters(spark, sfDir)
      .select($"doc_id", $"cluster_id")
    clusters.join(documents(spark, sfDir), Seq("doc_id"))
      .groupBy($"cluster_id")
      .agg(min($"doc_id").as("canonical_id"),
        count(lit(1)).as("n_members"),
        sum($"n_chars").as("total_chars"),
        array_join(array_sort(collect_set($"lang")), ",").as("langs"),
        array_join(array_sort(collect_set($"source")), ",").as("sources"))
      .orderBy($"cluster_id")
  }

  /** Rolling distinct-cardinality window: per user, the number of
    * DISTINCT event types in the last 10 events — the engagement-
    * breadth signal sessions are scored by. Spark has no
    * count(DISTINCT) OVER; `size(collect_set() OVER)` is the
    * equivalent with identical semantics (set size is order-free, so
    * no cross-engine tie risk). One user-keyed shuffle, 10-row frame
    * state per row.
    */
  def winDistinctRolling(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
      .rowsBetween(-9, Window.currentRow)
    events(spark, sfDir)
      .select($"user_id", $"event_id",
        size(collect_set($"event_type").over(w)).as("n_distinct_types"))
      .orderBy($"user_id", $"event_id")
  }

  /** Exact distinct counting via fixed-size bitmaps — the scalable
    * alternative to COUNT(DISTINCT)'s expand+dedup shuffle: ids are
    * bucketed (`bitmap_bucket_number`), each (group, bucket) partial
    * aggregates into a constant-width bitmap (`bitmap_construct_agg`
    * ORs bit positions — mergeable, so map-side combine works), and
    * bucket cardinalities sum exactly because buckets partition the id
    * space. At 100 TB the shuffled state per group is #buckets ×
    * 4 KB bitmaps instead of one row per distinct id; result is EXACT,
    * unlike HLL. The oracle is plain COUNT(DISTINCT).
    */
  def aggBitmapDistinct(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    events(spark, sfDir)
      .groupBy($"event_type", expr("bitmap_bucket_number(user_id)").as("bkt"))
      .agg(expr("bitmap_construct_agg(bitmap_bit_position(user_id))").as("bm"),
        count(lit(1)).as("pn"))
      .groupBy($"event_type")
      .agg(sum(expr("bitmap_count(bm)")).cast(LongType).as("n_distinct_users"),
        sum($"pn").cast(LongType).as("n_events"))
      .orderBy($"event_type")
  }

  /** Sorted-layout data skipping: the events copy is range-partitioned
    * and sorted by ts before writing, so every parquet row group's
    * min/max footer stats span a NARROW time band and a point-band
    * query prunes most row groups at scan time (the same mechanic
    * Z-order generalizes to multiple columns — see pipeline_zorder_key;
    * at 100 TB this is the difference between reading one day and one
    * month). The layout is a one-time amortized write via
    * materializeOnce; the answer is layout-independent (oracle = the
    * same filter over the raw table).
    */
  def scaleSortedSkipping(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val out = ScaleTechniques.materializeOnce(
      s"events_tssorted_${ScaleTechniques.datasetKey(sfDir)}") { tmp =>
      events(spark, sfDir)
        .repartitionByRange(8, $"ts")
        .sortWithinPartitions($"ts")
        .write.mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(tmp)
    }
    spark.read.parquet(out)
      .filter($"ts" >= ntz("2024-01-10 00:00:00") &&
        $"ts" < ntz("2024-01-11 00:00:00"))
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n_events"),
        sum(money($"value")).cast(DoubleType).as("sum_value"))
      .orderBy($"event_type")
  }

  /** Schema-drift-tolerant ingestion audit: two snapshot generations of
    * the same feed — the newer one carries an added column — are
    * combined with unionByName(allowMissingColumns) (positional UNION
    * would silently misalign or reject), and the audit reports volume
    * and revenue per drift-coalesced group. This is the evolution path
    * every long-lived 100 TB feed needs: late columns appear as NULLs
    * on old rows, queryable immediately, no backfill.
    */
  def pipelineSchemaDriftAudit(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val base = orders(spark, sfDir)
    val v1 = base.filter(pmod($"o_orderkey", lit(2)) === 0)
      .select($"o_orderkey", money($"o_totalprice").as("price"))
    val v2 = base.filter(pmod($"o_orderkey", lit(2)) === 1)
      .select($"o_orderkey", money($"o_totalprice").as("price"),
        $"o_orderpriority".as("priority"))
    v1.unionByName(v2, allowMissingColumns = true)
      .groupBy(coalesce($"priority", lit("<pre-drift>")).as("priority"))
      .agg(count(lit(1)).as("n_rows"),
        sum($"price").cast(DoubleType).as("revenue"))
      .orderBy($"priority")
  }

  /** Point-in-time (temporal) join against the SCD2 dimension built by
    * [[Round7Ops.pipelineScd2]]: each purchase is resolved to the
    * status interval containing its timestamp — the "what did the
    * dimension say WHEN the fact happened" join that makes training
    * data leak-free (joining current state would leak the future).
    * The user_id equi-key keeps it a hash join with the interval
    * bounds as residual; every event falls in exactly one interval by
    * construction, so the join neither drops nor duplicates facts.
    */
  def joinScd2PointInTime(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val dim = Round7Ops.pipelineScd2(spark, sfDir)
      .select($"user_id", $"status", $"valid_from", $"valid_to")
    val facts = events(spark, sfDir)
      .filter($"event_type" === "purchase")
      .select($"user_id", $"event_id", $"ts")
    facts.join(dim,
        facts("user_id") === dim("user_id") &&
        $"ts" >= $"valid_from" &&
        ($"valid_to".isNull || $"ts" < $"valid_to"))
      .select($"event_id", facts("user_id").as("user_id"),
        $"status".as("status_at_purchase"), $"valid_from".as("status_since"))
      .orderBy($"event_id")
  }

  /** Spark 4 collation surface: case-insensitive grouping via
    * UTF8_LCASE collation — the engine-level answer to the lower()-
    * everywhere anti-pattern (collation-aware comparisons stay
    * codegen'd and, on sorted data, sort-order-compatible). A
    * deterministic mixed-case variant is derived first; the collated
    * group key is then re-lowered (and cast back to a plain string) so
    * the output is representative-independent and oracle-comparable.
    */
  def fnStringCollation(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val mixed = when(pmod($"doc_id", lit(2)) === 0, upper($"lang"))
      .otherwise($"lang")
    documents(spark, sfDir)
      .select(mixed.as("l"))
      .groupBy(expr("collate(l, 'UTF8_LCASE')").as("lc"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when($"l" === lower($"l"), 1L).otherwise(0L)).as("n_lowercase"))
      .select(lower($"lc").cast(StringType).as("lang_ci"),
        $"n_docs", $"n_lowercase")
      .orderBy($"lang_ci")
  }

  /** Feature standardization from exact decimal moments — the scaling
    * pass every ML pipeline runs before training: global min/max and
    * mean/std computed ONCE from 2dp-quantized exact sums (order-free,
    * engine-tie safe like agg_corr_pairs), broadcast back as a 1-row
    * frame, then z-score and min-max features derived per row with one
    * identical double expression on each engine. Two passes total over
    * the data regardless of feature count; the stats row is bytes.
    */
  def mlFeatureScaling(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val base = lineitem(spark, sfDir).select($"l_orderkey", $"l_linenumber",
      money($"l_quantity").as("q"), money($"l_extendedprice").as("e"))
    val stats = base.agg(
      count(lit(1)).as("n"),
      min($"q").as("q_min"), max($"q").as("q_max"), sum($"q").as("q_sum"),
      sum($"q" * $"q").as("q_sum2"),
      min($"e").as("e_min"), max($"e").as("e_max"), sum($"e").as("e_sum"),
      sum($"e" * $"e").as("e_sum2"))
    def z(v: String) = {
      val (n, s, s2) = (s"CAST(n AS DOUBLE)", s"CAST(${v}_sum AS DOUBLE)",
        s"CAST(${v}_sum2 AS DOUBLE)")
      s"round((CAST($v AS DOUBLE) - $s / $n) / " +
        s"sqrt(($s2 - $s * $s / $n) / $n), 6)"
    }
    def mm(v: String) =
      s"round((CAST($v AS DOUBLE) - CAST(${v}_min AS DOUBLE)) / " +
        s"(CAST(${v}_max AS DOUBLE) - CAST(${v}_min AS DOUBLE)), 6)"
    base.filter($"l_orderkey" < 100)
      .crossJoin(broadcast(stats))
      .select($"l_orderkey", $"l_linenumber",
        expr(z("q")).as("q_z"), expr(mm("q")).as("q_mm"),
        expr(z("e")).as("e_z"), expr(mm("e")).as("e_mm"))
      .orderBy($"l_orderkey", $"l_linenumber")
  }

  /** Data-quality expectation suite (the Great-Expectations shape):
    * every rule is evaluated in ONE scan as a conditional sum, then the
    * wide result unpivots to a (rule, n_violations, pass) report — a
    * query auditors read and pipelines gate on. Adding a rule adds a
    * column to the single aggregate, never a second pass; at 100 TB
    * the report costs one partial+final aggregate of #rules counters.
    */
  def pipelineDqExpectations(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val rules = Seq(
      ("qty_in_range", "l_quantity < 1.0 OR l_quantity > 50.0"),
      ("discount_in_range", "l_discount < 0.0 OR l_discount > 0.10"),
      ("tax_below_cap", "l_tax >= 0.09"),
      ("price_positive", "l_extendedprice <= 0.0"),
      ("shipdate_in_window",
        "l_shipdate < TIMESTAMP_NTZ '1992-01-01 00:00:00' OR " +
          "l_shipdate > TIMESTAMP_NTZ '2002-01-01 00:00:00'"))
    val vio = rules.map { case (nm, c) =>
      sum(when(expr(c), 1L).otherwise(0L)).as(nm)
    }
    val agg = lineitem(spark, sfDir)
      .agg(count(lit(1)).as("n_checked"), vio: _*)
    val stacked = rules.map { case (nm, _) => s"'$nm', $nm" }.mkString(", ")
    agg.select($"n_checked", expr(
        s"stack(${rules.size}, $stacked) AS (rule, n_violations)"))
      .select($"rule", $"n_checked", $"n_violations",
        ($"n_violations" === 0L).as("pass"))
      .orderBy($"rule")
  }

  /** Null-safe equality join (`<=>` / IS NOT DISTINCT FROM): NULL keys
    * match each other — the semantics dimension-key joins need when
    * "unknown" is itself a bucket (plain `=` silently drops every NULL
    * row). Spark plans `<=>` as a HASH join key (null-safe equality is
    * still an equi-key), so the NULL bucket shuffles like any other
    * value instead of forcing a nested loop.
    */
  def joinNullSafeEq(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val keyed = events(spark, sfDir)
      .select(nullif(pmod($"user_id", lit(7)), lit(3)).as("k"), $"event_id")
    val a = keyed.groupBy($"k").agg(count(lit(1)).as("n_a"))
    val b = keyed.groupBy($"k".as("k_b")).agg(count(lit(1)).as("n_b"))
    a.join(b, $"k" <=> $"k_b")
      .select($"k", $"n_a", $"n_b")
      .orderBy($"k".asc_nulls_first)
  }

  /** Dynamic partition overwrite — the backfill primitive: a corrected
    * recompute of ONE partition (`purchase`) replaces exactly that
    * directory while every other partition's files are untouched
    * (static overwrite mode would truncate the whole table — the
    * classic backfill disaster). The audit re-reads the table and
    * proves only the target partition changed. At 100 TB this is how
    * a bad day/type is repaired: rewrite one directory, not the lake.
    */
  def pipelineBackfillPartition(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    // one layout per dataset and context: the base write and the
    // dynamic-partition backfill overwrite both run inside the build
    val out = ScaleTechniques.materializeOnce(
      s"backfill_${ScaleTechniques.datasetKey(sfDir)}") { tmp =>
      val ev = events(spark, sfDir)
        .select($"event_id", $"user_id", $"value", $"event_type")
      ev.write.mode(org.apache.spark.sql.SaveMode.Overwrite)
        .partitionBy("event_type").parquet(tmp)
      ev.filter($"event_type" === "purchase")
        .withColumn("value", $"value" * 2)
        .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("event_type").parquet(tmp)
    }
    spark.read.parquet(out)
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n_events"),
        sum(money($"value")).cast(DoubleType).as("sum_value"))
      .orderBy($"event_type")
  }

  /** CDC change-log application — the lakehouse MERGE-from-stream
    * primitive: a totally-ordered changelog of upserts and deletes is
    * collapsed to final state by last-writer-wins per key (ONE window
    * pass on the key partitioning; the (ts, event_id) order makes the
    * winner unique), and a trailing delete removes the key entirely.
    * Unlike pipeline_upsert (two-state FULL OUTER merge) this is the
    * log-replay form: at 100 TB the changelog shuffles once on the
    * key and per-key state is one row, however long the log.
    */
  def pipelineCdcApply(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val log = events(spark, sfDir)
      .filter($"event_type".isin("signup", "view", "error"))
      .select($"user_id", $"ts", $"event_id",
        when($"event_type" === "error", lit("D")).otherwise(lit("U")).as("op"),
        money($"value").as("v"))
    val w = Window.partitionBy($"user_id").orderBy($"ts".desc, $"event_id".desc)
    log.withColumn("rn", row_number().over(w))
      .filter($"rn" === 1 && $"op" =!= "D")
      .select($"user_id", $"v".cast(DoubleType).as("final_value"),
        $"ts".as("last_updated"))
      .orderBy($"user_id")
  }

  /** Hidden metadata-column surface (`_metadata.file_path`): file-level
    * provenance without a manifest — here the partition value is
    * recovered from the path alone and proven equal to the data, the
    * audit a lake runs to detect rows landed in the wrong directory.
    * Metadata columns are populated by the reader for free (no extra
    * IO); the aggregate is partition-count-independent so the answer
    * is layout-stable across writer parallelism.
    */
  def scanMetadataColumns(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    ScaleTechniques.partitionedEvents(spark, sfDir)
      .select($"event_id", $"event_type",
        regexp_extract(col("_metadata.file_path"), "event_type=([a-z]+)", 1)
          .as("path_partition"))
      .groupBy($"path_partition")
      .agg(count(lit(1)).as("n_events"),
        min($"event_id").as("min_event_id"),
        max($"event_id").as("max_event_id"),
        sum(when($"event_type" === $"path_partition", 1L).otherwise(0L))
          .as("n_consistent"))
      .orderBy($"path_partition")
  }

  /** Discrete percentiles (`percentile_disc` WITHIN GROUP): picks an
    * ACTUAL value from the distribution instead of interpolating — the
    * form SLO/latency reporting needs (an interpolated p99 latency is
    * a latency no request ever had), and the engine-tie-safe one: no
    * arithmetic happens, so both engines return bit-identical values
    * with no rounding protocol. Plans as an ordered-group aggregate,
    * partial-sortable at scale.
    */
  def aggPercentileDisc(spark: SparkSession, sfDir: String): DataFrame = {
    lineitem(spark, sfDir).createOrReplaceTempView("g8_lineitem_pd")
    spark.sql("""
      SELECT l_returnflag,
        percentile_disc(0.25) WITHIN GROUP (ORDER BY l_quantity) AS p25,
        percentile_disc(0.50) WITHIN GROUP (ORDER BY l_quantity) AS p50,
        percentile_disc(0.75) WITHIN GROUP (ORDER BY l_quantity) AS p75,
        percentile_disc(0.95) WITHIN GROUP (ORDER BY l_extendedprice) AS p95_price
      FROM g8_lineitem_pd
      GROUP BY l_returnflag ORDER BY l_returnflag
    """)
  }

  /** regexp_extract_all surface: every match is surfaced (not just the
    * first), exploded and counted — the pattern-mining shape (PII
    * scans, token census) that single-match regexp_extract silently
    * undercounts. Pattern sticks to character classes so Java and RE2
    * regex semantics coincide. Match census shuffles on the bounded
    * match vocabulary, not the corpus.
    */
  def fnRegexpExtractAll(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    documents(spark, sfDir)
      .select(explode(expr(
        "regexp_extract_all(text, '[a-z]+e[a-z]+', 0)")).as("m"))
      .groupBy($"m")
      .agg(count(lit(1)).as("n"))
      .orderBy($"n".desc, $"m")
      .limit(30)
  }

  /** binaryFile source — the multimodal ingest path: opaque payloads
    * (images/audio/docs) enter as whole-file binary records with path
    * metadata, no schema assumed. A deterministic single text file is
    * laid down first (sorted lines, one writer), then read back as
    * bytes and content-addressed with md5 — the checksum the oracle
    * reproduces from the rows alone, proving byte-exact ingest. At
    * scale each file is one record: the reader parallelizes across
    * files, never splits within one.
    */
  def sourceBinaryfile(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val out = ScaleTechniques.materializeOnce(
      s"binfile_${ScaleTechniques.datasetKey(sfDir)}") { tmp =>
      documents(spark, sfDir).select($"text").orderBy($"text")
        .coalesce(1)
        .write.mode(org.apache.spark.sql.SaveMode.Overwrite).text(tmp)
    }
    spark.read.format("binaryFile")
      .option("pathGlobFilter", "part-*")
      .load(out)
      .agg(count(lit(1)).cast(LongType).as("n_files"),
        sum(octet_length($"content")).cast(LongType).as("total_bytes"),
        min(md5($"content")).as("content_md5"))
  }

  /** Skewness and excess kurtosis from exact decimal raw moments
    * (Σx..Σx⁴ are order-free exact; quantity ≤ 50 keeps x⁴ sums well
    * inside DECIMAL(38,8)), converted once and combined with ONE
    * identical double expression per statistic — the engine-tie-safe
    * recipe (agg_stats / agg_corr_pairs) extended to 3rd/4th moments.
    * Built-in skewness()/kurtosis() would pit two engines' streaming
    * update orders against each other.
    */
  def aggSkewKurtosis(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val m = lineitem(spark, sfDir)
      .select($"l_returnflag", money($"l_quantity").as("x"))
      .groupBy($"l_returnflag")
      .agg(count(lit(1)).as("n"), sum($"x").as("s1"),
        sum($"x" * $"x").as("s2"),
        sum($"x" * $"x" * $"x").as("s3"),
        sum($"x" * $"x" * $"x" * $"x").as("s4"))
    m.selectExpr("l_returnflag",
        "CAST(n AS DOUBLE) AS nd", "CAST(s1 AS DOUBLE) AS d1",
        "CAST(s2 AS DOUBLE) AS d2", "CAST(s3 AS DOUBLE) AS d3",
        "CAST(s4 AS DOUBLE) AS d4")
      .selectExpr("l_returnflag",
        "d1 / nd AS mu", "d2 / nd - (d1 / nd) * (d1 / nd) AS m2",
        "d3 / nd - 3 * (d1 / nd) * (d2 / nd) + 2 * (d1 / nd) * (d1 / nd) * (d1 / nd) AS m3",
        "d4 / nd - 4 * (d1 / nd) * (d3 / nd) + 6 * (d1 / nd) * (d1 / nd) * (d2 / nd) - 3 * (d1 / nd) * (d1 / nd) * (d1 / nd) * (d1 / nd) AS m4")
      .selectExpr("l_returnflag",
        "round(mu, 6) AS mean_qty",
        "round(m3 / (m2 * sqrt(m2)), 6) AS skewness",
        "round(m4 / (m2 * m2) - 3, 6) AS excess_kurtosis")
      .orderBy($"l_returnflag")
  }

  /** nth_value window navigation: the runner-up order per customer —
    * first/second/last picked from ONE (price desc, orderkey) ordered
    * full frame; the total order makes every pick deterministic.
    */
  def winNthValue(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"o_custkey")
      .orderBy($"o_totalprice".desc, $"o_orderkey")
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    orders(spark, sfDir)
      .select($"o_custkey",
        first($"o_orderkey").over(w).as("top_order"),
        nth_value($"o_orderkey", 2).over(w).as("runnerup_order"),
        last($"o_orderkey").over(w).as("smallest_order"),
        count(lit(1)).over(w).as("n_orders"))
      .distinct()
      .orderBy($"o_custkey")
  }

  /** Cryptographic-hash surface (sha-256 + md5): content addressing
    * for dedup manifests and cache keys — pure codegen'd projection,
    * byte-identical across engines by definition of the hash.
    */
  def fnHashSha(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    documents(spark, sfDir)
      .select($"doc_id",
        sha2($"text", 256).as("sha256_hex"),
        md5($"text").as("md5_hex"),
        substring(sha2(concat($"lang", lit("|"), $"text"), 256), 1, 16)
          .as("salted_prefix"))
      .orderBy($"doc_id")
  }

  /** Euclidean (L2) top-k — the second metric every vector store
    * serves: d² = ‖a‖² + ‖b‖² − 2⟨a,b⟩ reuses the SAME compiled dot
    * kernel as the cosine path (norms precomputed once per vector), so
    * adding a metric adds zero new shuffle structure. d² is compared
    * raw (monotone in d, no sqrt in the hot loop); sqrt + round only
    * on the 50 survivors.
    *
    * Round 14: pair generation moved onto the shared G×G grid SHUFFLE
    * join (LlmOps.gridPairs) — the original `broadcast(corpus)` pair
    * join was the one remaining corpus-sized forced broadcast in the
    * sim family (the scale probe flagged it at 27.9× for 10× data,
    * and at 100 TB it simply doesn't ship). Identical all-pairs
    * semantics, identical output; the top-50 is TakeOrderedAndProject
    * (per-cell top-k map-side). Like sim_cosine_topk this remains the
    * QUADRATIC BY CONTRACT exact baseline (round-16 full-board probe:
    * ~19x at 10x data, pair universe shared with the cosine twin);
    * sim_ann_lsh / sim_ann_ivf are the linear path.
    */
  def simEuclideanTopk(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    graft.expressions.GraftFunctions.ensureRegistered(spark)
    // raw float arrays into the kernel (it widens per element and
    // accumulates in double — the same arithmetic as the oracle's
    // ::DOUBLE[] list_inner_product)
    val t = embeddings(spark, sfDir)
      .select($"vec_id", $"embedding".as("e"))
      .withColumn("n2", call_function("graft_dot", $"e", $"e"))
    LlmOps.gridPairs(t, "vec_id", 8)
      .withColumn("d2",
        $"n2_a" + $"n2_b" - lit(2.0) * call_function("graft_dot", $"e_a", $"e_b"))
      .orderBy($"d2".asc, $"id_a", $"id_b")
      .limit(50)
      .select($"id_a", $"id_b", round(sqrt($"d2"), 6).as("l2_dist"))
  }

  /** BPE-style pre-tokenization census: the GPT-2 pre-tokenizer's
    * class split (letter runs / digit runs / other runs) realized as a
    * character-class regex — the token-budget estimator a training
    * pipeline runs before the real BPE merge table is applied. Pure
    * character classes keep Java and RE2 semantics identical; the
    * shuffle carries the class vocabulary, not the corpus.
    */
  def textPretokenizeBpe(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    documents(spark, sfDir)
      .select($"doc_id", explode(expr(
        "regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]+', 0)")).as("tok"))
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_pretokens"),
        countDistinct($"tok").as("n_unique"),
        sum(length($"tok")).as("n_chars"))
      .orderBy($"doc_id")
  }

  /** Array-membership join rewritten as an explode equi-join: the
    * "rows tagged with any of these terms" query. The naive form —
    * `array_contains` in a join condition — is a nested-loop theta
    * join (every row × every term); exploding the array first turns
    * membership into a plain hash-join key, shuffle-partitionable at
    * any scale. distinct-before-join keeps one output row per
    * (doc, term) even when a term repeats inside a document.
    */
  def joinArrayMembership(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val terms = Seq("key", "table", "merge", "spark", "window").toDF("term")
    val docTerms = documents(spark, sfDir)
      .select($"doc_id", explode(array_distinct(split($"text", " "))).as("term"))
    docTerms.join(broadcast(terms), Seq("term"))
      .groupBy($"term")
      .agg(count(lit(1)).as("n_docs"),
        min($"doc_id").as("first_doc"), max($"doc_id").as("last_doc"))
      .orderBy($"term")
  }

  /** SQL UNPIVOT clause (the declarative inverse of PIVOT): wide
    * metric columns rotate into (metric, value) rows inside the query
    * language itself — schema evolution without a rewrite; plans as
    * Expand, one row per (input row × metric), no shuffle added.
    */
  def sqlUnpivotClause(spark: SparkSession, sfDir: String): DataFrame = {
    lineitem(spark, sfDir).createOrReplaceTempView("g8_lineitem_up")
    spark.sql("""
      SELECT l_returnflag, metric,
        CAST(round(sum(CAST(v AS DECIMAL(18,2))), 2) AS DOUBLE) AS total
      FROM (
        SELECT l_returnflag, l_quantity, l_extendedprice, l_tax
        FROM g8_lineitem_up
      ) UNPIVOT (v FOR metric IN (l_quantity, l_extendedprice, l_tax))
      GROUP BY l_returnflag, metric
      ORDER BY l_returnflag, metric
    """)
  }

  /** As-of join with a tolerance bound (pandas merge_asof(tolerance)):
    * each purchase takes the last click BUT only if it happened within
    * the preceding hour — stale matches become NULL instead of
    * attributing a conversion to a week-old click. Same single
    * user-keyed window as the plain as-of; the tolerance is one
    * integer-µs CASE on the carried timestamp, so bounding the match
    * costs nothing at any scale.
    */
  def joinAsofTolerance(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    events(spark, sfDir)
      .filter($"event_type".isin("click", "purchase"))
      .withColumn("click_id", when($"event_type" === "click", $"event_id"))
      .withColumn("click_um",
        when($"event_type" === "click",
          expr("unix_micros(CAST(ts AS TIMESTAMP))")))
      .withColumn("last_click_id", last($"click_id", ignoreNulls = true).over(w))
      .withColumn("last_click_um", last($"click_um", ignoreNulls = true).over(w))
      .filter($"event_type" === "purchase")
      .withColumn("gap_us",
        expr("unix_micros(CAST(ts AS TIMESTAMP))") - $"last_click_um")
      .select($"event_id".as("purchase_id"), $"user_id",
        when($"gap_us" <= 3600L * 1000000L, $"last_click_id")
          .as("click_within_1h"),
        when($"gap_us" <= 3600L * 1000000L, $"gap_us").as("gap_us"))
      .orderBy($"purchase_id")
  }

  /** Longest consecutive-day activity streak per user — the retention
    * metric engagement teams track: distinct active days collapse to
    * runs via the day-index − row_number island trick (consecutive
    * days share one island key), then max run length. Pure integer
    * arithmetic end-to-end; two aggregates and one window on the SAME
    * user partitioning — state bounded by active days per user.
    */
  def winStreakLongest(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val days = events(spark, sfDir)
      .select($"user_id",
        expr("datediff(CAST(date_trunc('DAY', ts) AS DATE), DATE '2024-01-01')")
          .cast(LongType).as("day_idx"))
      .distinct()
    val w = Window.partitionBy($"user_id").orderBy($"day_idx")
    days
      .withColumn("island", $"day_idx" - row_number().over(w))
      .groupBy($"user_id", $"island")
      .agg(count(lit(1)).as("len"))
      .groupBy($"user_id")
      .agg(max($"len").as("longest_streak"),
        sum($"len").as("n_active_days"))
      .orderBy($"user_id")
  }

  /** Zipf-law fit over the term frequency distribution: OLS slope of
    * ln(freq) on ln(rank) — the corpus-health diagnostic (natural text
    * ≈ −1; synthetic or boilerplate-heavy corpora drift off). Ranks
    * are deterministic ((count desc, term) order); each ln is
    * rounded to 9 dp and the OLS moments accumulate in exact DECIMAL,
    * so engines tie out — the perplexity/corr protocol applied to the
    * regression moments. Vocabulary-bounded state throughout.
    *
    * Scale shape: top-200 terms come from `orderBy(...).limit(200)` —
    * Spark plans that as TakeOrderedAndProject (per-partition bounded
    * heaps, one k-row merge), NEVER a global sort, so a billion-term
    * vocabulary still ships only 200 rows per partition. Ranks are
    * then assigned inside ONE 200-element array (collect_list →
    * array_sort with the same (f desc, term asc) comparator →
    * posexplode), which is k-bounded regardless of corpus size — no
    * unpartitioned window anywhere in the plan.
    */
  def textZipfFit(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val tf = documents(spark, sfDir)
      .select(explode(split($"text", " ")).as("term"))
      .groupBy($"term").agg(count(lit(1)).as("f"))
    val top = tf.orderBy($"f".desc, $"term".asc).limit(200)
    val ranked = top
      .agg(collect_list(struct($"f", $"term")).as("arr"))
      .select(posexplode(array_sort($"arr",
        (l, r) => when(l("f") > r("f"), -1).when(l("f") < r("f"), 1)
          .when(l("term") < r("term"), -1).when(l("term") > r("term"), 1)
          .otherwise(0))).as(Seq("pos", "s")))
      .select(
        round(log(($"pos" + 1).cast(DoubleType)), 9).cast(DecimalType(28, 9)).as("x"),
        round(log($"s.f".cast(DoubleType)), 9).cast(DecimalType(28, 9)).as("y"))
    ranked.agg(count(lit(1)).as("n"), sum($"x").as("sx"), sum($"y").as("sy"),
        sum($"x" * $"x").as("sxx"), sum($"x" * $"y").as("sxy"))
      .selectExpr(
        "CAST(n AS BIGINT) AS n_terms",
        "round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) / " +
          "(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)), 6) AS zipf_slope",
        "round((CAST(sy AS DOUBLE) - ((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) / " +
          "(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))) * CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE), 6) AS intercept")
  }

  /** Spark 4 VARIANT ingestion surface: semi-structured `props` JSON
    * parsed once into VARIANT (`parse_json`) and field-extracted with
    * `variant_get` typed paths — the open-schema ingest path that
    * replaces per-access JSON re-parsing (shredded, binary-encoded,
    * predicate-pushable at scan level in lakehouse formats). VARIANT
    * itself never leaves the query: extracted typed columns feed a
    * plain aggregate, so the output stays oracle-comparable.
    */
  def fnVariant(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    events(spark, sfDir)
      .select($"event_type",
        expr("CAST(variant_get(parse_json(props), '$.k', 'long') AS BIGINT)")
          .as("k"))
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n_events"),
        min($"k").as("min_k"), max($"k").as("max_k"),
        sum($"k").as("sum_k"),
        count(when($"k" >= 50, 1)).as("n_high"))
      .orderBy($"event_type")
  }
}
