package graft.ops

import graft.Tables._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Round-11 widening, part 20: Holt linear smoothing, cross-source
  * overlap, embedding stats, doc-embedding alignment, partition-path
  * reads, seasonal-naive backtest.
  */
object Round11Ops20 {

  /** Holt's linear (double) exponential smoothing per event type,
    * α = β = 0.5 — every recurrence step multiplies by an exactly
    * representable 0.5 and the op order is mirrored verbatim in the
    * oracle's recursive CTE, so the sequential recursion is
    * bit-deterministic. The series is group-bounded (one point per
    * day), so collect + a single `aggregate` HOF pass per group is
    * the right shape: state is (level, trend), the corpus is never
    * re-scanned per step. Emits the fitted end state and a 7-step
    * linear forecast.
    */
  def tsHoltLinear(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val daily = events(spark, sfDir)
      .groupBy($"event_type", to_date($"ts").as("d"))
      .agg(count(lit(1)).cast(DoubleType).as("c"))
    val series = daily.groupBy($"event_type")
      .agg(transform(array_sort(collect_list(struct($"d", $"c"))),
        x => x.getField("c")).as("ys"))
    val stepped = series.select($"event_type",
      size($"ys").cast(LongType).as("n_days"),
      aggregate(
        slice($"ys", lit(2), size($"ys") - 1),
        struct(element_at($"ys", 1).as("l"), lit(0.0).as("b")),
        (acc: Column, y: Column) => {
          val l2 = lit(0.5) * y + lit(0.5) * (acc("l") + acc("b"))
          struct(l2.as("l"),
            (lit(0.5) * (l2 - acc("l")) + lit(0.5) * acc("b")).as("b"))
        }).as("st"))
    stepped.select($"event_type", $"n_days",
        round($"st.l", 6).as("level"),
        round($"st.b", 6).as("trend"),
        round($"st.l" + lit(7.0) * $"st.b", 6).as("forecast_7d"))
      .orderBy($"event_type")
  }

  /** Cross-source duplicate overlap: for every source pair, how many
    * distinct document hashes appear in BOTH — plus the pairwise
    * Jaccard over hash sets. Shape: one md5 projection, a distinct
    * (hash, source) set, and a hash-keyed self equi-join — shuffle is
    * linear in distinct hashes and pair rows are bounded by
    * sources² × shared hashes, never documents². The
    * train/val-contamination census across ingest feeds.
    */
  def pipelineCrossSourceOverlap(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val hs = documents(spark, sfDir)
      .select(md5($"text").as("h"), $"source").distinct()
    val perSrc = hs.groupBy($"source").agg(count(lit(1)).as("n_hashes"))
    val shared = hs.as("a").join(hs.as("b"),
        col("a.h") === col("b.h") && col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("sa"), col("b.source").as("sb"))
      .agg(count(lit(1)).as("n_sh"))
    // every unordered source pair appears, zero-shared included — a
    // clean census is a result, not an empty one
    perSrc.select($"source".as("src_a"), $"n_hashes".as("n_a"))
      .join(perSrc.select($"source".as("src_b"), $"n_hashes".as("n_b")),
        $"src_a" < $"src_b")
      .join(shared, $"src_a" === $"sa" && $"src_b" === $"sb", "left")
      .select($"src_a", $"src_b",
        coalesce($"n_sh", lit(0L)).as("n_shared"), $"n_a", $"n_b",
        round(coalesce($"n_sh", lit(0L)).cast(DoubleType) /
          ($"n_a" + $"n_b" - coalesce($"n_sh", lit(0L))).cast(DoubleType), 6)
          .as("jaccard"))
      .orderBy($"src_a", $"src_b")
  }

  /** Embedding-table QA per label: count, zero-vector count, norm
    * min/max (raw-double extremes are order-independent) and mean
    * norm under the freeze-then-sum protocol (norm rounded to 6 dp,
    * cast DECIMAL, summed exactly, ONE final division) — the vector
    * ingest audit run before any ANN index build.
    */
  def simEmbeddingStats(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    graft.expressions.GraftFunctions.ensureRegistered(spark)
    val e = embeddings(spark, sfDir)
      .select($"label",
        sqrt(call_function("graft_dot", $"embedding", $"embedding")).as("nrm"))
    e.groupBy($"label")
      .agg(count(lit(1)).as("n"),
        count(when($"nrm" === 0.0, 1)).as("n_zero"),
        min($"nrm").as("min_norm"), max($"nrm").as("max_norm"),
        sum(round($"nrm", 6).cast(DecimalType(18, 6))).as("snrm"))
      .select($"label", $"n", $"n_zero",
        round($"min_norm", 6).as("min_norm"),
        round($"max_norm", 6).as("max_norm"),
        round($"snrm".cast(DoubleType) / $"n".cast(DoubleType), 6)
          .as("avg_norm"))
      .orderBy($"label")
  }

  /** Text↔embedding alignment audit: documents full-outer-join the
    * embedding table on id (embeddings deliberately thinned to
    * id % 7 ≠ 0 to model partial coverage); per language: doc count,
    * aligned count, coverage rate, and the aligned vectors' mean norm
    * under the freeze-then-sum protocol. The id equi-join is one
    * shuffle at any scale — the standard multimodal-pairing health
    * check before training on paired data.
    */
  def multimodalPairAlign(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    graft.expressions.GraftFunctions.ensureRegistered(spark)
    val vecs = embeddings(spark, sfDir)
      .filter(pmod($"vec_id", lit(7)) =!= 0)
      .select($"vec_id",
        sqrt(call_function("graft_dot", $"embedding", $"embedding")).as("nrm"))
    documents(spark, sfDir)
      .join(vecs, $"doc_id" === $"vec_id", "left_outer")
      .groupBy($"lang")
      .agg(count(lit(1)).as("n_docs"),
        count($"vec_id").as("n_aligned"),
        sum(when($"vec_id".isNotNull, round($"nrm", 6).cast(DecimalType(18, 6)))
          .otherwise(lit(null))).as("snrm"))
      .select($"lang", $"n_docs", $"n_aligned",
        round($"n_aligned".cast(DoubleType) / $"n_docs".cast(DoubleType), 6)
          .as("coverage"),
        round($"snrm".cast(DoubleType) / $"n_aligned".cast(DoubleType), 6)
          .as("avg_aligned_norm"))
      .orderBy($"lang")
  }

  /** Partition-path selection: a type/day partitioned lake write,
    * then a read of ONE event type by partition directory with
    * basePath set so partition columns survive — the manual
    * partition-pruning pattern when the engine sees a path, not a
    * predicate. The listing touches only the selected subtree's
    * files; at scale that is the difference between one directory
    * and the whole lake.
    */
  def sourcePathGlob(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val dir = runDir("r11_glob", sfDir)
    events(spark, sfDir)
      // round 19: event_id was written but never read back — the
      // glob-read aggregate touches only (event_type, dom, cents), so
      // the id column was pure shuffle+write weight (guide: project
      // before the exchange). Result-identical.
      .select((money($"value") * 100).cast(LongType).as("cents"),
        $"event_type", dayofmonth($"ts").as("dom"))
      // cluster rows into their partition before the write: without
      // this every task writes a sliver into every directory — the
      // small-files antipattern (tasks × partitions files: 150k files
      // from 1000 tasks at cluster scale vs one per directory here;
      // cost-neutral at sf0.1 where the shuffle offsets the file
      // overhead, decisive at 100×)
      .repartition($"event_type", $"dom")
      .write.mode("overwrite").partitionBy("event_type", "dom").parquet(dir)
    spark.read.option("basePath", dir).parquet(s"$dir/event_type=purchase")
      .groupBy($"event_type", $"dom")
      .agg(count(lit(1)).as("n"), sum($"cents").as("sum_cents"))
      .orderBy($"dom")
  }

  /** Seasonal-naive backtest: forecast each day's event count with
    * the count 7 days EARLIER (same weekday), then score MAE and MAPE
    * per event type. The lag is an event-type-partitioned window; the
    * absolute errors are exact integers, and MAPE freezes each
    * per-day ratio at 6 dp as DECIMAL before the sum so the mean is
    * order-independent. The sanity baseline every forecasting
    * pipeline must beat.
    */
  def tsSeasonalNaiveError(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val daily = events(spark, sfDir)
      .groupBy($"event_type", to_date($"ts").as("d"))
      .agg(count(lit(1)).as("c"))
    val w = Window.partitionBy($"event_type").orderBy($"d")
    daily
      .withColumn("prev7", lag($"c", 7).over(w))
      .filter($"prev7".isNotNull && $"prev7" > 0)
      .withColumn("abs_err", abs($"c" - $"prev7"))
      .withColumn("apeq",
        round($"abs_err".cast(DoubleType) / $"prev7".cast(DoubleType), 6)
          .cast(DecimalType(18, 6)))
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n_scored"),
        sum($"abs_err").as("sae"), sum($"apeq").as("sape"))
      .select($"event_type", $"n_scored",
        round($"sae".cast(DoubleType) / $"n_scored".cast(DoubleType), 6)
          .as("mae"),
        round($"sape".cast(DoubleType) / $"n_scored".cast(DoubleType), 6)
          .as("mape"))
      .orderBy($"event_type")
  }
}
