package graft.ops

import graft.Tables._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Round-13 widening, part 4: robust outlier screening (MAD), null
  * imputation, and parquet schema evolution — the data-quality prep
  * steps between ingest and training.
  */
object Round13Ops4 {

  /** Discrete median (value at rank ⌈n/2⌉) from a (value, count)
    * table via the O(k) sorted-array fold — the repo's window-free
    * cumulative shape. -1 sentinel while unresolved; integer-exact.
    */
  private def discMedian(vc: DataFrame): DataFrame = {
    vc.agg(array_sort(collect_list(struct(col("v"), col("cnt")))).as("a"))
      .select(expr("""
        aggregate(a,
          named_struct('cum', CAST(0 AS BIGINT), 'tot',
            aggregate(a, CAST(0 AS BIGINT), (t, x) -> t + x.cnt),
            'med', CAST(-1 AS BIGINT)),
          (acc, x) -> named_struct(
            'cum', acc.cum + x.cnt,
            'tot', acc.tot,
            'med', CASE WHEN acc.med >= 0 THEN acc.med
                        WHEN 2 * (acc.cum + x.cnt) >= acc.tot + 1
                          THEN x.v ELSE CAST(-1 AS BIGINT) END))""").as("st"))
      .select(col("st.tot").as("n"), col("st.med").as("med"))
  }

  /** Robust outlier screen: median / MAD (median absolute deviation)
    * over order totals in exact integer cents — the heavy-tail-safe
    * alternative to mean/stddev z-scores. Both medians are discrete
    * order statistics (rank ⌈n/2⌉) computed by the window-free
    * distinct-value fold, so everything up to the final rate is
    * integer-exact and the oracle's serial window formulation must
    * agree bit-for-bit. Outlier rule kept integer: |x − med| > 3·MAD
    * (the 1.4826 normal-consistency factor is deliberately omitted —
    * it only rescales the threshold and would drag floats into the
    * decision). Corpus passes: one per-value count, one deviation
    * count (after a 1-row median broadcast), one filtered count.
    */
  def analyticMadOutliers(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val cents = orders(spark, sfDir)
      .select((money($"o_totalprice") * 100).cast(LongType).as("c"))
    val med = discMedian(
      cents.groupBy($"c".as("v")).agg(count(lit(1)).as("cnt")))
      .select($"n", $"med".as("med_cents"))
    val dev = cents.crossJoin(broadcast(med))
      .select(abs($"c" - $"med_cents").as("d"), $"med_cents", $"n")
    val mad = discMedian(
      dev.groupBy($"d".as("v")).agg(count(lit(1)).as("cnt")))
      .select($"med".as("mad_cents"))
    val out = dev.crossJoin(broadcast(mad))
      .agg(sum(when($"d" > lit(3) * $"mad_cents", 1L).otherwise(0L))
        .as("n_outliers"))
    med.crossJoin(broadcast(mad)).crossJoin(broadcast(out))
      .select($"n", $"med_cents", $"mad_cents", $"n_outliers",
        round($"n_outliers".cast(DoubleType) / $"n", 6).as("outlier_rate"))
  }

  /** Null imputation — per-group mean fill, the first prep step of
    * any numeric pipeline. The corpus has no natural nulls, so a
    * deterministic 1-in-7 slice of event values (pmod(event_id,7)=0)
    * plays the missing set; the present values' per-type DECIMAL
    * partials give an exact imputed mean and the filled total expands
    * from the same partials — double math only in the epilogue, the
    * round-13 stats protocol.
    */
  def mlImputeMissing(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    events(spark, sfDir)
      .select($"event_type",
        when(pmod($"event_id", lit(7)) === 0, lit(null))
          .otherwise(money($"value")).as("x"))
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n_total"),
        count($"x").as("n_present"),
        sum($"x").as("s"))
      .select($"event_type", $"n_total",
        ($"n_total" - $"n_present").as("n_missing"),
        round($"s".cast(DoubleType) / $"n_present", 6).as("imputed_mean"),
        // total after filling every missing row with the mean
        round($"s".cast(DoubleType) +
          ($"n_total" - $"n_present") *
            ($"s".cast(DoubleType) / $"n_present"), 4).as("filled_total"))
      .orderBy($"event_type")
  }

  /** LTTB-style downsampling of the per-type daily event series —
    * the visualization-grade reduction a 100 TB telemetry store runs
    * before charting. Classic LTTB anchors each bucket's pick on the
    * PREVIOUSLY SELECTED point (a sequential chain); this is the
    * standard parallel variant that anchors on the neighboring
    * buckets' average points instead, so every bucket selects
    * independently — one join against the per-bucket aggregates, a
    * mergeable max_by per bucket, no cross-bucket dependency. The
    * triangle-area argmax is kept EXACT by multiplying through the
    * average denominators: comparing
    * |(Sxl−nl·x)(Syr−nr·y) − (Sxr−nr·x)(Syl−nl·y)| ranks candidates
    * identically to the rational areas, in pure integer math (ties to
    * the smallest x). First/last series points are kept as anchors;
    * interior buckets need both neighbors (edge buckets drop out of
    * the inner joins by construction, mirrored in the oracle).
    */
  def tsLttbDownsample(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val nBuckets = 16
    val daily = events(spark, sfDir)
      .groupBy($"event_type",
        datediff(to_date($"ts"), to_date(lit("1995-01-01"))).as("x"))
      .agg(count(lit(1)).as("y"))
    val rng = daily.groupBy($"event_type")
      .agg(min($"x").as("xmin"), max($"x").as("xmax"))
    val b = daily.join(broadcast(rng), Seq("event_type"))
      .withColumn("bkt",
        expr(s"((x - xmin) * $nBuckets) div (xmax - xmin + 1)"))
      .select($"event_type", $"bkt", $"x", $"y")
    val agg = b.groupBy($"event_type", $"bkt")
      .agg(sum($"x").as("sx"), sum($"y").as("sy"), count(lit(1)).as("n"))
    val lefts = agg.select($"event_type", ($"bkt" + 1).as("bkt"),
      $"sx".as("sxl"), $"sy".as("syl"), $"n".as("nl"))
    val rights = agg.select($"event_type", ($"bkt" - 1).as("bkt"),
      $"sx".as("sxr"), $"sy".as("syr"), $"n".as("nr"))
    val mid = b
      .join(lefts, Seq("event_type", "bkt"))
      .join(rights, Seq("event_type", "bkt"))
      .withColumn("a2", abs(
        ($"sxl" - $"nl" * $"x") * ($"syr" - $"nr" * $"y") -
        ($"sxr" - $"nr" * $"x") * ($"syl" - $"nl" * $"y")))
      .groupBy($"event_type", $"bkt")
      .agg(max_by(struct($"x", $"y"), struct($"a2", (-$"x").as("nx"))).as("pt"))
      .select($"event_type", $"bkt", $"pt.x".as("x"), $"pt.y".as("y"))
    val first = b.groupBy($"event_type")
      .agg(min_by(struct($"bkt", $"x", $"y"), $"x").as("pt"))
      .select($"event_type", $"pt.bkt".as("bkt"), $"pt.x".as("x"), $"pt.y".as("y"))
    val last = b.groupBy($"event_type")
      .agg(max_by(struct($"bkt", $"x", $"y"), $"x").as("pt"))
      .select($"event_type", $"pt.bkt".as("bkt"), $"pt.x".as("x"), $"pt.y".as("y"))
    first.unionAll(mid).unionAll(last)
      .select($"event_type", $"bkt", $"x", $"y")
      .orderBy($"event_type", $"x")
  }

  /** Batch ANN serving through the persisted IVF index — the
    * realistic retrieval shape (sim_ann_ivf probes ONE query; real
    * serving joins a whole query batch against the artifact). A
    * COUNT-CAPPED ~256-probe batch plays the query load (round-16
    * full-board probe: the original 1-in-16 vec_id slice made the
    * batch grow with the corpus, so batch × nProbe/16-of-corpus
    * candidate work was n²/64 — the same trap the round-14 probe
    * caught in sim_ivf_nprobe_sweep; a serving batch is a constant
    * set by the client, not a corpus fraction, and the candidate leg
    * becomes 256·n/4, linear). Same md5 coin as the nprobe sweep,
    * deterministic at every scale. Each probe ranks the ceil(√n)
    * broadcast centroids (qid-partitioned window), keeps its
    * nProbe = max(4, ceil(√nCent)) cells (scanned fraction shrinks
    * as n^(-1/4) with the v4 √n-cell index),
    * and the candidate join is a plain shuffle equi-join on cell id —
    * batch-wide work is one join, no per-query loop. Top-3 neighbors
    * per probe via a qid-partitioned WindowGroupLimit. No oracle
    * (centroid rule is engine-specific, same as sim_ann_ivf);
    * Round13Spec4 pins recall vs an exact driver-side batch kNN (same
    * coin) and the artifact-scanning plan.
    */
  def simAnnIndexBatchProbe(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    graft.expressions.GraftFunctions.ensureRegistered(spark)
    val path = Round12Ops.ivfIndexPath(spark, sfDir)
    val cents = spark.read.parquet(s"$path/centroids")
    val assigned = spark.read.parquet(s"$path/assign")
      .filter($"rn" === 1).drop("rn")
    val cap = assigned.agg(
      ceil(count(lit(1)) / 256.0).cast(LongType).as("p"))
    val probes = assigned.crossJoin(broadcast(cap))
      .filter(pmod(expr(
        "CAST(conv(substring(md5(CAST(vec_id AS STRING)), 1, 6), 16, 10) AS BIGINT)"),
        $"p") === 0)
      .select($"vec_id".as("qid"), $"embedding".as("pe"), $"nrm".as("pn"))
    val nProbe = Round12Ops.nProbeFor(cents)
    val probeCells = probes.crossJoin(broadcast(cents))
      .withColumn("cos_c", LlmOps.dot($"pe", $"ce") / ($"pn" * $"cn"))
      .withColumn("cr", row_number().over(
        Window.partitionBy($"qid").orderBy($"cos_c".desc, $"cid")))
      .filter($"cr" <= nProbe)
      .select($"qid", $"cid", $"pe", $"pn")
    probeCells.join(assigned, Seq("cid"))
      .filter($"vec_id" =!= $"qid")
      .withColumn("cos", LlmOps.dot($"embedding", $"pe") / ($"nrm" * $"pn"))
      .withColumn("rk", row_number().over(
        Window.partitionBy($"qid").orderBy($"cos".desc, $"vec_id")))
      .filter($"rk" <= 3)
      .select($"qid", $"rk".as("rank"), $"vec_id".as("neighbor_id"),
        round($"cos", 6).as("cosine"))
      .orderBy($"qid", $"rank")
  }

  /** Parquet schema evolution: batch 1 lands without the `channel`
    * column, batch 2 adds it; `mergeSchema` reads both generations as
    * one table with nulls backfilled — the append-only schema-change
    * story every long-lived 100 TB dataset needs. The audit aggregate
    * reconciles per-generation counts and totals against the source,
    * which is exactly what the oracle recomputes relationally.
    */
  def sourceSchemaEvolution(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val dir = runDir("r13_schevo", sfDir)
    val base = orders(spark, sfDir)
      .select($"o_orderkey",
        (money($"o_totalprice") * 100).cast(LongType).as("cents"),
        $"o_orderpriority")
    base.filter(pmod($"o_orderkey", lit(2)) === 0)
      .select($"o_orderkey", $"cents")
      .write.mode("overwrite").parquet(s"$dir/gen=1")
    base.filter(pmod($"o_orderkey", lit(2)) === 1)
      .select($"o_orderkey", $"cents", $"o_orderpriority".as("channel"))
      .write.mode("overwrite").parquet(s"$dir/gen=2")
    spark.read.option("mergeSchema", "true").parquet(dir)
      .groupBy($"gen".cast(IntegerType).as("gen"))
      .agg(count(lit(1)).as("n"),
        sum($"cents").as("sum_cents"),
        count($"channel").as("n_with_channel"))
      .orderBy($"gen")
  }
}
