package graft.ops

import graft.Tables._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Round-11 widening, part 14: k-NN classification, mergeable
  * variance, polynomial trend fit, multi-aggregate pivot, compaction
  * planning, partitioned-write roundtrip.
  */
object Round11Ops14 {

  private def u24(key: Column): Column =
    expr(s"CAST(conv(substring(md5(CAST(${key.toString} AS STRING)), 1, 6), 16, 10) AS BIGINT)")

  /** 5-NN language classification with exact cosine over a
    * COUNT-CAPPED holdout: P = ceil(n/256), query set = ids whose
    * md5-coin ≡ 0 (mod P) (~256 probes at any corpus size, the whole
    * corpus at small SFs where P=1), candidates = the full corpus
    * minus self. The 10× scale probe measured the previous
    * leave-one-out-over-everything form at 20× for 10× data (n_query
    * × n_train both grew); capping the query set makes the work
    * n_train × 256 — linear — which is also how a real holdout
    * evaluation is run. The bounded probe set rides a broadcast
    * (≤ ~256 rows by construction); per-query top-5 under a
    * qid-PARTITIONED window (compiles to WindowGroupLimit), majority
    * vote ties broken by (count desc, lang). Ranking uses the
    * 9-dp-rounded cosine with the neighbor id as total tie-break, so
    * the neighbor sets are engine-identical; the md5 coin is
    * engine-portable, so the oracle draws the identical holdout.
    */
  def mlKnnClassify(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    // Round 20: the single-split embeddings scan serialized the
    // probe-dot stage (n·256 64-dim dot products on ONE task, 2.2 s
    // warm, 0.03 MB shuffle) — guard its parallelism
    // (ScaleTechniques.ensureParallelism; no-op when the scan splits)
    val lab = ScaleTechniques.ensureParallelism(
      LlmOps.embeddingsWithNorm(spark, sfDir)
        .join(documents(spark, sfDir).select($"doc_id", $"lang"),
          $"vec_id" === $"doc_id")
        .select($"vec_id", $"lang", $"embedding", $"nrm"))
    val cap = lab.agg(ceil(count(lit(1)) / 256.0).cast(LongType).as("p"))
    val probes = lab.crossJoin(broadcast(cap))
      .filter(pmod(u24($"vec_id"), $"p") === 0)
      .select($"vec_id".as("qid"), $"lang".as("qlang"),
        $"embedding".as("qe"), $"nrm".as("qn"))
    val dirs = lab.join(broadcast(probes), $"vec_id" =!= $"qid")
      .withColumn("c9", round(
        LlmOps.dot($"embedding", $"qe") / ($"nrm" * $"qn"), 9))
      .select($"qid", $"qlang", $"vec_id".as("nid"), $"lang".as("nlang"), $"c9")
    val top5 = dirs
      .withColumn("rn", row_number().over(
        Window.partitionBy($"qid").orderBy($"c9".desc, $"nid")))
      .filter($"rn" <= 5)
    val vote = top5.groupBy($"qid", $"qlang", $"nlang").agg(count(lit(1)).as("cnt"))
      .withColumn("vr", row_number().over(
        Window.partitionBy($"qid").orderBy($"cnt".desc, $"nlang")))
      .filter($"vr" === 1)
      .select($"qid", $"qlang".as("lang"), $"nlang".as("pred"))
    vote
      .groupBy($"lang")
      .agg(count(lit(1)).as("n"),
        sum(when($"pred" === $"lang", 1L).otherwise(0L)).as("n_correct"))
      .withColumn("accuracy",
        round($"n_correct".cast(DoubleType) / $"n".cast(DoubleType), 6))
      .orderBy($"lang")
  }

  /** Mergeable-moments variance: the corpus splits into two md5
    * halves, each half reduces to (n, Σc, Σc²), and the halves merge
    * by plain addition — the algebra that makes distributed partial
    * aggregation exact. The oracle computes the same statistics in
    * one direct pass, so a hash match PROVES merge ≡ direct. Mean
    * and population variance are the only double ops, one scalar
    * division each per group.
    */
  def aggVarianceMerge(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val halves = events(spark, sfDir)
      .select($"event_type", (money($"value") * 100).cast(DecimalType(38, 0)).as("c"),
        pmod(u24($"event_id"), lit(2)).as("half"))
      .groupBy($"event_type", $"half")
      .agg(count(lit(1)).as("n"), sum($"c").as("s"),
        sum(($"c" * $"c").cast(DecimalType(38, 0))).as("ss"))
    halves.groupBy($"event_type")
      .agg(sum($"n").as("n"), sum($"s").cast(DecimalType(38, 0)).as("s"),
        sum($"ss").cast(DecimalType(38, 0)).as("ss"))
      .select($"event_type", $"n".cast(LongType).as("n"),
        round($"s".cast(DoubleType) / $"n".cast(DoubleType) / 100.0, 6)
          .as("mean"),
        round(($"n".cast(DoubleType) * $"ss".cast(DoubleType) -
            $"s".cast(DoubleType) * $"s".cast(DoubleType)) /
          ($"n".cast(DoubleType) * $"n".cast(DoubleType)) / 10000.0, 6)
          .as("var_pop"))
      .orderBy($"event_type")
  }

  /** Quadratic trend fit of daily revenue (y = a0 + a1·x + a2·x²,
    * x = days since the first day) via the closed-form normal
    * equations. All eight moment sums accumulate in exact
    * DECIMAL(38,0) — x ≤ span-days and y in cents keep x⁴·y inside
    * 38 digits at any corpus scale — and Cramer's rule runs as
    * scalar double math on the single global row. The first day
    * rides a 1-row broadcast, never a driver-side collect.
    */
  def mlPolyFit(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val daily = events(spark, sfDir)
      .groupBy(to_date($"ts").as("d"))
      .agg((sum(money($"value")) * 100).cast(DecimalType(38, 0)).as("y"))
    val d0 = daily.agg(min($"d").as("d0"))
    val dec = DecimalType(38, 0)
    val xy = daily.join(broadcast(d0))
      .select(datediff($"d", $"d0").cast(LongType).as("x"), $"y")
      .select($"x", $"y", ($"x" * $"x").as("x2"))
    val m = xy.agg(count(lit(1)).as("n"),
      sum($"x").as("sx"), sum($"x2").as("sx2"),
      sum(($"x" * $"x2").cast(dec)).as("sx3"),
      sum(($"x2" * $"x2").cast(dec)).as("sx4"),
      sum($"y").as("sy"),
      sum(($"x" * $"y").cast(dec)).as("sxy"),
      sum(($"x2" * $"y").cast(dec)).as("sx2y"))
    def D(c: Column) = c.cast(DoubleType)
    val det3: (Column, Column, Column, Column, Column, Column,
        Column, Column, Column) => Column =
      (a, b, c, d, e, f, g, h, i) =>
        a * (e * i - f * h) - b * (d * i - f * g) + c * (d * h - e * g)
    m.select($"n", $"sx", $"sx2", $"sx3", $"sx4", $"sy", $"sxy", $"sx2y")
      .withColumn("det", det3(D($"n"), D($"sx"), D($"sx2"),
        D($"sx"), D($"sx2"), D($"sx3"),
        D($"sx2"), D($"sx3"), D($"sx4")))
      .withColumn("d0", det3(D($"sy"), D($"sx"), D($"sx2"),
        D($"sxy"), D($"sx2"), D($"sx3"),
        D($"sx2y"), D($"sx3"), D($"sx4")))
      .withColumn("d1", det3(D($"n"), D($"sy"), D($"sx2"),
        D($"sx"), D($"sxy"), D($"sx3"),
        D($"sx2"), D($"sx2y"), D($"sx4")))
      .withColumn("d2", det3(D($"n"), D($"sx"), D($"sy"),
        D($"sx"), D($"sx2"), D($"sxy"),
        D($"sx2"), D($"sx3"), D($"sx2y")))
      .select($"n".as("n_days"),
        round($"d0" / $"det" / 100.0, 6).as("a0"),
        round($"d1" / $"det" / 100.0, 6).as("a1"),
        round($"d2" / $"det" / 100.0, 6).as("a2"))
  }

  /** PIVOT with MULTIPLE aggregates per pivot value (sum of cents AND
    * row count per line status) — the wide-report shape. Spark's
    * PIVOT clause names columns {value}_{aggAlias}; the oracle
    * expands to the equivalent conditional aggregation. Plans as one
    * hash aggregate, no per-value scans.
    */
  def sqlPivotMulti(spark: SparkSession, sfDir: String): DataFrame = {
    lineitem(spark, sfDir)
      .selectExpr("l_returnflag", "l_linestatus",
        "CAST(CAST(l_quantity AS DECIMAL(12,2)) * 100 AS BIGINT) AS c")
      .createOrReplaceTempView("g11_pvm")
    spark.sql("""
      SELECT * FROM g11_pvm
      PIVOT (sum(c) AS sq, count(c) AS nq
             FOR l_linestatus IN ('O' AS o, 'F' AS f))
      ORDER BY l_returnflag
    """)
  }

  /** Compaction planning: first-fit bin packing of per-day partition
    * byte estimates into ~256 KiB compaction groups, per event type.
    * Group assignment is pure integer math over a cumulative sum on
    * a type-PARTITIONED window (the day list is bounded; the corpus
    * only feeds the one hash aggregate that estimates bytes). The
    * output is the work-list a lakehouse OPTIMIZE job executes.
    */
  def pipelineCompactionPlan(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val parts = events(spark, sfDir)
      .groupBy($"event_type", to_date($"ts").as("d"))
      .agg(sum(length($"props") + 64).cast(LongType).as("est_bytes"))
    val w = Window.partitionBy($"event_type").orderBy($"d")
    parts
      .withColumn("cum", sum($"est_bytes").over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("grp", expr("CAST((cum - est_bytes) DIV 262144 AS BIGINT)"))
      .groupBy($"event_type", $"grp")
      .agg(count(lit(1)).as("n_partitions"),
        sum($"est_bytes").as("group_bytes"),
        min($"d").as("first_day"), max($"d").as("last_day"))
      .orderBy($"event_type", $"grp")
  }

  /** Hive-style partitioned-write roundtrip: events written
    * partitionBy(event_type) to parquet, read back through directory
    * discovery, and re-aggregated — proving the partition column
    * encodes/decodes losslessly and per-partition content survives.
    * At scale this is the layout that makes event_type predicates
    * prune entire directories.
    */
  def sourcePartitionedRoundtrip(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val out = runDir("r11_partrt", sfDir)
    events(spark, sfDir)
      .select($"event_id", $"event_type", (money($"value") * 100)
        .cast(LongType).as("cents"))
      .write.mode("overwrite").partitionBy("event_type").parquet(out)
    spark.read.parquet(out)
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n"), sum($"cents").as("sum_cents"),
        min($"event_id").as("min_id"), max($"event_id").as("max_id"))
      .orderBy($"event_type")
  }
}
