package graft.ops

import graft.Tables._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Round-13 widening, part 19: rolling-origin forecast backtesting,
  * a fixed-round k-truss peel, and partition-column type inference.
  */
object Round13Ops19 {

  /** Rolling-origin backtest of the weekly seasonal-naive forecaster:
    * at each of three origins (28/21/14 days before the series end),
    * forecast the next 7 days as "same day last week" and score MAE —
    * the honest forecast evaluation (one split overfits the split).
    * Actual-vs-forecast pairs come from a date-shift self-join; the
    * MAE numerator is an exact integer sum of |errors| per origin.
    */
  def tsRollingOriginBacktest(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val daily = events(spark, sfDir)
      .groupBy($"event_type", to_date($"ts").as("d"))
      .agg(count(lit(1)).as("c"))
    val ends = daily.groupBy($"event_type".as("et"))
      .agg(max($"d").as("dmax"))
    val fc = daily.select($"event_type".as("e2"), $"d".as("d2"), $"c".as("f"))
    daily.join(ends, $"event_type" === $"et")
      .withColumn("origin", explode(array(lit(28), lit(21), lit(14))))
      .filter($"d" > date_sub($"dmax", col("origin").cast(IntegerType)) &&
        $"d" <= date_sub($"dmax", col("origin").cast(IntegerType) - 7))
      .join(fc, $"event_type" === $"e2" && $"d2" === date_sub($"d", 7))
      .groupBy($"event_type", $"origin")
      .agg(count(lit(1)).as("n_days"),
        sum(abs($"c" - $"f")).as("abs_err"))
      .select($"event_type", $"origin".cast(LongType).as("origin_days_back"),
        $"n_days",
        round($"abs_err".cast(DoubleType) / $"n_days", 6).as("mae"))
      .orderBy($"event_type", $"origin_days_back")
  }

  /** Two peel rounds toward the 3-truss of the co-supply graph: an
    * edge survives a round iff at least one triangle still closes
    * over it. Each round is ONE wedge join (edge × shared-neighbor)
    * over the current edge set — the standard distributed truss
    * iteration, fixed at two rounds so the oracle can unroll it.
    * Output: the edge-count ladder and the node count of the final
    * truss.
    */
  def graphKtruss2Round(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val und0 = Round10Ops4.thinnedGraph(spark, sfDir)
    def peel(und: DataFrame): DataFrame = {
      val adj = und.select($"u".as("a"), $"v".as("b"))
        .unionAll(und.select($"v".as("a"), $"u".as("b")))
      und.as("e")
        .join(adj.as("x"), col("x.a") === col("e.u"))
        .join(adj.as("y"), col("y.a") === col("e.v") &&
          col("y.b") === col("x.b"))
        .groupBy(col("e.u").as("u"), col("e.v").as("v"))
        .agg(count(lit(1)).as("support"))
        .select($"u", $"v")
    }
    val r1 = peel(und0).localCheckpoint()
    val r2 = peel(r1).localCheckpoint()
    und0.agg(count(lit(1)).as("n_edges_initial"))
      .crossJoin(r1.agg(count(lit(1)).as("n_edges_round1")))
      .crossJoin(r2.agg(count(lit(1)).as("n_edges_round2")))
      .crossJoin(r2.select($"u".as("n")).unionAll(r2.select($"v".as("n")))
        .agg(countDistinct($"n").as("n_truss_nodes")))
  }

  /** Partition-column TYPE inference: a dataset written with
    * `partitionBy` over string-formatted dates and integer buckets
    * reads back with the partition columns INFERRED as date/int (not
    * string) — the contract that keeps partition pruning comparisons
    * typed. The aggregate groups on the inferred columns; the spec
    * pins the inferred schema itself.
    */
  def sourcePartitionTypeInference(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val dir = runDir("r13_ptypes", sfDir)
    orders(spark, sfDir)
      .select($"o_orderkey",
        (money($"o_totalprice") * 100).cast(LongType).as("cents"),
        date_format($"o_orderdate", "yyyy-MM-dd").as("d"),
        pmod($"o_orderkey", lit(4)).cast(IntegerType).as("bucket"))
      .filter($"o_orderdate" < lit("1995-01-10"))
      .write.mode("overwrite").partitionBy("d", "bucket").parquet(dir)
    spark.read.parquet(dir)
      .groupBy($"d".cast(DateType).as("d"), $"bucket")
      .agg(count(lit(1)).as("n"), sum($"cents").as("sum_cents"))
      .orderBy($"d", $"bucket")
  }
}
