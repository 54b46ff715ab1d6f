package graft.ops

import graft.Tables._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Round-13 widening, part 23: weighted PageRank with frozen-decimal
  * message sums, a generated-range source, and day-of-week median
  * profiles.
  */
object Round13Ops23 {

  /** PageRank over the co-supply graph with EDGE WEIGHTS (lineitem
    * multiplicity), three synchronous rounds in FIXED-POINT INTEGER
    * arithmetic: ranks carry 12 implied decimal digits as BIGINT, a
    * message is (rank·w) div wsum, the damping update is
    * (85·Σm) div 100 — every operation is exact integer math, so the
    * two engines agree bit-for-bit with NO rounding discipline needed
    * at all (chained 12-dp double rounding drifted by 1 ulp on 7 of
    * 21k nodes before this formulation). Each round is one keyed
    * join + one hash aggregate; lineage cut per round.
    */
  def graphWeightedPagerank(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val pairs = lineitem(spark, sfDir)
      .groupBy($"l_partkey".as("p"), ($"l_suppkey" + 10000000L).as("s"))
      .agg(count(lit(1)).as("w"))
    // Round 20: repartition(src) dropped — dead weight pre-checkpoint
    // (a localCheckpoint's output reports UnknownPartitioning, so no
    // later join could reuse it): one full weighted-edge exchange gone
    // and the checkpoint's partition count now follows the data,
    // shrinking each round's partial-agg fan-out. Integer-exact
    // protocol: output unchanged by construction.
    val edges = pairs.select($"p".as("src"), $"s".as("dst"), $"w")
      .unionAll(pairs.select($"s".as("src"), $"p".as("dst"), $"w"))
      .localCheckpoint(true)
    val ws = edges.groupBy($"src").agg(sum($"w").as("wsum"))
      .localCheckpoint(true)
    // Round 19: attach wsum to the edge list ONCE, before the loop
    // — the loop re-ran edges⨝ws every round, shuffling the
    // full weighted edge list 3× (47 MB/4.7M records). ws is a node-
    // sized checkpoint with carried stats, so this build join
    // broadcasts it — no edge exchange.
    val edgesW = edges.join(ws, "src")
      .select($"src", $"dst", $"w", $"wsum")
      .localCheckpoint(true)
    val sc = spark.sparkContext
    ScaleTechniques.checkpointRddId(edges).foreach(id =>
      sc.getPersistentRDDs.get(id).foreach(_.unpersist(blocking = false)))
    val n = ws.count()
    var prevCkpt: Option[Int] = None
    var ranks = ws.select($"src".as("node"),
      lit(1000000000000L / n).as("rr"))
    for (_ <- 1 to 3) {
      val contrib = edgesW
        .join(ranks.withColumnRenamed("node", "src"), "src")
        .select($"dst", expr("(rr * w) div wsum").as("m"))
        .groupBy($"dst").agg(sum($"m").as("sm"))
      ranks = contrib.select($"dst".as("node"),
          (lit(150000000000L / n) + expr("(85 * sm) div 100")).as("rr"))
        .localCheckpoint(true)
      val newCkpt = ScaleTechniques.checkpointRddId(ranks)
      prevCkpt.foreach(id =>
        sc.getPersistentRDDs.get(id).foreach(_.unpersist(blocking = false)))
      prevCkpt = newCkpt
    }
    // scale entirely in integers (floor to micros) — a final
    // round(double, 6) sat exactly on a .5 boundary for 1 of 21k
    // nodes and the engines' double-rounding algorithms split
    ranks.select($"node",
        (expr(s"(rr * $n) div 1000000").cast(DoubleType) /
          lit(1000000.0)).as("rank_scaled"))
      .orderBy($"node")
  }

  /** Generated-range source: spark.range as the zero-input table
    * generator (sequence backfills, dimension seeding, load tests) —
    * derived columns are pure integer hashes so the oracle's
    * range() table function reproduces them bit-for-bit.
    */
  def sourceGenerateRange(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    spark.range(0, 100000).toDF("id")
      .select($"id", pmod($"id", lit(7)).as("bucket"),
        pmod($"id" * 2654435761L, lit(1000L)).as("v"))
      .groupBy($"bucket")
      .agg(count(lit(1)).as("n"), sum($"v").as("sum_v"),
        min($"v").as("min_v"), max($"v").as("max_v"))
      .orderBy($"bucket")
  }

  /** Median daily volume per (event type, ISO weekday) — the robust
    * companion to the mean-based dow profile (one outlier day skews a
    * mean, not a median). percentile_cont WITHIN GROUP on the daily
    * count table; weekday numbering written as weekday()+1 because
    * the engines' native dayofweek conventions disagree while ISO is
    * shared.
    */
  def tsDowMedianProfile(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    events(spark, sfDir)
      .groupBy($"event_type", to_date($"ts").as("d"))
      .agg(count(lit(1)).as("c"))
      .select($"event_type", (weekday($"d") + 1).cast(IntegerType).as("isodow"),
        $"c")
      .createOrReplaceTempView("g13_dow_daily")
    spark.sql("""
      SELECT event_type, isodow,
        count(*) AS n_days,
        CAST(percentile_cont(0.5) WITHIN GROUP (ORDER BY c) AS DOUBLE)
          AS median_daily,
        CAST(min(c) AS BIGINT) AS min_daily,
        CAST(max(c) AS BIGINT) AS max_daily
      FROM g13_dow_daily
      GROUP BY event_type, isodow
      ORDER BY event_type, isodow
    """)
  }
}
