package graft.ops

import graft.Tables._
import org.apache.spark.HashPartitioner
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import scala.collection.mutable.ArrayBuilder

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
    * 21k nodes before this formulation). The rounds are co-partitioned
    * RDD message rounds ([[GraphRounds]], which says why not
    * DataFrames) over each node's neighbour and weight lists, so wsum
    * is a sum over the node's own list, not a join.
    */
  def graphWeightedPagerank(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val pairs = lineitem(spark, sfDir)
      .groupBy($"l_partkey".as("p"), ($"l_suppkey" + 10000000L).as("s"))
      .agg(count(lit(1)).as("w"))
    // (neighbours, weights) lists built map-side, as in
    // GraphRounds.adjacency: every round re-reads this shuffle, and
    // primitive arrays read back far faster than a tuple per edge
    val adj = pairs.select($"p", $"s", $"w")
      .unionAll(pairs.select($"s", $"p", $"w"))
      .rdd.map(r => (r.getLong(0), (r.getLong(1), r.getLong(2))))
      .combineByKey[(ArrayBuilder.ofLong, ArrayBuilder.ofLong)](
        { case (d, w) => (new ArrayBuilder.ofLong += d, new ArrayBuilder.ofLong += w) },
        { case ((ds, ws), (d, w)) => (ds += d, ws += w) },
        { case ((ds, ws), (ds2, ws2)) => (ds ++= ds2.result(), ws ++= ws2.result()) },
        new HashPartitioner(spark.sparkContext.defaultParallelism))
      .mapValues { case (ds, ws) => (ds.result(), ws.result()) }
    val n = adj.count()
    // scale entirely in integers (floor to micros) — a final
    // round(double, 6) sat exactly on a .5 boundary for 1 of 21k
    // nodes and the engines' double-rounding algorithms split
    weightedRanks(adj, n).toDF("node", "rr")
      .select($"node",
        (expr(s"(rr * $n) div 1000000").cast(DoubleType) /
          lit(1000000.0)).as("rank_scaled"))
      .orderBy($"node")
  }

  /** The three fixed-point rounds over each node's neighbours and
    * edge weights, on a graph of `n` nodes: ranks ×10¹² as Longs.
    */
  private[graft] def weightedRanks(adj: RDD[(Long, (Array[Long], Array[Long]))],
      n: Long): RDD[(Long, Long)] = {
    var ranks = adj.mapValues(_ => 1000000000000L / n)
    for (_ <- 1 to 3) {
      ranks = GraphRounds.round(adj, ranks) { case (_, (nbrs, ws), rr) =>
        val wsum = ws.sum
        nbrs.indices.iterator.map(i => (nbrs(i), rr * ws(i) / wsum))
      }(_ + _).mapValues(sm => 150000000000L / n + 85 * sm / 100)
    }
    ranks
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
