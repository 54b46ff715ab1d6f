package graft.ops

import graft.Tables._
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Round-13 widening, part 44: double-sweep pseudo-diameter and
  * exact rolling percentile bands.
  */
object Round13Ops44 {

  /** Pseudo-diameter by the classic double BFS sweep: BFS from the
    * minimum node, restart from the farthest node found, report the
    * second sweep's eccentricity — the standard 2-pass lower bound
    * that large-graph systems use instead of all-pairs distances.
    * Both sweeps are [[GraphRounds.sweep]]'s 4 hops of co-partitioned
    * RDD message rounds ([[GraphRounds]], which says why not
    * DataFrames): a narrow join and one shuffle per hop, with lineage
    * held by shuffle reuse instead of a local checkpoint per hop. All ties
    * break on node id so the restart vertex is deterministic.
    */
  def graphPseudoDiameter(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val und = Round10Ops4.thinnedGraph(spark, sfDir)
    val adj = GraphRounds.adjacency(
      und.select($"u", $"v").union(und.select($"v", $"u")))
    def farthest(dist: RDD[(Long, Int)]): (Long, Int) =
      dist.takeOrdered(1)(Ordering.by { case (node, d) => (-d, node) }).head
    val row = adj.keys.takeOrdered(1).headOption match {
      // an empty graph has no minimum node: the null start is carried
      // through both sweeps as the lone (null, 0) row it reaches
      case None => (None, None, 0L, None, 0L, 1L)
      case Some(start) =>
        val (far, ecc1) = farthest(GraphRounds.sweep(adj, start, 4))
        val d2 = GraphRounds.sweep(adj, far, 4)
        val (end, pd) = farthest(d2)
        (Some(start), Some(far), ecc1.toLong, Some(end), pd.toLong, d2.count())
    }
    Seq(row).toDF("start_node", "far_node", "sweep1_ecc", "end_node",
      "pseudo_diameter", "n_reached")
  }

  /** Rolling 7-day P10/P50/P90 bands over daily revenue: the window's
    * values are collected, sorted, and indexed — discrete (type-1)
    * percentiles on exact cent sums, so the bands are integers and
    * engine-exact, unlike interpolating percentile_approx. The
    * anomaly-band primitive for ops dashboards; the window is
    * calendar-bounded so the collected lists stay 7 elements at any
    * corpus size.
    */
  def tsRollingPercentileBands(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    // trailing 7-day windows as array slices over the collected
    // calendar series — no unpartitioned rolling Window (plan pin)
    val arr = orders(spark, sfDir)
      .groupBy($"o_orderdate".cast(DateType).as("d"))
      .agg(sum((money($"o_totalprice") * 100).cast(LongType)).as("c"))
      .agg(array_sort(collect_list(struct($"d", $"c"))).as("s"))
      .select($"s", expr("transform(s, x -> x.c)").as("cs"))
    arr.select(posexplode($"s").as(Seq("p", "x")), $"cs")
      .filter($"p" >= 6)
      .select($"x.d".as("d"), $"x.c".as("c"),
        sort_array(expr("slice(cs, p - 5, 7)")).as("win"))
      .select($"d", $"c".as("day_cents"),
        // type-1 discrete percentiles of a 7-element window:
        // ceil(0.1*7)=1st, ceil(0.5*7)=4th, ceil(0.9*7)=7th
        element_at($"win", 1).as("p10_cents"),
        element_at($"win", 4).as("p50_cents"),
        element_at($"win", 7).as("p90_cents"),
        ($"c" === element_at($"win", 7) || $"c" === element_at($"win", 1))
          .cast(LongType).as("at_band_edge"))
      .orderBy($"d")
  }
}
