package graft.ops

import graft.Tables._
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Round-13 widening, part 3: synchronous label propagation
  * (community detection — the graph-family gap next to pagerank /
  * HITS / k-core), and Hilbert-curve clustering (the
  * better-locality sibling of scale_zorder_cluster).
  */
object Round13Ops3 {

  /** Synchronous label propagation, 3 fixed rounds, over the
    * undirected part–supplier bipartite graph (same derivation as
    * [[Graph.graphPagerank]]). Every node starts labeled with its own
    * id; each round it adopts the most frequent label among its
    * neighbors, ties to the SMALLEST label — integer-exact and
    * deterministic, so the op oracles against 3 unrolled DuckDB
    * rounds. The label vector is a build-once artifact
    * ([[lpaLabelsPath]]) shared with graph_conductance — the query
    * itself is a read.
    */
  def graphLabelPropagation(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    spark.read.parquet(lpaLabelsPath(spark, sfDir))
      .select($"node", $"lbl".as("community")).orderBy($"node")
  }

  /** The 3-round LPA label vector as a build-once artifact (the
    * nearDupClusters / ivfIndexPath lifecycle): graph_label_propagation
    * AND graph_conductance both consume it, so the iterative build
    * runs once per dataset and context instead of once per query — at
    * 100 TB, community detection is a batch job and its consumers are
    * reads.
    */
  private[ops] def lpaLabelsPath(spark: SparkSession, sfDir: String): String =
    ScaleTechniques.materializeOnce(
      s"lpa_labels_${ScaleTechniques.datasetKey(sfDir)}") { tmp =>
      lpaLabels(spark, sfDir).write.parquet(tmp)
    }

  /** The (node, lbl) vector after 3 rounds of [[propagateLabels]]. */
  private[graft] def lpaLabels(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val pairs = lineitem(spark, sfDir)
      .select($"l_partkey".as("p"), ($"l_suppkey" + 10000000L).as("s"))
      .distinct()
    propagateLabels(GraphRounds.adjacency(pairs.select($"p", $"s")
      .unionAll(pairs.select($"s", $"p")))).toDF("node", "lbl")
  }

  /** Three label propagation rounds, each one co-partitioned message
    * round ([[GraphRounds]], which says why not DataFrames): every node
    * sends its label to its neighbours, the messages to a node fold
    * into its label counts, and the node takes the most frequent
    * label, ties to the smallest.
    */
  private[graft] def propagateLabels(adj: GraphRounds.Adjacency): RDD[(Long, Long)] = {
    var labels = adj.mapPartitions(_.map { case (node, _) => (node, node) },
      preservesPartitioning = true)
    for (_ <- 1 to 3) {
      labels = GraphRounds.round(adj, labels) { (_, nbrs, lbl) =>
        nbrs.iterator.map((_, Map(lbl -> 1L)))
      } { (a, b) =>
        b.foldLeft(a) { case (m, (l, c)) => m.updated(l, m.getOrElse(l, 0L) + c) }
      }.mapValues(_.minBy { case (lbl, c) => (-c, lbl) }._1)
    }
    labels
  }

  /** Full xy→d Hilbert index for a 2^order × 2^order grid: the
    * standard iterative conversion as a RUNTIME `aggregate` fold over
    * the descending scale array, carrying (x, y, d) in a struct
    * accumulator. Each step folds in the (rx, ry) quadrant bits and
    * applies the curve's rotation (flip then swap when ry = 0) —
    * pure integer arithmetic mirrored stage-for-stage in the oracle.
    *
    * Why a fold and not `order` chained withColumns: each unrolled
    * stage references its predecessor's x and y several times, and
    * CollapseProject re-inlines the chain, so the expression tree
    * grows EXPONENTIALLY with the order — the first cut of this op
    * planned 8 unrolled stages and spent 47 s (vs 0.3 s) almost
    * entirely in analysis/codegen of the blown-up tree. The fold
    * keeps ONE stage in the plan and iterates at runtime.
    */
  private[graft] def hilbertIndex(order: Int, x0: Column, y0: Column): Column = {
    val scales = array((0 until order).map(i => lit(1 << (order - 1 - i))): _*)
    aggregate(
      scales,
      struct(x0.as("x"), y0.as("y"), lit(0L).as("d")),
      (a, s) => {
        val x = a.getField("x"); val y = a.getField("y")
        val rx = when(x.bitwiseAND(s) > 0, 1).otherwise(0)
        val ry = when(y.bitwiseAND(s) > 0, 1).otherwise(0)
        struct(
          when(ry === 1, x).otherwise(
            when(rx === 1, s - 1 - y).otherwise(y)).as("x"),
          when(ry === 1, y).otherwise(
            when(rx === 1, s - 1 - x).otherwise(x)).as("y"),
          (a.getField("d") + (s.cast(LongType) * s.cast(LongType)) *
            (lit(3) * rx).bitwiseXOR(ry).cast(LongType)).as("d"))
      },
      a => a.getField("d"))
  }

  /** Hilbert-curve clustering key over the same (customer bucket,
    * day bucket) plane as [[Round7Ops2.scaleZorderCluster]]: the
    * Hilbert index preserves locality strictly better than Morton
    * order (every consecutive pair of curve positions is Manhattan-
    * adjacent — no Z-shape jumps across the plane), which tightens
    * per-file min/max stats under range partitioning and therefore
    * data skipping on BOTH predicate columns. The 8 unrolled stages
    * are plain integer arithmetic, mirrored stage-for-stage in the
    * oracle; Round13Spec3 asserts the defining adjacency property on
    * a complete grid and bijectivity on the data.
    */
  def scaleHilbertCluster(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    orders(spark, sfDir)
      .withColumn("xb", pmod($"o_custkey", lit(256)).cast(IntegerType))
      .withColumn("yb",
        pmod(datediff($"o_orderdate".cast(DateType),
          to_date(lit("1995-01-01"))), lit(256)).cast(IntegerType))
      .withColumn("hval", hilbertIndex(8, $"xb", $"yb"))
      .select($"o_orderkey", $"xb", $"yb", $"hval")
      .orderBy($"hval", $"o_orderkey")
  }
}
