package graft.ops

import graft.Tables._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Graph analytics over relationally-derived graphs. Connected
  * components (pointer jumping) lives in Round3Ops; this hosts the
  * rank-propagation family.
  */
object Graph {

  /** PageRank, 5 fixed iterations, over the undirected part–supplier
    * bipartite graph (edge iff the supplier shipped the part; supplier
    * ids offset into their own range). Undirected edges mean every
    * node has both in- and out-degree ≥ 1 — no dangling-mass special
    * case — and the fixed iteration count makes the result a pure
    * deterministic function of the graph, so it oracles against an
    * unrolled 5-step recomputation in DuckDB (summation-order float
    * noise is ~1e-15 per round and the output is 6dp-rounded at ~1.0
    * scale).
    *
    * The rounds are co-partitioned RDD message rounds ([[GraphRounds]],
    * which says why not DataFrames): a narrow join and one shuffle per
    * round, lineage held by shuffle reuse instead of a local checkpoint
    * per round. Only the final projection, rounding and order run as a
    * DataFrame. Output is rank × |V| (average-normalized, ~1.0), which
    * keeps 6dp rounding meaningful at any graph size.
    */
  def graphPagerank(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val pairs = lineitem(spark, sfDir)
      .select($"l_partkey".as("p"), ($"l_suppkey" + 10000000L).as("s"))
      .distinct()
    val adj = GraphRounds.adjacency(pairs.select($"p", $"s")
      .unionAll(pairs.select($"s", $"p")))
    val n = adj.count()
    var ranks = adj.mapValues(_ => 1.0 / n)
    for (_ <- 1 to 5) {
      // every node has in-edges (undirected), so no rank is dropped
      ranks = GraphRounds.round(adj, ranks) { (_, nbrs, r) =>
        val c = r / nbrs.length
        nbrs.iterator.map((_, c))
      }(_ + _).mapValues(c => 0.15 / n + 0.85 * c)
    }
    ranks.toDF("node", "r")
      .select($"node", round($"r" * n, 6).as("rank_scaled"))
      .orderBy($"node")
  }
}
