package graft.ops

import org.apache.spark.{HashPartitioner, Partitioner}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame

import scala.collection.mutable.ArrayBuilder
import scala.reflect.ClassTag

/** Co-partitioned message rounds, the RDD PageRank of Zaharia et al.
  * (NSDI'12). Neighbour lists are hash-partitioned once on their
  * source node. Each round joins them with a per-node state on the
  * same partitioner, partition by partition, with nothing shuffled or
  * broadcast, and `reduceByKey` brings the messages back to that
  * partitioner: one shuffle per round.
  *
  * Every iterative graph loop that keeps one state per node runs on
  * these rounds: graph_pagerank, graph_weighted_pagerank,
  * graph_hits_scores, graph_pseudo_diameter, graph_shortest_path,
  * graph_kcore_peel, the label propagation behind
  * graph_label_propagation and graph_conductance, and the connected
  * components behind the near-dup cluster ops. A DataFrame loop must
  * cut its lineage with `localCheckpoint`, which reports
  * `UnknownPartitioning`: no round could reuse the previous round's
  * layout, and each checkpoint ran every exchange and broadcast as a
  * job of its own. Here lineage is held by shuffle reuse: a round
  * reads the previous round's shuffle output and the scheduler skips
  * the stages it has already run, so nothing is checkpointed or
  * persisted.
  */
object GraphRounds {

  type Adjacency = RDD[(Long, Array[Long])]

  /** Out-neighbours of each source of `edges`' first two (Long)
    * columns, (src, dst), on one hash partitioner sized by the
    * cluster's default parallelism.
    */
  def adjacency(edges: DataFrame): Adjacency =
    group(edges.rdd.map(r => (r.getLong(0), r.getLong(1))),
      new HashPartitioner(edges.sparkSession.sparkContext.defaultParallelism))

  /** In-neighbours of each node of `adj`, on `adj`'s partitioner. */
  def transpose(adj: Adjacency): Adjacency =
    group(adj.flatMap { case (src, dsts) => dsts.iterator.map((_, src)) },
      adj.partitioner.get)

  // lists are built map-side, so the shuffle and every round's read of
  // it carry one array per node and map task, not one record per edge
  private def group(pairs: RDD[(Long, Long)], part: Partitioner): Adjacency =
    pairs.combineByKey[ArrayBuilder.ofLong](new ArrayBuilder.ofLong += _,
      _ += _, (a, b) => a ++= b.result(), part).mapValues(_.result())

  /** One message round: each node of `state` that has an adjacency
    * value `a` in `adj` (its neighbour list, or any per-node value
    * built from its edges) sends `send(node, a, value)`, and the
    * messages to each node are folded with `merge`. `state` must be on
    * `adj`'s partitioner, and so is the result, ready for the next
    * round. The join is narrow: each adjacency partition looks its
    * nodes up in the matching state partition, held as a hash map —
    * half the time of `join`'s cogroup, which also buffers the
    * neighbour lists.
    */
  def round[A, S: ClassTag, M: ClassTag](adj: RDD[(Long, A)], state: RDD[(Long, S)])(
      send: (Long, A, S) => Iterator[(Long, M)])(
      merge: (M, M) => M): RDD[(Long, M)] = {
    val part = adj.partitioner.get
    require(state.partitioner.contains(part), "state is not on the adjacency's partitioner")
    adj.zipPartitions(state) { (lists, states) =>
      val byNode = states.toMap
      lists.flatMap { case (node, a) => byNode.get(node).iterator.flatMap(send(node, a, _)) }
    }.reduceByKey(part, merge)
  }

  /** Hop distances from `source`, up to `hops` hops: each hop's
    * distance is the min over the previous distances and their
    * neighbours' +1, so a reached node also keeps its own distance.
    */
  def sweep(adj: Adjacency, source: Long, hops: Int): RDD[(Long, Int)] = {
    var dist = adj.filter(_._1 == source).mapValues(_ => 0)
    for (_ <- 1 to hops) {
      dist = round(adj, dist) { (node, nbrs, d) =>
        Iterator((node, d)) ++ nbrs.iterator.map((_, d + 1))
      }(math.min)
    }
    dist
  }
}
