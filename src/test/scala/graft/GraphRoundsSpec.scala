package graft

import graft.ops.{Graph, GraphRounds, LlmOps, Round10Ops4, Round11Ops, Round11Ops15,
  Round11Ops24, Round13Ops17, Round13Ops23, Round13Ops3, Round13Ops44, Round3Ops,
  Round8Ops}
import org.apache.spark.HashPartitioner
import org.apache.spark.ShuffleDependency
import org.apache.spark.graft.GraftIntrospect
import org.apache.spark.rdd.RDD
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The co-partitioned message rounds behind the graph loops: the
  * helper's rounds on hand-built graphs, and the outputs, job counts
  * and leftovers of the eight ops that run them (graph_pagerank,
  * graph_hits_scores, graph_pseudo_diameter, graph_weighted_pagerank,
  * graph_shortest_path, graph_kcore_peel, and the label propagation
  * and connected components builders), plus the outputs of the ops
  * that read the label and cluster artifacts.
  */
class GraphRoundsSpec extends AnyFunSuite with SparkFixture {

  private val ops: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    "graph_pagerank" -> Graph.graphPagerank _,
    "graph_hits_scores" -> Round11Ops15.graphHitsScores _,
    "graph_pseudo_diameter" -> Round13Ops44.graphPseudoDiameter _)

  // the loops that kept one localCheckpoint per round, and the ops
  // that read the label propagation and connected-components artifacts
  private val checkpointedOps: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    "graph_weighted_pagerank" -> Round13Ops23.graphWeightedPagerank _,
    "graph_label_propagation" -> Round13Ops3.graphLabelPropagation _,
    "graph_kcore_peel" -> Round11Ops.graphKcorePeel _,
    "graph_shortest_path" -> Round10Ops4.graphShortestPath _,
    "dedup_connected_components" -> Round3Ops.dedupConnectedComponents _,
    "graph_conductance" -> Round13Ops17.graphConductance _,
    "pipeline_dedup_survivorship" -> Round8Ops.pipelineDedupSurvivorship _,
    "dedup_cluster_size_histogram" -> Round11Ops24.dedupClusterSizeHistogram _)

  // the same loops' builders: label propagation and connected
  // components are measured without the artifact around them
  private val checkpointedBuilders: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    "graph_weighted_pagerank" -> Round13Ops23.graphWeightedPagerank _,
    "lpa labels" -> Round13Ops3.lpaLabels _,
    "graph_kcore_peel" -> Round11Ops.graphKcorePeel _,
    "graph_shortest_path" -> Round10Ops4.graphShortestPath _,
    "connected components" -> ((s: SparkSession, d: String) => Round3Ops.connectedComponents(s,
      LlmOps.dedupNearJaccard(s, d).select(col("id_a"), col("id_b")))))

  private def adj(edges: Seq[(Long, Long)]): GraphRounds.Adjacency = {
    import spark.implicits._
    GraphRounds.adjacency(edges.toDF("src", "dst"))
  }
  // 1→2, 1→3, 2→3, 3→1, 4→3, 5→4
  private val fiveNodes = Seq(1L -> 2L, 1L -> 3L, 2L -> 3L, 3L -> 1L, 4L -> 3L, 5L -> 4L)

  private def sorted[V](rdd: RDD[(Long, V)]): Seq[(Long, V)] =
    rdd.collect().toSeq.sortBy(_._1)

  private def shuffles(rdd: RDD[_]): Set[Int] =
    rdd.dependencies.flatMap {
      case s: ShuffleDependency[_, _, _] => shuffles(s.rdd) + s.shuffleId
      case d => shuffles(d.rdd)
    }.toSet

  test("adjacency: neighbour lists on one partitioner of defaultParallelism parts") {
    val a = adj(fiveNodes)
    assert(a.getNumPartitions === spark.sparkContext.defaultParallelism)
    assert(sorted(a.mapValues(_.sorted.toSeq)) === Seq(
      1L -> Seq(2L, 3L), 2L -> Seq(3L), 3L -> Seq(1L), 4L -> Seq(3L), 5L -> Seq(4L)))
    val t = GraphRounds.transpose(a)
    assert(t.partitioner === a.partitioner)
    assert(sorted(t.mapValues(_.sorted.toSeq)) === Seq(
      1L -> Seq(3L), 2L -> Seq(1L), 3L -> Seq(1L, 2L, 4L), 4L -> Seq(5L)))
  }

  test("one PageRank round: each node sends r / outdegree, sums per destination") {
    val a = adj(fiveNodes)
    val ranks = GraphRounds.round(a, a.mapValues(_ => 1.0)) { (_, nbrs, r) =>
      nbrs.iterator.map((_, r / nbrs.length))
    }(_ + _)
    // node 5 has no in-edge, so it gets no message
    assert(sorted(ranks) === Seq(1L -> 1.0, 2L -> 0.5, 3L -> 2.5, 4L -> 1.0))
    assert(ranks.partitioner === a.partitioner)
    // a second round joins narrowly: the adjacency's shuffle plus one per round
    val again = GraphRounds.round(a, ranks) { (_, nbrs, r) =>
      nbrs.iterator.map((_, r / nbrs.length))
    }(_ + _)
    assert(shuffles(again).size === 3)
    // a state on another layout would need a shuffle of its own
    intercept[IllegalArgumentException] {
      GraphRounds.round(a, spark.sparkContext.parallelize(Seq(1L -> 1.0))) { (_, nbrs, r) =>
        nbrs.iterator.map((_, r))
      }(_ + _)
    }
  }

  test("one HITS half-round: integer sums, then (raw·10⁶) div max") {
    val a = adj(fiveNodes)
    val raw = GraphRounds.round(a, a.mapValues(_ => BigInt(1))) { (_, nbrs, h) =>
      nbrs.iterator.map((_, h))
    }(_ + _)
    assert(sorted(raw) === Seq(1L -> BigInt(1), 2L -> BigInt(1), 3L -> BigInt(3), 4L -> BigInt(1)))
    val max = raw.values.fold(BigInt(0))(_ max _)
    assert(sorted(raw.mapValues(_ * 1000000 / max)) === Seq(
      1L -> BigInt(333333), 2L -> BigInt(333333), 3L -> BigInt(1000000), 4L -> BigInt(333333)))
  }

  test("one BFS hop: min over the reached nodes and their neighbours' +1") {
    val a = adj(fiveNodes)
    val dist = GraphRounds.round(a, a.filter(_._1 == 1L).mapValues(_ => 0)) { (node, nbrs, d) =>
      Iterator((node, d)) ++ nbrs.iterator.map((_, d + 1))
    }(math.min)
    assert(sorted(dist) === Seq(1L -> 0, 2L -> 1, 3L -> 1))
  }

  test("sweep: hop distances from the source, cut at the hop bound") {
    // the path 1-2-3-4-5-6 and the edge 2-7, both directions
    val path = (1L to 5L).map(i => i -> (i + 1)) :+ (2L -> 7L)
    val a = adj(path ++ path.map(_.swap))
    assert(sorted(GraphRounds.sweep(a, 1L, 4)) ===
      Seq(1L -> 0, 2L -> 1, 3L -> 2, 4L -> 3, 5L -> 4, 7L -> 2))
    assert(sorted(GraphRounds.sweep(a, 8L, 4)).isEmpty)
  }

  // symmetric edge lists of small random graphs, self-loops dropped
  private def randomGraph(seed: Int, nodes: Int, edges: Int): Seq[(Long, Long)] = {
    val rnd = new scala.util.Random(seed)
    val und = Seq.fill(edges)((rnd.nextInt(nodes).toLong, rnd.nextInt(nodes).toLong))
      .filter { case (a, b) => a != b }.map { case (a, b) => (a min b, a max b) }.distinct
    und ++ und.map(_.swap)
  }

  test("label propagation: most frequent neighbour label, ties to the smallest") {
    // triangle 1-2-3 bridged by 3-4 to triangle 4-5-6
    val tri = Seq(1L -> 2L, 1L -> 3L, 2L -> 3L, 3L -> 4L, 4L -> 5L, 4L -> 6L, 5L -> 6L)
    // round 1: 1 ties {2, 3} to 2, 4 ties {3, 5, 6} to 3; round 2: 4
    // takes 4, held by two neighbours, over 1, held by one
    assert(sorted(Round13Ops3.propagateLabels(adj(tri ++ tri.map(_.swap)))) ===
      Seq(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 3L, 5L -> 3L, 6L -> 3L))
    // plain-Scala rounds on random graphs
    Seq(1, 2, 3).foreach { seed =>
      val edges = randomGraph(seed, 40, 90)
      val nbrs = edges.groupMap(_._1)(_._2)
      var want = nbrs.keys.map(v => v -> v).toMap
      for (_ <- 1 to 3) {
        want = nbrs.map { case (v, ns) =>
          val counts = ns.groupMapReduce(want)(_ => 1)(_ + _)
          v -> counts.keys.minBy(l => (-counts(l), l))
        }
      }
      assert(sorted(Round13Ops3.propagateLabels(adj(edges))) === want.toSeq.sortBy(_._1))
    }
  }

  test("weighted rounds: fixed-point PageRank over neighbour and weight lists") {
    Seq(4, 5).foreach { seed =>
      val rnd = new scala.util.Random(seed)
      val und = randomGraph(seed, 30, 70).filter { case (a, b) => a < b }
        .map { case (a, b) => (a, b, 1L + rnd.nextInt(5)) }
      val edges = und ++ und.map { case (a, b, w) => (b, a, w) }
      val lists = edges.groupMap(_._1) { case (_, b, w) => (b, w) }
      val n = lists.size.toLong
      var want = lists.keys.map(_ -> 1000000000000L / n).toMap
      for (_ <- 1 to 3) {
        want = edges.groupMapReduce(_._2) { case (a, _, w) =>
          want(a) * w / lists(a).map(_._2).sum
        }(_ + _).map { case (v, sm) => v -> (150000000000L / n + 85 * sm / 100) }
      }
      val part = new HashPartitioner(spark.sparkContext.defaultParallelism)
      val a = spark.sparkContext.parallelize(lists.toSeq.map { case (v, l) =>
        (v, (l.map(_._1).toArray, l.map(_._2).toArray))
      }).partitionBy(part)
      assert(sorted(Round13Ops23.weightedRanks(a, n)) === want.toSeq.sortBy(_._1))
    }
  }

  test("empty graph: no lists, no messages, and the HITS max guard reads 0") {
    val a = adj(Nil)
    assert(a.isEmpty())
    val raw = GraphRounds.round(a, a.mapValues(_ => BigInt(1))) { (_, nbrs, h) =>
      nbrs.iterator.map((_, h))
    }(_ + _)
    assert(raw.isEmpty())
    assert(raw.values.fold(BigInt(0))(_ max _) === BigInt(0))
    assert(GraphRounds.transpose(a).isEmpty())
  }

  test("the three ops on an empty graph: no ranks, no scores, one null pseudo-diameter row") {
    val dir = java.nio.file.Files.createTempDirectory("graph_empty").toFile
    Seq("lineitem", "orders").foreach { t =>
      Tables(spark, sf, t).limit(0).write.parquet(s"$dir/$t.parquet")
    }
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(rm)); f.delete()
    }
    try {
      val rows = ops.map { case (name, fn) => name -> fn(spark, dir.getPath).collect().toSeq }.toMap
      assert(rows("graph_pagerank").isEmpty)
      assert(rows("graph_hits_scores").isEmpty)
      // the null start is carried through both sweeps as one (null, 0) row
      assert(rows("graph_pseudo_diameter") === Seq(Row(null, null, 0L, null, 0L, 1L)))
    } finally rm(dir)
  }

  test("the five checkpointed loops and their three readers on an empty graph") {
    val dir = java.nio.file.Files.createTempDirectory("graph_empty").toFile
    Seq("lineitem", "orders", "documents").foreach { t =>
      Tables(spark, sf, t).limit(0).write.parquet(s"$dir/$t.parquet")
    }
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(rm)); f.delete()
    }
    try {
      val rows = checkpointedOps.map { case (name, fn) =>
        name -> fn(spark, dir.getPath).collect().toSeq
      }.toMap
      // the null start is reached as one (null, 0) row
      assert(rows("graph_shortest_path") === Seq(Row(null, 0)))
      // no nodes, no ranks: the 10¹²/n start rank is never computed
      assert(rows("graph_weighted_pagerank").isEmpty)
      (rows - "graph_shortest_path" - "graph_weighted_pagerank").foreach { case (name, r) => assert(r.isEmpty, name) }
    } finally rm(dir)
  }

  // row count and bit_xor(xxhash64(*)) of each op's output at the
  // fixture sf, taken from the DataFrame-loop implementation
  private val pinned = Map(
    "graph_pagerank" -> "210:6c5123f7da2676e2",
    "graph_hits_scores" -> "40:7f5f28ee952295c9",
    "graph_pseudo_diameter" -> "1:ea50f6301cc66ed2",
    "graph_weighted_pagerank" -> "210:02bbcf8251355d7f",
    "graph_label_propagation" -> "210:cb6d12157a5345b8",
    "graph_kcore_peel" -> "10:0fb6ccadfb655142",
    "graph_shortest_path" -> "10:c56ab4f91c3f459e",
    "dedup_connected_components" -> "335:3e743d0f8f2fd87e",
    "graph_conductance" -> "2:b01b862497e2415c",
    "pipeline_dedup_survivorship" -> "9:9ad8b9d7bfbd2255",
    "dedup_cluster_size_histogram" -> "7:11661cacb6baac6d",
    // the artifact builders, pinned apart from the artifact they
    // fill: the same rows and types as the ops that read them
    "lpa labels" -> "210:cb6d12157a5345b8",
    "connected components" -> "335:3e743d0f8f2fd87e")

  // jobs of one warm build + noop write under the DataFrame loops,
  // with a localCheckpoint per round
  private val loopJobs = Map(
    "graph_pagerank" -> 35, "graph_hits_scores" -> 45, "graph_pseudo_diameter" -> 32,
    "graph_weighted_pagerank" -> 25, "lpa labels" -> 18, "graph_kcore_peel" -> 18,
    "graph_shortest_path" -> 17, "connected components" -> 42)

  // jobs of a warm build + noop write of `build`, which must leave
  // no persisted RDD and no CacheManager entry behind
  private def jobsOf(build: => DataFrame): Int = {
    val sc = spark.sparkContext
    val cm = spark.sharedState.cacheManager
    build.write.format("noop").mode("overwrite").save()
    cm.clearCache()
    val rdds = sc.getPersistentRDDs.keySet
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    GraftIntrospect.drainListenerBus(sc)
    sc.addSparkListener(l)
    try {
      build.write.format("noop").mode("overwrite").save()
      GraftIntrospect.drainListenerBus(sc)
    } finally sc.removeSparkListener(l)
    assert((sc.getPersistentRDDs.keySet -- rdds).isEmpty, "persisted RDDs left behind")
    assert(cm.isEmpty, "CacheManager entries left behind")
    jobs.get
  }

  (ops ++ checkpointedOps ++ checkpointedBuilders).distinctBy(_._1).foreach { case (name, fn) =>
    test(s"$name: output locked to the pinned digest") {
      val df = fn(spark, sf)
      val r = df.agg(count(lit(1)), bit_xor(xxhash64(df.columns.map(col): _*))).head()
      assert(f"${r.getLong(0)}%d:${r.getLong(1)}%016x" === pinned(name))
    }
  }

  (ops ++ checkpointedBuilders).foreach { case (name, fn) =>
    test(s"$name: at most half the loop's jobs, and nothing left cached") {
      val jobs = jobsOf(fn(spark, sf))
      assert(jobs <= loopJobs(name) / 2, s"$name started $jobs jobs")
    }
  }
}
