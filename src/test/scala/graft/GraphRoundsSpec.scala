package graft

import graft.ops.{Graph, GraphRounds, Round11Ops15, Round13Ops44, ScaleTechniques}
import org.apache.spark.ShuffleDependency
import org.apache.spark.graft.GraftIntrospect
import org.apache.spark.rdd.RDD
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The co-partitioned message rounds behind graph_pagerank,
  * graph_hits_scores and graph_pseudo_diameter: the helper's rounds
  * on a hand-built graph, and the three ops' outputs, job counts and
  * leftovers.
  */
class GraphRoundsSpec extends AnyFunSuite with SparkFixture {

  private val ops: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    "graph_pagerank" -> Graph.graphPagerank _,
    "graph_hits_scores" -> Round11Ops15.graphHitsScores _,
    "graph_pseudo_diameter" -> Round13Ops44.graphPseudoDiameter _)

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
    val mat = new java.io.File(
      s"/tmp/graft_mat/cosupply_knn3_v1_${ScaleTechniques.datasetKey(dir.getPath)}")
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(rm)); f.delete()
    }
    try {
      val rows = ops.map { case (name, fn) => name -> fn(spark, dir.getPath).collect().toSeq }.toMap
      assert(rows("graph_pagerank").isEmpty)
      assert(rows("graph_hits_scores").isEmpty)
      // the null start is carried through both sweeps as one (null, 0) row
      assert(rows("graph_pseudo_diameter") === Seq(Row(null, null, 0L, null, 0L, 1L)))
    } finally { rm(dir); rm(mat) }
  }

  // row count and bit_xor(xxhash64(*)) of each op's output at the
  // fixture sf, taken from the DataFrame-loop implementation
  private val pinned = Map(
    "graph_pagerank" -> "210:6c5123f7da2676e2",
    "graph_hits_scores" -> "40:7f5f28ee952295c9",
    "graph_pseudo_diameter" -> "1:ea50f6301cc66ed2")

  // jobs of one warm build + noop write under the DataFrame loops
  private val loopJobs = Map(
    "graph_pagerank" -> 35, "graph_hits_scores" -> 45, "graph_pseudo_diameter" -> 32)

  ops.foreach { case (name, fn) =>
    test(s"$name: output locked to the pinned digest") {
      val df = fn(spark, sf)
      val r = df.agg(count(lit(1)), bit_xor(xxhash64(df.columns.map(col): _*))).head()
      assert(f"${r.getLong(0)}%d:${r.getLong(1)}%016x" === pinned(name))
    }

    test(s"$name: at most half the loop's jobs, and nothing left cached") {
      val sc = spark.sparkContext
      val cm = spark.sharedState.cacheManager
      fn(spark, sf).write.format("noop").mode("overwrite").save()
      cm.clearCache()
      val rdds = sc.getPersistentRDDs.keySet
      val jobs = new java.util.concurrent.atomic.AtomicInteger
      val l = new SparkListener {
        override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
      }
      GraftIntrospect.drainListenerBus(sc)
      sc.addSparkListener(l)
      try {
        fn(spark, sf).write.format("noop").mode("overwrite").save()
        GraftIntrospect.drainListenerBus(sc)
      } finally sc.removeSparkListener(l)
      assert(jobs.get <= loopJobs(name) / 2, s"$name started ${jobs.get} jobs")
      assert((sc.getPersistentRDDs.keySet -- rdds).isEmpty, "persisted RDDs left behind")
      assert(cm.isEmpty, "CacheManager entries left behind")
    }
  }
}
