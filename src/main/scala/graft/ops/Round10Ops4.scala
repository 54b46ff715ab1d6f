package graft.ops

import graft.Tables._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Round-10 widening, part 4: graph analytics over the bounded-degree
  * co-supply graph (degree census, bounded BFS), blocked
  * edit-distance dedup, cosine range search, hapax-legomenon lexical
  * statistics, and exact-arithmetic CUSUM drift detection.
  */
object Round10Ops4 {

  /** The k-NN-thinned co-supply graph (same construction as
    * graph_triangle_count): weight = shared distinct parts, each node
    * keeps its top-3 neighbours (total order: weight desc, id), edges
    * symmetrized. Degree is bounded by construction — the property
    * every downstream graph op here leans on at 100 TB.
    *
    * The edge list is a pure function of the dataset and ~2k rows for
    * top-3 thinning, while its construction is the expensive co-supply
    * self-join — so it is materialized once per dataset and context
    * ([[ScaleTechniques.materializeOnce]]) and every graph op in that
    * context reads the tiny parquet. This is what a production
    * pipeline does with a derived graph: build it in one job, let
    * every analysis job scan the artifact.
    */
  private[ops] def thinnedGraph(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val path = ScaleTechniques.materializeOnce(
      s"cosupply_knn3_${ScaleTechniques.datasetKey(sfDir)}") { tmp =>
      val ps = lineitem(spark, sfDir)
        .select($"l_partkey".as("p"), $"l_suppkey".as("s")).distinct()
      val w = ps.as("a").join(ps.as("b"),
          $"a.p" === $"b.p" && $"a.s" =!= $"b.s")
        .groupBy($"a.s".as("u"), $"b.s".as("v"))
        .agg(count(lit(1)).as("w"))
      w.withColumn("rk", row_number().over(
          Window.partitionBy($"u").orderBy($"w".desc, $"v")))
        .filter($"rk" <= 3)
        .select(least($"u", $"v").as("u"), greatest($"u", $"v").as("v"))
        .distinct()
        // write with the distinct's parallelism: the edge list is
        // corpus-linear (k per node), so a coalesce(1) here would be a
        // single-task straggler at 100×; the three graph consumers
        // re-shuffle on their own keys anyway, so file count is free
        .write.parquet(tmp)
    }
    spark.read.parquet(path)
  }

  /** Degree distribution of the thinned graph: per-node neighbour
    * count (undirected, so each edge contributes to both endpoints),
    * then a histogram over degrees. Two shuffles on bounded keys; the
    * histogram is at most 2k+1 rows for top-k thinning, so the final
    * aggregate is trivially small at any corpus size.
    */
  def graphDegreeDistribution(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val und = thinnedGraph(spark, sfDir)
    val deg = und.select($"u".as("node"))
      .union(und.select($"v".as("node")))
      .groupBy($"node").agg(count(lit(1)).as("degree"))
    deg.groupBy($"degree").agg(count(lit(1)).as("n_nodes"))
      .orderBy($"degree")
  }

  /** Single-source BFS distance, bounded to 4 hops, from the graph's
    * minimum node id: [[GraphRounds.sweep]], the same 4 co-partitioned
    * message rounds as graph_pseudo_diameter's sweeps — state strictly
    * (node, dist), no path enumeration (the oracle's recursive CTE
    * enumerates paths, which is fine for DuckDB at test scale; the
    * Spark side is the frontier-compressed form a 100 TB graph needs).
    * Distances agree because min-over-paths ≤ 4 hops = BFS level when
    * levels ≤ 4. An empty graph has no minimum node, and reports the
    * null start as the one (null, 0) row it reaches.
    */
  def graphShortestPath(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val und = thinnedGraph(spark, sfDir)
    val adj = GraphRounds.adjacency(
      und.select($"u", $"v").union(und.select($"v", $"u")))
    val dist = adj.keys.takeOrdered(1).headOption match {
      case None => Seq((None: Option[Long], 0)).toDF("node", "dist")
      case Some(start) => GraphRounds.sweep(adj, start, 4).toDF("node", "dist")
    }
    dist.orderBy($"node")
  }

  /** Blocked pairwise edit-distance dedup over the document corpus:
    * candidate pairs form ONLY inside a (lang, first-token, length
    * bucket) block — the classic blocking move that turns O(n²)
    * all-pairs into Σ O(block²) with data-bounded blocks — and are
    * verified with Levenshtein over a fixed 60-char prefix (bounds the
    * per-pair cost; both engines implement the same Wagner-Fischer
    * distance). Pairs at distance ≤ 25 survive. Block keys shuffle-
    * partition the corpus; nothing is broadcast.
    *
    * OUTPUT-BOUND at 10× (round-14 probe: 32× time, but the PAIR
    * OUTPUT grew 74× — this word-soup corpus saturates the
    * (lang, token, length) block keys, so block populations grow with
    * the corpus and matching pairs quadratically). Time per output
    * pair FELL 2×: the plan scales; the block-key cardinality is the
    * knob (production blocking adds a content shingle to the key so
    * blocks stay data-bounded).
    */
  def dedupBlockingEdit(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val d = documents(spark, sfDir).select(
      $"doc_id", $"lang",
      split($"text", " ").getItem(0).as("tok0"),
      (length($"text") - length($"text") % 100).as("lb"),
      substring($"text", 1, 60).as("pre"))
    val a = d.select($"doc_id".as("doc_a"), $"lang", $"tok0", $"lb",
      $"pre".as("pa"))
    val b = d.select($"doc_id".as("doc_b"), $"lang", $"tok0", $"lb",
      $"pre".as("pb"))
    a.join(b, Seq("lang", "tok0", "lb"))
      .filter($"doc_a" < $"doc_b")
      .withColumn("edit_dist", levenshtein($"pa", $"pb"))
      .filter($"edit_dist" <= 25)
      .select($"doc_a", $"doc_b", $"lang", $"edit_dist")
      .orderBy($"doc_a", $"doc_b")
  }

  /** Cosine range search: every vector within cosine ≥ 0.15 of the
    * probe (vec_id 0), the bounded-radius companion to sim_cosine_topk.
    * The probe is a 1-row broadcast; similarity rides the compiled
    * `graft_dot` kernel with precomputed norms, so the pass is one
    * scan + one codegen'd projection — the linear-scan baseline an IVF
    * or LSH index would prune, stated in its scale-correct form.
    * Threshold compares on the 6dp-rounded value so the boundary
    * predicate is the identical double on both engines.
    */
  def simRangeSearch(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    graft.expressions.GraftFunctions.ensureRegistered(spark)
    val t = embeddings(spark, sfDir)
      .select($"vec_id", $"embedding",
        sqrt(expr("graft_dot(embedding, embedding)")).as("nrm"))
    val probe = t.filter($"vec_id" === 0)
      .select($"embedding".as("pe"), $"nrm".as("pn"))
    t.filter($"vec_id" =!= 0).crossJoin(broadcast(probe))
      .withColumn("cosine",
        round(expr("graft_dot(embedding, pe)") / ($"nrm" * $"pn"), 6))
      .filter($"cosine" >= 0.15)
      .select($"vec_id", $"cosine")
      .orderBy($"cosine".desc, $"vec_id")
  }

  /** Hapax-legomenon census per language: vocabulary size, number of
    * terms occurring exactly once, and their ratio — the lexical-
    * richness signal corpus-quality dashboards track. Shuffles are
    * vocabulary-bounded (explode → (lang, term) rollup → per-lang
    * rollup), never corpus-bounded.
    */
  def textHapaxRatio(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val tf = documents(spark, sfDir)
      .select($"lang", explode(split($"text", " ")).as("term"))
      .groupBy($"lang", $"term").agg(count(lit(1)).as("f"))
    tf.groupBy($"lang")
      .agg(count(lit(1)).as("n_terms"),
        count(when($"f" === 1, 1)).as("n_hapax"))
      .selectExpr("lang", "n_terms", "n_hapax",
        "round(CAST(n_hapax AS DOUBLE) / CAST(n_terms AS DOUBLE), 6) AS hapax_ratio")
      .orderBy($"lang")
  }

  /** CUSUM drift detection per event type with EXACT arithmetic: the
    * classic cumulative deviation C_k = Σ_{j≤k}(x_j − mean) is
    * rescaled by n to D_k = n·prefix_k − k·S (prefix and S are exact
    * DECIMAL sums, k a row number), so the running statistic never
    * touches floats until the final division. Max positive/negative
    * excursions divide by n ONCE per group, rounded at 6dp. Windows
    * are partitioned by event_type (per-key state at any scale); the
    * per-type totals ride a broadcast join, not a global window.
    */
  def tsCusum(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    cusumFrame(spark, sfDir).groupBy($"event_type")
      .agg(max($"n").as("n"), max($"d").as("dmax"), min($"d").as("dmin"))
      .selectExpr("event_type", "CAST(n AS BIGINT) AS n",
        "round(CAST(dmax AS DOUBLE) / CAST(n AS DOUBLE), 6) AS max_up",
        "round(CAST(dmin AS DOUBLE) / CAST(n AS DOUBLE), 6) AS max_down")
      .orderBy($"event_type")
  }

  /** Shared exact-CUSUM frame (used by ts_cusum and ts_changepoint):
    * per event and type, the rescaled cumulative deviation
    * D_k = n·prefix_k − k·S with prefix and S exact DECIMAL(18,2)
    * sums (inside 38 digits on both engines for |Σx| < 10^16), k a
    * row number on the (ts, event_id) total order, per-type totals on
    * a broadcast join — never a global window.
    *
    * prefix and k are DISTRIBUTED two-phase prefix sums (round-16
    * low-card-window sweep: an event_type-only window caps parallelism
    * at the 5 types forever): intra-(type, calendar-day) running sums
    * — day = date(ts) is monotone in ts, so the (day, ts, event_id)
    * order IS the (ts, event_id) order — plus running day totals from
    * the |types| x |days| census. DECIMAL addition is exact, so the
    * stitched prefix equals the single-window prefix bit-for-bit.
    */
  private[ops] def cusumFrame(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val ev = events(spark, sfDir)
      .select($"event_type", $"ts", $"event_id", money($"value").as("x"))
      .withColumn("day", to_date($"ts"))
    val tot = ev.groupBy($"event_type")
      .agg(count(lit(1)).as("n"),
        sum($"x").cast(DecimalType(18, 2)).as("s"))
    val wIn = Window.partitionBy($"event_type", $"day")
      .orderBy($"ts", $"event_id")
    val census = ev.groupBy($"event_type".as("c_et"), $"day".as("c_day"))
      .agg(count(lit(1)).as("dn"),
        sum($"x").cast(DecimalType(18, 2)).as("ds"))
    val wOff = Window.partitionBy($"c_et").orderBy($"c_day")
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = census
      .withColumn("koff", coalesce(sum($"dn").over(wOff), lit(0L)))
      .withColumn("soff", coalesce(sum($"ds").over(wOff),
        lit(0).cast(DecimalType(18, 2))))
      .select($"c_et", $"c_day", $"koff", $"soff")
    ev.join(broadcast(offsets),
        $"event_type" === $"c_et" && $"day" === $"c_day")
      .withColumn("prefix", ($"soff" + sum($"x").over(
        wIn.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .cast(DecimalType(18, 2)))
      .withColumn("k", ($"koff" + row_number().over(wIn)).cast(IntegerType))
      .join(tot, "event_type")
      .withColumn("d", $"prefix" * $"n" - $"s" * $"k")
  }
}
