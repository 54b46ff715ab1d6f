package graft.ops

import graft.Tables._
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Round-3 widening: n-gram shingle dedup, vector arithmetic surface,
  * correlated/lateral subqueries, interval-range window frames, and
  * mergeable HLL sketches (SURVEY §2k).
  */
object Round3Ops {

  /** Near-dup via 3-token SHINGLE Jaccard >= 0.5 — the n-gram variant
    * of [[LlmOps.dedupNearJaccard]]: shingles are far more
    * discriminating than unigram token sets (a shared vocabulary no
    * longer collides, only shared phrasing does). Same verify-tier
    * design: per-doc sketch = sorted xxhash64 shingle set, same-lang
    * blocked pairs, size-ratio prune inside the join, codegen'd
    * two-pointer intersect. The 100 TB scale path remains
    * [[LlmOps.dedupMinhashLsh]] (banding generalizes to shingles by
    * swapping the token array for this shingle array).
    */
  def dedupNgramJaccard(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    graft.expressions.GraftFunctions.ensureRegistered(spark)
    // Shingle sketch via the compiled graft_shingles kernel
    // (graft.expressions.ShingleHashes): sorted distinct trigram
    // hashes in one codegen'd pass. Set cardinalities (so the jaccard)
    // are identical to the oracle's string-trigram sets because tokens
    // are space-free (concat is injective) and 64-bit collisions are
    // negligible. The equivalent HOF pipeline is interpreted and gets
    // re-inlined into pushed-down IsNotNull scan filters on both join
    // inputs — measured 5-7 s at sf0.1 vs ~1 s with this kernel.
    val sh = documents(spark, sfDir)
      .filter(size(split($"text", " ")) >= 3)
      .select($"doc_id", $"lang",
        call_function("graft_shingles", $"text", lit(3)).as("sh"))
      .withColumn("sz", size($"sh"))
    // Round 14: EXACT prefix-filtering candidate generation (AllPairs /
    // PPJoin prefix lemma, Bayardo et al. WWW'07) replaces the 32×
    // fragment-replicate join — the round-13 board's single most
    // expensive op (4.5 s, the 32× sketch fan-out dominated). The
    // lemma: jac(A,B) ≥ t ⟹ the ⌊(1−t)·|x|⌋+1-prefixes of A and B
    // under ONE global element order share an element; at t = 0.5 the
    // prefix is the first ⌊sz/2⌋+1 hashes. Recall is exactly 1 (this
    // is a theorem, not a sketch — unlike MinHash banding the output
    // is byte-identical to the all-pairs join, which is why it can
    // replace the theta join under an unchanged oracle), so the join
    // explodes only HALF the shingle mass once instead of shipping
    // every sketch 32×, and candidates equi-join on (lang, hash) —
    // hash-partitionable at any scale. The global order here is hash
    // order (the sketch array is already hash-sorted); production
    // corpora with skewed phrase frequency would sort by ascending
    // document frequency instead (rarest-first prefixes minimize
    // candidate fan-out) at the cost of one df-count pass — on this
    // corpus hashes ARE df-uniform, so the extra pass buys nothing.
    // localCheckpoint: sh feeds the prefix explode AND both verify
    // fetches; at cluster scale this is a persisted shuffle stage.
    val shc = sh.localCheckpoint(true)
    val pref = shc.select($"doc_id", $"lang", $"sz",
      explode(expr("slice(sh, 1, sz DIV 2 + 1)")).as("tok"))
    // size-ratio prune inside the candidate join (j ≥ 0.5 forces
    // 2·min ≥ max); distinct collapses pairs sharing several prefix
    // hashes BEFORE the verify fetch, so the intersect kernel runs
    // once per candidate pair
    val cand = pref.select($"doc_id".as("id_a"), $"lang", $"sz".as("sz_a"), $"tok")
      .join(pref.select($"doc_id".as("id_b"), $"lang".as("lang_b"),
          $"sz".as("sz_b"), $"tok".as("tok_b")),
        $"tok" === $"tok_b" && $"lang" === $"lang_b" && $"id_a" < $"id_b" &&
        $"sz_a" * 2 >= $"sz_b" && $"sz_b" * 2 >= $"sz_a")
      .select($"id_a", $"id_b").distinct()
    // verify tier: fetch both sketches by doc_id equi-join, exact
    // integer threshold first (3·|A∩B| ≥ |A|+|B| ⟺ jac ≥ 0.5), exact
    // jaccard only for survivors
    cand
      .join(shc.select($"doc_id".as("id_a"), $"sh".as("sh_a"), $"sz".as("sz_a")), "id_a")
      .join(shc.select($"doc_id".as("id_b"), $"sh".as("sh_b"), $"sz".as("sz_b")), "id_b")
      .filter(LlmOps.isect($"sh_a", $"sh_b") * 3 >= $"sz_a" + $"sz_b")
      .withColumn("inter", LlmOps.isect($"sh_a", $"sh_b"))
      .select($"id_a", $"id_b",
        round($"inter".cast(DoubleType) / ($"sz_a" + $"sz_b" - $"inter"), 6)
          .as("jaccard"))
      .orderBy($"id_a", $"id_b")
  }

  /** Vector arithmetic over the embedding column — the scalar surface a
    * similarity pipeline composes: dimension, exact extrema, native
    * self-dot (graft_dot), first-component of the unit vector, and an
    * element-wise double-precision add with the reversed vector
    * (first 4 components, unpacked to scalar columns: the driver's
    * pandas-side compare cannot sort/hash array-typed cells).
    * All arithmetic is double-math so DuckDB's ::DOUBLE[] list forms
    * agree bit-for-bit.
    */
  def fnVectorArith(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    graft.expressions.GraftFunctions.ensureRegistered(spark)
    val dot = LlmOps.dot($"embedding", $"embedding")
    val addrev = expr("slice(zip_with(embedding, reverse(embedding), (x, y) -> CAST(x AS DOUBLE) + CAST(y AS DOUBLE)), 1, 4)")
    embeddings(spark, sfDir)
      .filter($"vec_id" < 500)
      .select(Seq(
        $"vec_id",
        size($"embedding").as("dim"),
        array_max($"embedding").cast(DoubleType).as("vmax"),
        array_min($"embedding").cast(DoubleType).as("vmin"),
        round(dot, 6).as("self_dot"),
        round(element_at($"embedding", 1).cast(DoubleType) / sqrt(dot), 6)
          .as("unit0")) ++
        (1 to 4).map(i =>
          round(element_at(addrev, i), 6).as(s"addrev$i")): _*)
      .orderBy($"vec_id")
  }

  /** Correlated scalar subquery (Catalyst decorrelates to a join):
    * each customer's single most expensive order. The correlated
    * aggregate is MAX — exact under both engines, so the equality
    * filter cannot diverge on float rounding.
    */
  def sqlCorrelatedScalar(spark: SparkSession, sfDir: String): DataFrame = {
    orders(spark, sfDir).createOrReplaceTempView("g3_orders")
    spark.sql("""
      SELECT o_custkey, o_orderkey, CAST(o_totalprice AS DOUBLE) AS total
      FROM g3_orders o
      WHERE o_totalprice = (SELECT max(o2.o_totalprice)
                            FROM g3_orders o2
                            WHERE o2.o_custkey = o.o_custkey)
      ORDER BY o_custkey, o_orderkey
    """)
  }

  /** LATERAL correlated subquery join — per customer, the aggregate of
    * that customer's orders computed in a lateral derived table (the
    * SQL shape Catalyst plans via DecorrelateInnerQuery; DuckDB
    * executes it natively).
    */
  def joinLateralAgg(spark: SparkSession, sfDir: String): DataFrame = {
    customer(spark, sfDir).createOrReplaceTempView("g3_customer")
    orders(spark, sfDir).createOrReplaceTempView("g3_orders")
    spark.sql("""
      SELECT c.c_custkey, l.n_orders, CAST(l.max_total AS DOUBLE) AS max_total
      FROM g3_customer c,
      LATERAL (SELECT count(*) AS n_orders, max(o_totalprice) AS max_total
               FROM g3_orders o WHERE o.o_custkey = c.c_custkey) l
      WHERE l.n_orders > 0
      ORDER BY c.c_custkey
    """)
  }

  /** Interval RANGE frame: per customer, orders placed in the trailing
    * 7 days (inclusive) of each order — count + exact decimal revenue.
    * rangeBetween over a timestamp needs the interval expressed in the
    * orderBy column's units; Spark 4 accepts `RANGE BETWEEN INTERVAL`
    * only in SQL, so the window is declared there.
    */
  def winRangeInterval(spark: SparkSession, sfDir: String): DataFrame = {
    orders(spark, sfDir).createOrReplaceTempView("g3_orders")
    spark.sql("""
      SELECT o_custkey, o_orderkey,
        count(*) OVER w AS n_last7d,
        CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) OVER w AS DOUBLE) AS rev_last7d
      FROM g3_orders
      WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate
                   RANGE BETWEEN INTERVAL 7 DAYS PRECEDING AND CURRENT ROW)
      ORDER BY o_custkey, o_orderkey
    """)
  }

  /** Duplicate CLUSTERS from the verified near-dup pairs: connected
    * components by iterative min-label propagation (Pregel-lite) with
    * pointer jumping ([[connectedComponents]]). Converges in
    * O(log component diameter) rounds — near-dup clusters are dense,
    * so 2-4 in practice; capped defensively. This is the step a
    * production dedup pipeline needs after pair generation: pick one
    * canonical doc per cluster. min-label is order-free, so the result
    * is deterministic under any partitioning.
    */
  def dedupConnectedComponents(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    nearDupClusters(spark, sfDir).orderBy($"cluster_id", $"doc_id")
  }

  /** The near-dup CC labels as a SHARED materialized artifact
    * (build-once, same pattern as Round10Ops4.thinnedGraph): three
    * board ops consume the identical clustering
    * (dedup_connected_components, pipeline_dedup_survivorship,
    * dedup_cluster_size_histogram) — recomputing the pair join + the
    * iterative CC loop per consumer tripled the most GC-expensive
    * work on the board. min-label CC is deterministic, so the
    * artifact is layout-independent.
    */
  private[ops] def nearDupClusters(spark: SparkSession, sfDir: String): DataFrame = {
    val path = ScaleTechniques.materializeOnce(
      s"neardup_cc_${ScaleTechniques.datasetKey(sfDir)}") { tmp =>
      connectedComponents(spark,
        LlmOps.dedupNearJaccard(spark, sfDir)
          .select(col("id_a"), col("id_b")))
        .write.parquet(tmp)
    }
    spark.read.parquet(path)
  }

  /** Connected components over an (id_a, id_b) edge frame. Each round
    * combines neighbor-min propagation with POINTER JUMPING (also take
    * the label of your label), so rounds scale with log(diameter), not
    * diameter — a 25-round cap then covers any component a dedup
    * pipeline could meet (2^25 hops), where plain propagation would
    * silently truncate long path-shaped components.
    *
    * The rounds are co-partitioned RDD message rounds ([[GraphRounds]],
    * which says why not DataFrames). Propagation is one round, whose
    * messages also carry each node's previous label, so convergence
    * detection costs no extra join. Pointer jumping is one keyed
    * lookup on the adjacency's partitioner: each node asks the
    * partition that holds its label for that label's label, and the
    * answers come back to its own partition. Per round: the
    * propagation shuffle, the two lookup shuffles and one count.
    */
  private[graft] def connectedComponents(spark: SparkSession, edges: DataFrame): DataFrame = {
    import spark.implicits._
    val adj = GraphRounds.adjacency(edges.select($"id_a", $"id_b")
      .unionAll(edges.select($"id_b", $"id_a")))
    val part = adj.partitioner.get
    // (label, previous label): the previous label rides through the
    // min-merge, neighbours contributing Long.MinValue
    def propagate(labels: RDD[(Long, Long)]): RDD[(Long, (Long, Long))] =
      GraphRounds.round(adj, labels) { (node, nbrs, lbl) =>
        Iterator((node, (lbl, lbl))) ++ nbrs.iterator.map((_, (lbl, Long.MinValue)))
      } { case ((a, p), (b, q)) => (math.min(a, b), math.max(p, q)) }
    // initialization IS the first propagation round: label = min(self,
    // neighbors) straight off the edge list — one round fewer in the loop
    var labels = propagate(adj.mapPartitions(_.map { case (node, _) => (node, node) },
      preservesPartitioning = true)).mapValues(_._1)
    var changed = 1L
    var iter = 0
    while (changed > 0 && iter < 25) {
      val propagated = propagate(labels)
      // pointer jumping: lbl := min(lbl, lbl(lbl)), lbl(lbl) read from
      // this round's propagated labels
      val asks = propagated.map { case (node, (lbl, prev)) => (lbl, (node, prev)) }
        .partitionBy(part)
      val next = asks.zipPartitions(propagated) { (qs, ls) =>
        val lblOf = ls.map { case (node, (lbl, _)) => (node, lbl) }.toMap
        qs.map { case (lbl, (node, prev)) =>
          (node, (math.min(lbl, lblOf.getOrElse(lbl, lbl)), prev))
        }
      }.partitionBy(part)
      changed = next.filter { case (_, (lbl, prev)) => lbl < prev }.count()
      labels = next.mapValues(_._1)
      iter += 1
    }
    labels.toDF("id", "lbl")
      .withColumn("n_members",
        count(lit(1)).over(Window.partitionBy($"lbl")))
      .select($"id".as("doc_id"), $"lbl".as("cluster_id"), $"n_members")
      .orderBy($"cluster_id", $"doc_id")
  }

  /** Linear-regression aggregates (regr_slope / intercept / r2 /
    * count): declarative moment-based aggregates, partial+final like
    * any sum — the scalable way to fit per-group trend lines. ROUND
    * 4dp absorbs engine-side accumulation-order noise (same protocol
    * as agg_stats).
    */
  def aggRegr(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    lineitem(spark, sfDir)
      .groupBy($"l_returnflag")
      .agg(
        count(lit(1)).as("n"),
        round(regr_slope($"l_extendedprice", $"l_quantity"), 4).as("slope"),
        round(regr_intercept($"l_extendedprice", $"l_quantity"), 4).as("intercept"),
        round(regr_r2($"l_extendedprice", $"l_quantity"), 4).as("r2"))
      .orderBy($"l_returnflag")
  }

  /** Salted JOIN for skewed keys: the fact side carries a salt
    * (pmod(event_id, 16)); the dimension side is replicated across all
    * 16 salts, so a hot join key's rows spread over 16 reducers
    * instead of one. The merge hint keeps the join a shuffle join at
    * any dimension size — this is the manual fallback when AQE's
    * runtime skew split can't apply (e.g. the skew is in a
    * sort-aggregate upstream). Results are identical to the unsalted
    * join, which is exactly what the oracle checks.
    */
  def skewSaltedJoin(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val nSalts = 16
    val dim = Seq(
      ("click", "engagement"), ("view", "engagement"),
      ("purchase", "revenue"), ("signup", "growth"), ("error", "ops"))
      .toDF("event_type", "category")
      .withColumn("salt", explode(array((0 until nSalts).map(lit): _*)))
    val fact = events(spark, sfDir)
      .select($"event_type".as("et"), $"value",
        pmod($"event_id", lit(nSalts)).cast(IntegerType).as("salt"))
    fact.hint("merge")
      .join(dim, $"et" === $"event_type" && fact("salt") === dim("salt"))
      .groupBy($"category")
      .agg(count(lit(1)).as("n_events"),
        sum(money($"value")).cast(DoubleType).as("total_value"))
      .orderBy($"category")
  }

  /** Mergeable Count-Min frequency sketch: one fixed-size (eps=0.001,
    * conf=0.99) sketch aggregated over the whole events stream, then
    * probed for each event type. Like the HLL op this is the 100 TB
    * frequency-profile pattern — partial sketches merge associatively,
    * so the global heavy-hitter table costs one tiny shuffle. The
    * per-type probe deserializes the single final sketch driver-side
    * (bytes, not data). No oracle (sketch layout engine-specific);
    * AggregatesSpec bounds estimates against exact counts.
    */
  def aggCountMinSketch(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val types = Seq("click", "error", "purchase", "signup", "view")
    val skBytes = events(spark, sfDir)
      .agg(count_min_sketch($"event_type", lit(0.001), lit(0.99), lit(42))
        .as("sk"))
      .head().getAs[Array[Byte]](0)
    val cms = org.apache.spark.util.sketch.CountMinSketch.readFrom(
      new java.io.ByteArrayInputStream(skBytes))
    spark.createDataFrame(
      types.map(t => (t, cms.estimateCount(t))))
      .toDF("event_type", "n_events_est")
      .orderBy($"event_type")
  }

  /** Generator surface over temporal sequences: per customer, the
    * calendar months spanned by their order history (sequence +
    * explode — the "fill the date axis" pattern behind gap analysis).
    */
  def fnGenerateSeries(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    orders(spark, sfDir)
      .filter($"o_custkey" < 50)
      .groupBy($"o_custkey")
      .agg(min($"o_orderdate").as("first_o"), max($"o_orderdate").as("last_o"))
      .select($"o_custkey",
        explode(expr(
          "sequence(CAST(date_trunc('month', first_o) AS DATE), CAST(date_trunc('month', last_o) AS DATE), INTERVAL 1 MONTH)"))
          .as("month"))
      .orderBy($"o_custkey", $"month")
  }

  /** Boolean aggregates (every / bool_or / count_if) over per-order
    * predicates — the SQL surface for "all/any rows satisfy".
    */
  def aggBool(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    orders(spark, sfDir)
      .groupBy($"o_orderstatus")
      .agg(
        every($"o_totalprice" > 1000.0).as("all_over_1k"),
        bool_or($"o_orderpriority" === "1-URGENT").as("any_urgent"),
        count_if($"o_totalprice" > 100000.0).as("n_over_100k"))
      .orderBy($"o_orderstatus")
  }

  /** IN-subquery surface (Catalyst rewrites to a left-semi join —
    * semantically the EXISTS twin, syntactically the IN path).
    */
  def sqlInSubquery(spark: SparkSession, sfDir: String): DataFrame = {
    orders(spark, sfDir).createOrReplaceTempView("g3_orders")
    customer(spark, sfDir).createOrReplaceTempView("g3_customer")
    spark.sql("""
      SELECT o_orderstatus, count(*) AS n
      FROM g3_orders
      WHERE o_custkey IN (SELECT c_custkey FROM g3_customer
                          WHERE c_mktsegment = 'BUILDING')
      GROUP BY o_orderstatus ORDER BY o_orderstatus
    """)
  }

  /** Trigonometric / transcendental scalar surface, 6dp-rounded on a
    * bounded slice (libm implementations agree well past 1e-12; the
    * rounding absorbs last-ulp differences).
    */
  def fnTrig(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    orders(spark, sfDir)
      .filter($"o_orderkey" < 4000)
      .select($"o_orderkey",
        round(sin($"o_totalprice" / 1000.0), 6).as("sin_v"),
        round(cos($"o_totalprice" / 1000.0), 6).as("cos_v"),
        round(atan2($"o_totalprice", $"o_custkey" + lit(1)), 6).as("atan2_v"),
        round(degrees(atan($"o_custkey" / 100.0)), 6).as("deg_atan"),
        round(exp($"o_custkey" / lit(-1000.0)), 6).as("exp_v"))
      .orderBy($"o_orderkey")
  }

  /** Mergeable HLL sketches (Apache DataSketches via Spark 4's
    * hll_sketch_agg / hll_union_agg): per-type distinct-user estimates
    * whose SKETCHES — not raw values — merge into the global estimate.
    * This is the 100 TB cardinality pattern: partial sketches combine
    * associatively across any partitioning, so the global count costs
    * one tiny shuffle of fixed-size buffers. No oracle (sketch binary
    * is engine-specific); AggregatesSpec bounds both levels against
    * exact distinct counts.
    */
  def aggHllSketch(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val perType = events(spark, sfDir)
      .groupBy($"event_type")
      .agg(hll_sketch_agg($"user_id", lit(12)).as("sk"))
    val all = perType
      .agg(hll_union_agg($"sk").as("sk"))
      .select(lit("ALL").as("event_type"), $"sk")
    perType.select($"event_type", $"sk")
      .unionAll(all)
      .select($"event_type", hll_sketch_estimate($"sk").as("n_users_est"))
      .orderBy($"event_type")
  }
}
