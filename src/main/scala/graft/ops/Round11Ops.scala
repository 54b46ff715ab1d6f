package graft.ops

import graft.Tables._
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Round-11 widening, part 1: graph link prediction (Adamic-Adar),
  * bipartite projection, fixed-round k-core peeling, SQL-expressible
  * ML evaluation metrics (rank-based AUC, confusion metrics,
  * chi-square independence), lagged cross-correlation and peak
  * detection over the hourly event series, exact log-sum products,
  * and prefix-blocked exact dedup.
  *
  * Float-determinism protocol throughout: any sum whose addend is a
  * genuine double (1/ln(deg), ln(1+x), p·ln p) is rounded to 9dp and
  * accumulated as DECIMAL(13,9) — exact, order-independent — then
  * cast to DOUBLE once at the end (the text_char_entropy pattern).
  * Correlation/AUC/χ² are computed from exact INTEGER sums combined
  * in one identical double expression on both engines.
  */
object Round11Ops {

  /** Adamic-Adar link prediction over the k-NN-thinned co-supply
    * graph: for every node pair (x<y) sharing ≥1 neighbour,
    * AA = Σ_z 1/ln(deg(z)) over common neighbours z, flagged with
    * whether the pair is already an edge. deg(z) ≥ 2 whenever z is a
    * common neighbour of two distinct nodes, so ln(deg) > 0 always.
    * The graph is degree-bounded by construction (top-3 thinning), so
    * the wedge join fans out ≤ deg² per node — linear in nodes, never
    * quadratic in the corpus.
    */
  def graphAdamicAdar(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val und = Round10Ops4.thinnedGraph(spark, sfDir)
    val adj = und.select($"u".as("a"), $"v".as("b"))
      .union(und.select($"v".as("a"), $"u".as("b")))
    val deg = adj.groupBy($"a".as("node")).agg(count(lit(1)).as("deg"))
    val wedges = adj.select($"b".as("z"), $"a".as("x"))
      .join(adj.select($"b".as("z2"), $"a".as("y")),
        $"z" === $"z2" && $"x" < $"y")
    // floor-quantize each 1/ln(deg) term to integer nanos: ln, divide,
    // multiply, floor are the same IEEE ops on both engines (round()
    // half-up at 9dp is NOT — it straddles half-ulp boundaries), and
    // the BIGINT sum is exact and order-free
    val scored = wedges.join(deg, $"z" === $"node")
      .groupBy($"x", $"y")
      .agg(count(lit(1)).as("n_common"),
        sum(floor(lit(1.0e9) / log($"deg".cast(DoubleType)))
          .cast(LongType)).as("s"))
    scored
      .join(und, scored("x") === und("u") && scored("y") === und("v"), "left")
      // no final round(): the nano sum is an exact integer, so the
      // single division is the identical double on both engines —
      // round(x, 6) would reintroduce half-boundary disagreement
      .select($"x".as("node_a"), $"y".as("node_b"), $"n_common",
        ($"s".cast(DoubleType) / 1.0e9).as("aa_score"),
        $"u".isNotNull.as("is_edge"))
      .orderBy($"aa_score".desc, $"node_a", $"node_b")
  }

  /** Bipartite projection of the (supplier, brand) incidence onto
    * brands: brand pairs with the number of suppliers stocking both.
    * The projected side is the 25-brand dimension, so the output is
    * ≤ C(25,2) rows at ANY corpus size — projecting onto the bounded
    * side is what keeps a bipartite projection feasible at 100 TB
    * (the supplier-side projection would be O(|S|²)).
    *
    * Round 16: the DISTINCT + supplier-keyed self-join became the
    * collect_set co-occurrence shape (the analytic_basket_lift
    * rewrite): one supplier-keyed aggregate builds each supplier's
    * sorted brand set and the in-set pairs are generated inline —
    * no corpus-sized sort or join remains. Byte-identical output.
    */
  def graphBipartiteProject(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    lineitem(spark, sfDir)
      .join(part(spark, sfDir), $"l_partkey" === $"p_partkey")
      .groupBy($"l_suppkey")
      .agg(array_sort(collect_set($"p_brand")).as("bs"))
      .select(explode(expr(
        "flatten(transform(bs, (x, i) -> " +
          "transform(slice(bs, i + 2, size(bs)), y -> struct(x AS a, y AS b))))"
      )).as("p"))
      .groupBy($"p.a".as("brand_a"), $"p.b".as("brand_b"))
      .agg(count(lit(1)).as("n_shared"))
      .orderBy($"brand_a", $"brand_b")
  }

  /** 2-core peeling, fixed 4 synchronous rounds, over the thinned
    * co-supply graph: each round drops nodes with degree < 2 and the
    * edges touching them. Four rounds is a documented bound, not a
    * fixpoint claim — the oracle unrolls the identical 4 rounds.
    *
    * The rounds are co-partitioned RDD message rounds ([[GraphRounds]],
    * which says why not DataFrames) over a shrinking set of live
    * nodes: each live node tells itself it is alive and each neighbour
    * that it is live, and a node stays alive while it has at least 2
    * live neighbours. A fifth round counts the live neighbours of the
    * survivors, their degree in the peeled edge list. One shuffle per
    * round.
    */
  def graphKcorePeel(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val und = Round10Ops4.thinnedGraph(spark, sfDir)
    val adj = GraphRounds.adjacency(
      und.select($"u", $"v").union(und.select($"v", $"u")))
    // live node -> its number of live neighbours
    def liveDegrees(alive: RDD[(Long, Long)]): RDD[(Long, Long)] =
      GraphRounds.round(adj, alive) { (node, nbrs, _) =>
        Iterator((node, (true, 0L))) ++ nbrs.iterator.map((_, (false, 1L)))
      } { case ((a, m), (b, n)) => (a || b, m + n) }
        .filter(_._2._1).mapValues(_._2)
    var alive = adj.mapValues(_.length.toLong)
    for (_ <- 1 to 4) alive = liveDegrees(alive).filter(_._2 >= 2)
    liveDegrees(alive).filter(_._2 >= 1).toDF("node", "degree")
      .orderBy($"node")
  }

  /** Rank-formula ROC-AUC of the quantized score element_at(emb, 2)
    * (2dp) against the binary target label ≥ 5 — the Mann-Whitney U
    * construction over the per-score histogram: group once by score
    * (exact n_pos/n_neg integers), then
    * AUC = Σ_s np(s)·(negs_below(s) + nn(s)/2) / (NP·NN).
    * Quantizing to 2dp bounds the distinct-score table (≤ a few
    * hundred rows at any corpus size); the cumulative negatives-below
    * prefix is a single exact-BIGINT `aggregate` fold over the sorted
    * histogram array — the window-free shape the board sweep requires
    * (an unpartitioned Window would funnel rows through one task; the
    * fold touches only the bounded histogram). The heavy pass — the
    * per-score partial aggregation — is fully distributed; one double
    * division at the end, identical to the oracle's.
    */
  def mlAucRank(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val s = embeddings(spark, sfDir).select(
      round(element_at($"embedding", 2).cast(DoubleType), 2).as("score"),
      when($"label" >= 5, 1L).otherwise(0L).as("pos"))
    val g = s.groupBy($"score")
      .agg(sum($"pos").as("np"), sum(lit(1L) - $"pos").as("nn"))
    g.agg(
        sort_array(collect_list(struct($"score", $"np", $"nn"))).as("h"),
        sum($"np").as("n_pos"), sum($"nn").as("n_neg"))
      // fold carries (cum = negs strictly below, s1 = Σ np·cum,
      // s2 = Σ np·nn) — all exact BIGINTs, so the final expression is
      // the same two-term double division as the oracle's window form
      .withColumn("f", expr(
        """aggregate(h,
             named_struct('cum', CAST(0 AS BIGINT), 's1', CAST(0 AS BIGINT),
                          's2', CAST(0 AS BIGINT)),
             (acc, x) -> named_struct(
               'cum', acc.cum + x.nn,
               's1',  acc.s1 + x.np * acc.cum,
               's2',  acc.s2 + x.np * x.nn),
             acc -> acc)"""))
      .select(
        round((($"f.s1".cast(DoubleType) + $"f.s2".cast(DoubleType) / 2.0)
          / ($"n_pos" * $"n_neg").cast(DoubleType)), 6).as("auc"),
        $"n_pos", $"n_neg")
  }

  /** Confusion matrix + derived metrics for the fixed rule classifier
    * pred := element_at(emb, 2) > 0 against target label ≥ 5. Counts
    * are exact; accuracy/precision/recall are single double
    * divisions; F1 uses the one-expression form 2tp/(2tp+fp+fn) so
    * both engines evaluate the identical float sequence.
    */
  def mlConfusionMetrics(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    embeddings(spark, sfDir)
      .select((element_at($"embedding", 2) > 0f).as("pred"),
        ($"label" >= 5).as("act"))
      .agg(
        count(when($"pred" && $"act", 1)).as("tp"),
        count(when($"pred" && !$"act", 1)).as("fp"),
        count(when(!$"pred" && $"act", 1)).as("fn"),
        count(when(!$"pred" && !$"act", 1)).as("tn"))
      .select($"tp", $"fp", $"fn", $"tn",
        round(($"tp" + $"tn").cast(DoubleType) /
          ($"tp" + $"fp" + $"fn" + $"tn").cast(DoubleType), 6).as("accuracy"),
        round($"tp".cast(DoubleType) / ($"tp" + $"fp").cast(DoubleType), 6)
          .as("precision_pos"),
        round($"tp".cast(DoubleType) / ($"tp" + $"fn").cast(DoubleType), 6)
          .as("recall_pos"),
        round(lit(2.0) * $"tp".cast(DoubleType) /
          (lit(2.0) * $"tp" + $"fp" + $"fn").cast(DoubleType), 6).as("f1"))
  }

  /** Pearson chi-square test of independence for the
    * o_orderpriority × o_orderstatus contingency table: observed
    * counts, expected = row·col/n, χ² = Σ (obs-exp)²/exp over the 15
    * cells. Cell contributions are doubles → rounded 9dp and
    * decimal-summed (order-independent); dof from the observed
    * distinct level counts. The contingency table is bounded by the
    * category domains, so everything after the first groupBy is
    * constant-size.
    */
  def mlChiSquare(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val obs = orders(spark, sfDir)
      .groupBy($"o_orderpriority".as("p"), $"o_orderstatus".as("st"))
      .agg(count(lit(1)).as("o"))
    val rt = obs.groupBy($"p").agg(sum($"o").as("rtot"))
    val ct = obs.groupBy($"st").agg(sum($"o").as("ctot"))
    val n = obs.agg(sum($"o").as("n"))
    obs.join(rt, "p").join(ct, "st").crossJoin(broadcast(n))
      .withColumn("exp",
        ($"rtot" * $"ctot").cast(DoubleType) / $"n".cast(DoubleType))
      .withColumn("contrib",
        (($"o".cast(DoubleType) - $"exp") * ($"o".cast(DoubleType) - $"exp")
          / $"exp").cast(DoubleType))
      .agg(
        sum(round($"contrib", 9).cast(DecimalType(13, 9))).as("s"),
        countDistinct($"p").as("npr"), countDistinct($"st").as("nst"),
        max($"n").as("n"))
      .select(round($"s".cast(DoubleType), 6).as("chi2"),
        (($"npr" - 1) * ($"nst" - 1)).as("dof"), $"n")
  }

  /** Lagged cross-correlation between the hourly click and purchase
    * count series, lags −3…+3 hours. Correlation is computed from
    * exact integer sums (n, Σx, Σy, Σxy, Σx², Σy² — counts, so no
    * float accumulation at all) combined in one identical double
    * expression: the distributed-determinism form of corr(). Hours
    * where either series is absent are excluded (inner join on the
    * shifted hour key).
    */
  def tsCrossCorrelation(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val hb = events(spark, sfDir)
      .filter($"event_type".isin("click", "purchase"))
      .withColumn("hb",
        expr("unix_micros(CAST(ts AS TIMESTAMP)) DIV 3600000000"))
      .groupBy($"hb", $"event_type").agg(count(lit(1)).as("c"))
    val clicks = hb.filter($"event_type" === "click")
      .select($"hb".as("h"), $"c".as("x"))
    val buys = hb.filter($"event_type" === "purchase")
      .select($"hb".as("h2"), $"c".as("y"))
    clicks
      .withColumn("lag", explode(sequence(lit(-3), lit(3))))
      .join(buys, $"h2" === $"h" + $"lag")
      .groupBy($"lag")
      .agg(count(lit(1)).as("n"),
        sum($"x").as("sx"), sum($"y").as("sy"),
        sum($"x" * $"y").as("sxy"),
        sum($"x" * $"x").as("sxx"), sum($"y" * $"y").as("syy"))
      .select($"lag".cast(IntegerType).as("lag"),
        $"n".as("n_hours"),
        round(($"n" * $"sxy" - $"sx" * $"sy").cast(DoubleType) /
          (sqrt(($"n" * $"sxx" - $"sx" * $"sx").cast(DoubleType)) *
           sqrt(($"n" * $"syy" - $"sy" * $"sy").cast(DoubleType))), 6)
          .as("xcorr"))
      .orderBy($"lag")
  }

  /** Local maxima of the hourly per-type revenue series: an hour is a
    * peak iff its exact decimal value sum strictly exceeds both
    * neighbouring hours' (partition-interior only — boundary hours
    * have no two-sided evidence). Comparisons happen on exact
    * decimals; the double cast is only for output. The per-type hour
    * grid is calendar-bounded, so the window partitions stay small at
    * any corpus size.
    */
  def tsPeakDetect(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val h = events(spark, sfDir)
      .groupBy(date_trunc("hour", $"ts").as("hr"), $"event_type")
      .agg(sum(money($"value")).as("sv"))
    val w = Window.partitionBy($"event_type").orderBy($"hr")
    h.withColumn("pv", lag($"sv", 1).over(w))
      .withColumn("nv", lead($"sv", 1).over(w))
      .filter($"pv".isNotNull && $"nv".isNotNull &&
        $"sv" > $"pv" && $"sv" > $"nv")
      .select($"event_type", $"hr", $"sv".cast(DoubleType).as("v"))
      .orderBy($"event_type", $"hr")
  }

  /** Per-type product of (1 + value/1000) in log space: ln terms
    * rounded 9dp and decimal-summed (exact, order-free), exposed as
    * the log-sum and the geometric mean exp(Σ/n) — the numerically
    * sane way to report a product of thousands of factors (the raw
    * product overflows a double beyond ~10⁵ rows). value ≥ 0.01 in
    * this data, so 1+v/1000 > 1 and ln is always defined.
    */
  def aggProductLogsum(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    events(spark, sfDir)
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n"),
        sum(round(log(lit(1.0) + $"value" / 1000.0), 9)
          .cast(DecimalType(13, 9))).as("ls"))
      .select($"event_type", $"n",
        round($"ls".cast(DoubleType), 6).as("log_sum"),
        round(exp($"ls".cast(DoubleType) / $"n".cast(DoubleType)), 6)
          .as("geomean"))
      .orderBy($"event_type")
  }

  /** Prefix-blocked exact dedup: documents sharing their first 16
    * characters form a cluster; emit clusters of ≥2 with the min
    * doc_id as survivor. One hash aggregation on a short key — the
    * cheap first pass a production dedup pipeline runs before any
    * pairwise similarity work.
    */
  def dedupPrefixCluster(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    documents(spark, sfDir)
      .groupBy(substring($"text", 1, 16).as("prefix"))
      .agg(count(lit(1)).as("n_docs"), min($"doc_id").as("canonical_id"))
      .filter($"n_docs" >= 2)
      .orderBy($"prefix")
  }
}
