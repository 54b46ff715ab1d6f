package graft.ops

import graft.Tables._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Round-13 widening, part 12: deterministic random-walk sampling on
  * the co-supply graph, exact linear-SHAP attribution from the ridge
  * sufficient statistics, and a multi-character-delimiter CSV
  * round-trip.
  */
object Round13Ops12 {

  /** DeepWalk-style neighbor sampling made deterministic: every node
    * starts one 3-step walk, and each step picks the neighbor
    * minimizing an explicit integer mix h = ((s·1000003 + t)·31 +
    * u·17 + v) mod 1e9+7 — a seeded PRNG both engines can evaluate
    * bit-identically, unlike engine hash builtins. Each step is one
    * keyed join + per-walk argmin (window PARTITIONED by the walk
    * id); the output is the end-node visit histogram an embedding
    * sampler feeds downstream. Three steps = three passes, never a
    * driver loop.
    */
  def graphRandomWalkVisits(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val und = Round10Ops4.thinnedGraph(spark, sfDir)
    val adj = und.select($"u".as("a"), $"v".as("b"))
      .unionAll(und.select($"v".as("a"), $"u".as("b")))
    var cur = adj.select($"a".as("s")).distinct().withColumn("u", $"s")
    for (t <- 1 to 3) {
      val w = Window.partitionBy($"s").orderBy($"h", $"b")
      cur = cur.join(adj, $"u" === $"a")
        .withColumn("h", (($"s" * 1000003L + lit(t.toLong)) * 31L +
          $"u" * 17L + $"b") % 1000000007L)
        .withColumn("rn", row_number().over(w))
        .filter($"rn" === 1)
        .select($"s", $"b".as("u"))
    }
    cur.groupBy($"u".as("node"))
      .agg(count(lit(1)).as("n_walks_ending"))
      .orderBy($"node")
  }

  /** Exact SHAP attribution for the linear ridge model: for a linear
    * f, the Shapley value of feature i is w_i·(x_i − E[x_i]) in
    * closed form — no sampling, no approximation. Weights and feature
    * means come from the SAME nine sufficient statistics as
    * ml_ridge_closed_form (frozen at 6 dp), broadcast to the 10
    * highest-revenue orders; contributions and prediction freeze at
    * 4 dp. The additivity identity pred = base + φ₁ + φ₂ is pinned in
    * Round13Spec12.
    */
  def mlLinearShapExact(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val per = lineitem(spark, sfDir)
      .groupBy($"l_orderkey")
      .agg(count(lit(1)).as("x1"),
        sum($"l_quantity".cast(IntegerType)).as("x2"),
        sum((money($"l_extendedprice") * 100).cast(LongType)).as("y"))
    val p = per.agg(count(lit(1)).as("n"),
      sum($"x1").as("sx1"), sum($"x2").as("sx2"), sum($"y").as("sy"),
      sum($"x1" * $"x1").as("s11"), sum($"x1" * $"x2").as("s12"),
      sum($"x2" * $"x2").as("s22"),
      sum($"x1" * $"y").as("s1y"), sum($"x2" * $"y").as("s2y"))
    val nD = $"n".cast(DoubleType)
    val lam = lit(1000.0)
    val a = $"s11".cast(DoubleType) -
      $"sx1".cast(DoubleType) * $"sx1".cast(DoubleType) / nD + lam
    val b = $"s12".cast(DoubleType) -
      $"sx1".cast(DoubleType) * $"sx2".cast(DoubleType) / nD
    val c = $"s22".cast(DoubleType) -
      $"sx2".cast(DoubleType) * $"sx2".cast(DoubleType) / nD + lam
    val d = $"s1y".cast(DoubleType) -
      $"sx1".cast(DoubleType) * $"sy".cast(DoubleType) / nD
    val e = $"s2y".cast(DoubleType) -
      $"sx2".cast(DoubleType) * $"sy".cast(DoubleType) / nD
    val det = a * c - b * b
    val model = p
      .withColumn("w1", round((c * d - b * e) / det, 6))
      .withColumn("w2", round((a * e - b * d) / det, 6))
      .withColumn("b0", round(($"sy".cast(DoubleType) -
        $"w1" * $"sx1" - $"w2" * $"sx2") / nD, 4))
      .withColumn("m1", round($"sx1".cast(DoubleType) / nD, 6))
      .withColumn("m2", round($"sx2".cast(DoubleType) / nD, 6))
      .select($"w1", $"w2", $"b0", $"m1", $"m2")
    per.orderBy($"y".desc, $"l_orderkey").limit(10)
      .crossJoin(broadcast(model))
      .select($"l_orderkey", $"x1", $"x2", $"y",
        round($"w1" * ($"x1" - $"m1"), 4).as("phi_lines"),
        round($"w2" * ($"x2" - $"m2"), 4).as("phi_qty"),
        round($"b0" + $"w1" * $"m1" + $"w2" * $"m2", 4).as("base_value"),
        round($"b0" + $"w1" * $"x1" + $"w2" * $"x2", 4).as("prediction"))
      .orderBy($"y".desc, $"l_orderkey")
  }

  /** CSV round-trip with a multi-character delimiter ("||") — the
    * export format half the ad-hoc feeds in the wild actually use;
    * Spark reads/writes it natively since 3.x. Content equality is
    * the check (the oracle aggregates the source), the written files
    * go to the op's run directory ([[graft.Tables.runDir]]).
    */
  def sourceCsvMulticharDelim(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val dir = runDir("r13_csvmc", sfDir)
    events(spark, sfDir)
      .select($"event_id", $"event_type",
        (money($"value") * 100).cast(LongType).as("cents"))
      .write.mode("overwrite").option("sep", "||").option("header", "true")
      .csv(dir)
    val schema = StructType(Seq(
      StructField("event_id", LongType), StructField("event_type", StringType),
      StructField("cents", LongType)))
    spark.read.schema(schema).option("sep", "||").option("header", "true")
      .csv(dir)
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n"), sum($"cents").as("sum_cents"),
        min($"event_id").as("min_id"), max($"event_id").as("max_id"))
      .orderBy($"event_type")
  }
}
