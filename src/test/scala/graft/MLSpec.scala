package graft

import graft.ops.ML
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** §2i verification: oracle-less ML ops get metric floors + fixed-seed
  * determinism checks (SURVEY §5).
  */
class MLSpec extends AnyFunSuite with SparkFixture with BeforeAndAfterAll {

  /** This suite's saved models, in a directory of its own. */
  private lazy val tmp = java.nio.file.Files.createTempDirectory("graft_ml").toString

  override def afterAll(): Unit =
    try org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmp))
    finally super.afterAll()

  // Measured fact (2026-08-12): the synthetic embeddings carry NO label
  // signal — 1-NN cosine scores 0.07 vs the 0.1 random baseline, so no
  // classifier can beat random on the real labels. The pipeline's
  // ability to learn is therefore proven on a derived target with true
  // signal (sign of dimension 0); the real-label run just asserts
  // evaluator consistency.
  test("rf accuracy metric is consistent with per-class counts") {
    import spark.implicits._
    val df = ML.mlRfAccuracy(spark, sf)
    val acc = df.select($"accuracy_overall").as[Double].head()
    val (hits, tot) = df.agg(sum($"n_correct"), sum($"n_test"))
      .as[(Long, Long)].head()
    assert(math.abs(acc - hits.toDouble / tot) < 1e-3)
  }

  test("rf learns a real signal: sign-of-dim0 target reaches high accuracy") {
    import spark.implicits._
    import org.apache.spark.ml.classification.RandomForestClassifier
    val base = ML.mlRfTrainPredictInput(spark, sf)
      .withColumn("label2", (element_at($"embedding", 1) > 0f).cast("int"))
    val model = new RandomForestClassifier()
      .setLabelCol("label2").setFeaturesCol("features")
      .setNumTrees(30).setMaxDepth(6).setSeed(42L)
      .fit(base.filter($"split" === "train"))
    // copy() drops the trainingSummary (it holds a SparkSession ref,
    // which must not ride inside the transform's task closure)
    val pred = model.copy(org.apache.spark.ml.param.ParamMap.empty)
      .transform(base.filter($"split" === "test"))
    val acc = pred.filter($"prediction" === $"label2").count().toDouble /
      pred.count()
    assert(acc > 0.85, s"derived-signal accuracy $acc should be high")
  }

  test("rf predictions are deterministic across runs (fixed seed + fixed split)") {
    val a = ML.mlRfTrainPredict(spark, sf).collect().toSeq
    val b = ML.mlRfTrainPredict(spark, sf).collect().toSeq
    assert(a === b)
  }

  test("per-class counts cover the test split exactly") {
    import spark.implicits._
    val nTest = ML.mlTrainTestSplit(spark, sf)
      .filter($"split" === "test").count()
    val summed = ML.mlRfAccuracy(spark, sf)
      .agg(sum($"n_test")).as[Long].head()
    assert(summed === nTest)
  }

  test("feature importances: top-10, non-negative, sum <= 1") {
    import spark.implicits._
    val imp = ML.mlRfFeatureImportance(spark, sf)
      .select($"importance").as[Double].collect()
    assert(imp.length === 10)
    assert(imp.forall(_ >= 0))
    assert(imp.sum <= 1.0 + 1e-6)
  }

  test("model persistence round trip: saved forest predicts identically") {
    import org.apache.spark.ml.classification.{RandomForestClassificationModel, RandomForestClassifier}
    import org.apache.spark.sql.functions.col
    // the reference serialized forests to HDFS between its train and
    // score jobs; the Spark equivalent is parquet-backed ML persistence
    val base = ML.mlRfTrainPredictInput(spark, sf)
    val model = new RandomForestClassifier()
      .setLabelCol("label").setFeaturesCol("features")
      .setNumTrees(10).setMaxDepth(4).setSeed(42L)
      .fit(base.filter(col("split") === "train"))
    val path = s"$tmp/graft_rf_model"
    model.write.overwrite().save(path)
    val loaded = RandomForestClassificationModel.load(path)
    val test = base.filter(col("split") === "test")
    val a = model.transform(test).select("vec_id", "prediction").collect().toSeq
    val b = loaded.transform(test).select("vec_id", "prediction").collect().toSeq
    assert(a === b)
  }

  test("ml_rf_save_load op: reloaded-model predictions are identical to in-memory") {
    import spark.implicits._
    val inMem = ML.mlRfTrainPredict(spark, sf)
      .as[(Long, Int, Int)].collect().toSeq
    val reloaded = ML.mlRfSaveLoad(spark, sf)
      .as[(Long, Int, Int)].collect().toSeq
    assert(reloaded === inMem,
      "scoring with the serialized+reloaded forest must reproduce the " +
        "in-memory model's predictions row for row")
    assert(reloaded.nonEmpty)
  }

  test("rf regression produces finite predictions on the test split") {
    import spark.implicits._
    val pred = ML.mlRfRegression(spark, sf)
    assert(pred.count() > 0)
    assert(pred.filter($"prediction".isNull || isnan($"prediction")).count() === 0)
  }

  test("decision tree predictions are deterministic and cover the test split") {
    import spark.implicits._
    val a = ML.mlDtTrainPredict(spark, sf).collect().toSeq
    val b = ML.mlDtTrainPredict(spark, sf).collect().toSeq
    assert(a === b)
    val nTest = ML.mlRfTrainPredictInput(spark, sf)
      .filter($"split" === "test").count()
    assert(a.size.toLong === nTest)
  }

  test("gbt: deterministic binary predictions covering the test split") {
    import spark.implicits._
    val a = ML.mlGbtTrainPredict(spark, sf).collect().toSeq
    val b = ML.mlGbtTrainPredict(spark, sf).collect().toSeq
    assert(a === b, "fixed seed + fixed split must reproduce exactly")
    val nTest = ML.mlRfTrainPredictInput(spark, sf)
      .filter($"split" === "test").count()
    assert(a.size.toLong === nTest)
    val preds = ML.mlGbtTrainPredict(spark, sf)
      .select($"prediction").as[Int].collect().toSet
    assert(preds.subsetOf(Set(0, 1)), s"binary GBT must predict {0,1}: $preds")
  }

  test("logreg: deterministic multinomial predictions covering the test split") {
    import spark.implicits._
    val a = ML.mlLogregTrainPredict(spark, sf).collect().toSeq
    val b = ML.mlLogregTrainPredict(spark, sf).collect().toSeq
    assert(a === b, "fixed partitioning + capped L-BFGS must reproduce exactly")
    val nTest = ML.mlRfTrainPredictInput(spark, sf)
      .filter($"split" === "test").count()
    assert(a.size.toLong === nTest)
    // no accuracy floor: real labels carry no signal (header note) —
    // predictions just have to stay in the label domain
    val preds = ML.mlLogregTrainPredict(spark, sf)
      .select($"prediction").as[Int].collect().toSet
    assert(preds.subsetOf((0 to 9).toSet), s"multinomial domain: $preds")
  }

  test("cross-validation: one row per grid point, metrics in range, deterministic") {
    import spark.implicits._
    val rows = ML.mlCrossValidation(spark, sf)
      .as[(Int, Int, Double)].collect().toSeq
    assert(rows.map(r => (r._1, r._2)) ===
      Seq((5, 3), (5, 5), (10, 3), (10, 5)),
      "2x2 grid must yield exactly its four combinations, ordered")
    // no accuracy floor: real labels carry no signal (header note) —
    // the metric just has to be a valid mean fold accuracy
    assert(rows.forall(r => r._3 >= 0.0 && r._3 <= 1.0))
    val again = ML.mlCrossValidation(spark, sf)
      .as[(Int, Int, Double)].collect().toSeq
    assert(rows === again, "fixed seeds + fixed partitioning must reproduce")
  }

  test("cv winner is the metric grid's argmax, deterministic, and scores the full test split") {
    import spark.implicits._
    val grid = ML.mlCrossValidation(spark, sf)
      .as[(Int, Int, Double)].collect().toSeq
    val winner = ML.mlCvBestModel(spark, sf)
      .select($"num_trees", $"max_depth").distinct()
      .as[(Int, Int)].collect().toSeq
    assert(winner.size === 1, "exactly one winning hyper-parameter pair")
    // metric-level argmax (robust to tie ordering between the grid's
    // sorted output and CrossValidator's param-map order)
    val winnerMetric = grid.find(r => (r._1, r._2) === winner.head).get._3
    assert(winnerMetric === grid.map(_._3).max,
      "winner must carry the grid's maximum mean fold accuracy")
    val pred = ML.mlCvBestModel(spark, sf)
      .select($"vec_id", $"prediction").as[(Long, Int)].collect().toSeq
    val predAgain = ML.mlCvBestModel(spark, sf)
      .select($"vec_id", $"prediction").as[(Long, Int)].collect().toSeq
    assert(pred === predAgain, "winner predictions must reproduce")
    val nTest = ML.mlRfTrainPredictInput(spark, sf)
      .filter(col("split") === "test").count()
    assert(pred.size.toLong === nTest,
      "winner must score every held-out row exactly once")
  }

  test("kmeans: 8 clusters partition the dataset, sizes ordered desc") {
    import spark.implicits._
    val rows = ML.mlKmeansCluster(spark, sf)
      .select($"cluster_rank", $"n_points").as[(Int, Long)].collect().toSeq
    assert(rows.map(_._1) === (1 to rows.size))
    assert(rows.size <= 8 && rows.nonEmpty)
    val sizes = rows.map(_._2)
    assert(sizes === sizes.sorted.reverse, "sizes must be descending")
    val total = ML.mlRfTrainPredictInput(spark, sf).count()
    assert(sizes.sum === total, "clusters must cover every vector once")
  }
}
