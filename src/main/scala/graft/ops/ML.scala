package graft.ops

import graft.Tables._
import org.apache.spark.ml.classification.{DecisionTreeClassificationModel, DecisionTreeClassifier, GBTClassificationModel, GBTClassifier, LogisticRegression, LogisticRegressionModel, RandomForestClassificationModel, RandomForestClassifier}
import org.apache.spark.ml.clustering.{KMeans, KMeansModel}
import org.apache.spark.ml.evaluation.MulticlassClassificationEvaluator
import org.apache.spark.ml.linalg.Vectors
import org.apache.spark.ml.regression.{RandomForestRegressionModel, RandomForestRegressor}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._

/** ML surface (SURVEY §2i) — the reference capability (random forest
  * on a distributed runtime) re-expressed on Spark MLlib's
  * histogram-based distributed tree induction (PLANET-style: one pass
  * per tree level over the data, no per-tree data movement).
  *
  * Determinism protocol: fixed seeds, hash-free modulo train/test
  * split (vec_id % 5 — NOT randomSplit, which depends on partitioning),
  * fixed repartitioning before fit. No DuckDB oracle (not
  * SQL-expressible); metric floors asserted in MLSpec.
  */
object ML {

  private val toVec = udf((a: Seq[Float]) =>
    Vectors.dense(a.map(_.toDouble).toArray))
  private val toVecD = udf((a: Seq[Double]) => Vectors.dense(a.toArray))

  /** Test hook: the prepared embeddings frame (features + split). */
  def mlRfTrainPredictInput(spark: SparkSession, sfDir: String): DataFrame =
    prepared(spark, sfDir)

  /** embeddings with MLlib features + deterministic split. */
  private def prepared(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    embeddings(spark, sfDir)
      .withColumn("features", toVec($"embedding"))
      .withColumn("split",
        when(pmod($"vec_id", lit(5)) === 0, "test").otherwise("train"))
      // fixed partitioning => identical per-partition sampling under a
      // fixed seed, run to run
      .repartition(8, $"vec_id")
  }

  /** Bound on the per-sfDir model caches: a long-lived session cycling
    * through many data dirs must not accumulate forests without limit.
    */
  private val MaxCachedModels = 4

  /** Bounded get-or-train: evicts a single entry (never the whole map)
    * and holds the cache's monitor across check+insert, so concurrent
    * callers on different sfDirs can't wipe each other's just-trained
    * models or retrain the same key twice.
    */
  private def cachedModel[M](cache: TrieMap[String, M], key: String)(train: => M): M =
    cache.getOrElse(key, cache.synchronized {
      cache.getOrElseUpdate(key, {
        if (cache.size >= MaxCachedModels)
          cache.headOption.foreach { case (k, _) => cache.remove(k) }
        train
      })
    })

  private val clsCache = TrieMap.empty[String, RandomForestClassificationModel]

  private def classifier(spark: SparkSession, sfDir: String): RandomForestClassificationModel =
    cachedModel(clsCache, sfDir) {
      val train = prepared(spark, sfDir).filter(col("split") === "train")
      new RandomForestClassifier()
        .setLabelCol("label").setFeaturesCol("features")
        .setNumTrees(50).setMaxDepth(6).setSeed(42L)
        .fit(train)
    }

  /** Held-out predictions: (vec_id, label, prediction). */
  def mlRfTrainPredict(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val test = prepared(spark, sfDir).filter($"split" === "test")
    classifier(spark, sfDir).transform(test)
      .select($"vec_id", $"label", $"prediction".cast(IntegerType).as("prediction"))
      .orderBy($"vec_id")
  }

  /** Overall accuracy + per-class test counts/hits — ONE aggregation
    * pass over the predictions: per-class (n_test, n_correct) rows
    * (bounded by class count) cross-joined with their own 1-row global
    * rollup, so the overall accuracy Σ n_correct / Σ n_test rides the
    * plan as a broadcast — identical value to
    * MulticlassClassificationEvaluator's hits/total without its second
    * traversal of the predictions, and with no driver-side collect.
    */
  def mlRfAccuracy(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val perClass = mlRfTrainPredict(spark, sfDir)
      .groupBy($"label")
      .agg(count(lit(1)).as("n_test"),
        count(when($"prediction" === $"label", 1)).as("n_correct"))
    val overall = perClass
      .agg(sum($"n_test").as("t_test"), sum($"n_correct").as("t_correct"))
      .select(round(
        when($"t_test" === 0, 0.0)
          .otherwise($"t_correct".cast(DoubleType) / $"t_test"), 4)
        .as("accuracy_overall"))
    perClass.crossJoin(broadcast(overall))
      .select($"label", $"n_test", $"n_correct", $"accuracy_overall")
      .orderBy($"label")
  }

  /** Top-10 feature importances (stable under the fixed seed). */
  def mlRfFeatureImportance(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val imp = classifier(spark, sfDir).featureImportances.toArray
    spark.createDataFrame(imp.zipWithIndex.map { case (v, i) => (i, v) })
      .toDF("feature_idx", "importance")
      .orderBy($"importance".desc, $"feature_idx")
      .limit(10)
      .select($"feature_idx", round($"importance", 6).as("importance"))
  }

  /** Model persistence round-trip — the reference class's defining
    * train-once-score-many workflow: the forest is serialized with
    * `model.write.overwrite().save` (MLlib's parquet tree layout),
    * reloaded via `RandomForestClassificationModel.load`, and the test
    * split is scored with the RELOADED model. MLSpec asserts the
    * reloaded predictions are row-identical to the in-memory model's
    * (mlRfTrainPredict). The save path is the op's run directory
    * ([[graft.Tables.runDir]]), overwritten on every call. No oracle
    * (not SQL-expressible).
    */
  def mlRfSaveLoad(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val path = runDir("rf_model", sfDir)
    classifier(spark, sfDir).write.overwrite().save(path)
    val reloaded = RandomForestClassificationModel.load(path)
    val test = prepared(spark, sfDir).filter($"split" === "test")
    reloaded.transform(test)
      .select($"vec_id", $"label",
        $"prediction".cast(IntegerType).as("prediction"))
      .orderBy($"vec_id")
  }

  private val regCache = TrieMap.empty[String, RandomForestRegressionModel]

  /** Regression: predict events.value from time/type features. */
  def mlRfRegression(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val typeIdx = map_from_arrays(
      array(Seq("signup", "click", "error", "view", "purchase").map(lit): _*),
      array((0 until 5).map(i => lit(i.toDouble)): _*))
    val feat = events(spark, sfDir)
      .withColumn("features", toVecD(array(
        hour($"ts").cast(DoubleType),
        dayofweek($"ts").cast(DoubleType),
        element_at(typeIdx, $"event_type"),
        pmod($"user_id", lit(16)).cast(DoubleType))))
      .withColumn("split",
        when(pmod($"event_id", lit(5)) === 0, "test").otherwise("train"))
      .repartition(8, $"event_id")
    val model = cachedModel(regCache, sfDir)(
      new RandomForestRegressor()
        .setLabelCol("value").setFeaturesCol("features")
        .setNumTrees(30).setMaxDepth(6).setSeed(42L)
        .fit(feat.filter($"split" === "train")))
    model.transform(feat.filter($"split" === "test"))
      .select($"event_id", $"value", round($"prediction", 6).as("prediction"))
      .orderBy($"event_id")
  }

  private val dtCache = TrieMap.empty[String, DecisionTreeClassificationModel]

  /** Single decision tree — the reference forest's unit learner,
    * exposed standalone (depth-bounded, fully deterministic under the
    * fixed seed: tree induction has no per-tree bagging randomness).
    */
  def mlDtTrainPredict(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val model = cachedModel(dtCache, sfDir) {
      new DecisionTreeClassifier()
        .setLabelCol("label").setFeaturesCol("features")
        .setMaxDepth(6).setSeed(42L)
        .fit(prepared(spark, sfDir).filter(col("split") === "train"))
    }
    model.transform(prepared(spark, sfDir).filter($"split" === "test"))
      .select($"vec_id", $"label", $"prediction".cast(IntegerType).as("prediction"))
      .orderBy($"vec_id")
  }

  private val gbtCache = TrieMap.empty[String, GBTClassificationModel]

  /** Gradient-boosted trees — the sequential-ensemble counterpart to
    * the reference's bagged forest (GBTClassifier is binary, so the
    * target is the deterministic parity of the label). Same
    * determinism protocol: fixed seed, modulo split, fixed input
    * partitioning.
    */
  def mlGbtTrainPredict(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val input = prepared(spark, sfDir)
      .withColumn("bin_label", pmod(col("label"), lit(2)).cast(DoubleType))
    val model = cachedModel(gbtCache, sfDir) {
      new GBTClassifier()
        .setLabelCol("bin_label").setFeaturesCol("features")
        .setMaxIter(10).setMaxDepth(4).setSeed(42L)
        .fit(input.filter(col("split") === "train"))
    }
    model.transform(input.filter($"split" === "test"))
      .select($"vec_id", $"bin_label".cast(IntegerType).as("label"),
        $"prediction".cast(IntegerType).as("prediction"))
      .orderBy($"vec_id")
  }

  private val lrCache = TrieMap.empty[String, LogisticRegressionModel]

  /** Multinomial logistic regression over the embedding space — the
    * linear learner beside the tree family (RF/DT/GBT). L-BFGS with a
    * fixed iteration cap; gradients are treeAggregated over the FIXED
    * input partitioning (prepared() repartitions on vec_id), so the
    * optimization path — and therefore the predictions — are
    * deterministic run to run (MLSpec-pinned, same contract as the
    * tree learners). Linear models are the 100 TB workhorse: one
    * gradient pass per iteration, no per-node histogram state.
    */
  def mlLogregTrainPredict(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val input = prepared(spark, sfDir)
    val model = cachedModel(lrCache, sfDir) {
      new LogisticRegression()
        .setLabelCol("label").setFeaturesCol("features")
        .setMaxIter(50).setRegParam(0.01).setElasticNetParam(0.0)
        .fit(input.filter(col("split") === "train"))
    }
    model.transform(input.filter($"split" === "test"))
      .select($"vec_id", $"label",
        $"prediction".cast(IntegerType).as("prediction"))
      .orderBy($"vec_id")
  }

  private val kmCache = TrieMap.empty[String, KMeansModel]

  /** KMeans clustering of the embedding space (k-means|| init, fixed
    * seed + fixed input partitioning => deterministic assignment).
    * Output is partition-shaped: per-cluster size and the cluster
    * centroid's L2 norm (cluster ids relabeled by size so the frame is
    * stable even if MLlib renumbers centroids across versions).
    */
  def mlKmeansCluster(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val feat = prepared(spark, sfDir)
    val model = cachedModel(kmCache, sfDir) {
      new KMeans().setK(8).setSeed(42L).setMaxIter(10)
        .setFeaturesCol("features")
        .fit(feat)
    }
    val norms = model.clusterCenters.zipWithIndex.map { case (c, i) =>
      (i, math.sqrt(c.toArray.map(x => x * x).sum))
    }.toMap
    val normOf = udf((c: Int) => norms(c))
    model.transform(feat)
      .groupBy($"prediction".as("cluster"))
      .agg(count(lit(1)).as("n_points"))
      .withColumn("centroid_norm", round(normOf($"cluster"), 6))
      // relabel by (size desc, norm) so output is stable across MLlib
      // centroid orderings. Rank inside ONE k-element array (k = 8
      // clusters, bounded by the model, not the data) — collect_list →
      // array_sort → posexplode — instead of an unpartitioned
      // row_number window (PlanSpec full-board sweep pins that pattern
      // out of every plan).
      .agg(collect_list(struct($"n_points", $"centroid_norm", $"cluster")).as("arr"))
      .select(posexplode(array_sort($"arr", (l, r) =>
        when(l("n_points") > r("n_points"), -1)
          .when(l("n_points") < r("n_points"), 1)
          .when(l("centroid_norm") < r("centroid_norm"), -1)
          .when(l("centroid_norm") > r("centroid_norm"), 1)
          .when(l("cluster") < r("cluster"), -1)
          .when(l("cluster") > r("cluster"), 1)
          .otherwise(0))).as(Seq("pos", "s")))
      .select(($"pos" + 1).as("cluster_rank"),
        $"s.n_points".as("n_points"), $"s.centroid_norm".as("centroid_norm"))
      .orderBy($"cluster_rank")
  }

  /** Deterministic modulo split — SQL-expressible, oracle-checked. */
  def mlTrainTestSplit(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    embeddings(spark, sfDir)
      .select($"vec_id", $"label",
        when($"vec_id" % 5 === 0, "test").otherwise("train").as("split"))
      .orderBy($"vec_id")
  }

  /** Model selection: 3-fold cross-validation over a small RF grid
    * (numTrees x maxDepth), one row per combination with its mean
    * held-out accuracy. Each fold's fit is distributed; folds are
    * Spark-side kFold splits under a fixed seed + fixed input
    * partitioning, so the metric table is deterministic run to run. No
    * oracle (fold assignment is engine-specific); structure + metric
    * range asserted in MLSpec.
    */
  def mlCrossValidation(spark: SparkSession, sfDir: String): DataFrame = {
    val fitted = fittedCv(spark, sfDir)
    val rf = fitted.getEstimator.asInstanceOf[RandomForestClassifier]
    val rows = fitted.getEstimatorParamMaps.zip(fitted.avgMetrics).map {
      case (pm, m) =>
        (pm.get(rf.numTrees).get, pm.get(rf.maxDepth).get,
          math.rint(m * 10000) / 10000)
    }
    spark.createDataFrame(rows.toSeq)
      .toDF("num_trees", "max_depth", "avg_accuracy")
      .orderBy(col("num_trees"), col("max_depth"))
  }

  private val cvCache =
    TrieMap.empty[String, org.apache.spark.ml.tuning.CrossValidatorModel]

  /** Fitted 3-fold CV over the small RF grid — shared by
    * ml_cross_validation (metric grid) and ml_cv_best_model (winner
    * predictions) so the 12 distributed fits run once per sfDir.
    */
  private def fittedCv(spark: SparkSession, sfDir: String) = {
    import org.apache.spark.ml.tuning.{CrossValidator, ParamGridBuilder}
    cachedModel(cvCache, sfDir) {
      val rf = new RandomForestClassifier()
        .setLabelCol("label").setFeaturesCol("features").setSeed(42L)
      val grid = new ParamGridBuilder()
        .addGrid(rf.numTrees, Array(5, 10))
        .addGrid(rf.maxDepth, Array(3, 5))
        .build()
      new CrossValidator()
        .setEstimator(rf)
        .setEvaluator(new MulticlassClassificationEvaluator()
          .setLabelCol("label").setPredictionCol("prediction")
          .setMetricName("accuracy"))
        .setEstimatorParamMaps(grid)
        .setNumFolds(3).setSeed(42L).setParallelism(2)
        .fit(prepared(spark, sfDir).filter(col("split") === "train"))
    }
  }

  /** CV winner surfaced (round-7): the selected model's held-out
    * predictions tagged with the winning hyper-parameters, so model
    * selection composes with the scoring facade. CrossValidator picks
    * the grid-order-first maximum of avgMetrics; with fixed seeds +
    * fixed fold assignment the winner is deterministic (MLSpec asserts
    * it equals the metric grid's argmax). No oracle: fold assignment
    * is engine-specific.
    */
  def mlCvBestModel(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val best = fittedCv(spark, sfDir).bestModel
      .asInstanceOf[RandomForestClassificationModel]
    best.transform(prepared(spark, sfDir).filter($"split" === "test"))
      .select($"vec_id", $"label",
        $"prediction".cast(IntegerType).as("prediction"),
        lit(best.getNumTrees).as("num_trees"),
        lit(best.getMaxDepth).as("max_depth"))
      .orderBy($"vec_id")
  }
}
