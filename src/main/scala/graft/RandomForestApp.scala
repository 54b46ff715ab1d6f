package graft

import org.apache.spark.ml.classification.RandomForestClassifier
import org.apache.spark.ml.linalg.Vectors
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel

/** The reference workflow as a library/CLI facade `[RECONSTRUCTED —
  * SURVEY §0: the reference checkout is empty; this mirrors the
  * canonical Hadoop-MR random-forest tool surface]`: read a feature
  * file (CSV rows of numeric features + integer label, or parquet with
  * an array column), train a forest, score a test file by majority
  * vote, write per-record predictions and report accuracy.
  *
  * Hadoop-MR mapping: per-mapper tree building + reduce-side forest
  * assembly + map-only scoring job collapse into MLlib's distributed
  * histogram-based induction and a single predict projection — no
  * hand-wired job chaining, and the "DistributedCache model shipping"
  * is Spark's broadcast of the fitted model.
  *
  * Like the map-only scoring job, scoring runs the forest once per
  * record: the features are hash-partitioned by id to one partition
  * per core, predicted there, then shuffled into one partition and
  * sorted by id within it. A global `orderBy(id)` would run the forest
  * twice (its range-partition sampling job evaluates the whole child
  * plan) and `coalesce(1)` would run it on one task (it is narrow, so
  * the predict joins the single output task). Training caches its
  * repartitioned input, so MLlib's passes over it read the ingest once.
  *
  * Usage: RandomForestApp <trainPath> <testPath> <outPath>
  *   paths ending .csv are parsed as headerless CSV (features...,label);
  *   otherwise parquet with columns (id, features array<float|double>,
  *   label int) — e.g. the embeddings table renamed.
  */
object RandomForestApp {

  private val toVecD = udf((a: Seq[Double]) => Vectors.dense(a.toArray))

  /** Deterministic record ids for CSV ingest: rank in the total order
    * over `sortCols` (distributed sort + zipWithIndex's per-partition
    * offset pass). monotonically_increasing_id depended on the input
    * file partitioning, so ids changed across re-reads / split-count
    * changes and (id, label, prediction) rows were not durably
    * addressable. Identical rows are interchangeable, so the id
    * MULTISET is a pure function of the file contents.
    */
  private def withStableId(df: DataFrame, sortCols: Seq[String]): DataFrame = {
    import org.apache.spark.sql.Row
    val sorted = df.sort(sortCols.map(col): _*)
    val schema = StructType(
      StructField("id", LongType, nullable = false) +: sorted.schema.fields)
    df.sparkSession.createDataFrame(
      sorted.rdd.zipWithIndex.map { case (r, i) => Row.fromSeq(i +: r.toSeq) },
      schema)
  }

  /** Read either format into (id, features vector, label). */
  def readFeatures(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    if (path.endsWith(".csv")) {
      val raw = spark.read.option("inferSchema", "true").csv(path)
      val featCols = raw.columns.dropRight(1)
      val labelCol = raw.columns.last
      withStableId(raw, raw.columns.toSeq).select(
        col("id"),
        toVecD(array(featCols.map(c => col(c).cast(DoubleType)): _*))
          .as("features"),
        col(labelCol).cast(IntegerType).as("label"))
    } else {
      val raw = spark.read.parquet(path)
      // accept the testdata embeddings schema directly
      val (idCol, featCol, labelCol) =
        if (raw.columns.contains("vec_id")) ("vec_id", "embedding", "label")
        else ("id", "features", "label")
      raw.select(col(idCol).cast(LongType).as("id"),
        toVecD(col(featCol).cast(ArrayType(DoubleType))).as("features"),
        col(labelCol).cast(IntegerType).as("label"))
    }
  }

  /** CSV ingest with categorical (string-typed) feature columns
    * StringIndexer-encoded — the indexers are FIT ON THE TRAINING FILE
    * and applied to both sides, so train/test share one category→index
    * mapping and unseen test categories get the reserved "keep" index.
    * alphabetAsc ordering makes the mapping a function of the category
    * set alone (not of row order/partitioning). Numeric columns pass
    * through unchanged, so pure-numeric CSVs take the exact round-4
    * path. Returns the training frame and the function that prepares a
    * test file; the test side is built only when asked for, because
    * `withStableId` runs its sort's jobs while the frame is built.
    */
  private def prepareCsv(spark: SparkSession,
      trainPath: String): (DataFrame, String => DataFrame) = {
    import org.apache.spark.ml.feature.StringIndexer
    def read(path: String) = spark.read.option("inferSchema", "true").csv(path)
    val trainRaw = read(trainPath)
    val featCols = trainRaw.columns.dropRight(1).toSeq
    val labelCol = trainRaw.columns.last
    val strCols = featCols
      .filter(c => trainRaw.schema(c).dataType == StringType).toSet
    val indexers = strCols.toSeq.sorted.map(c => new StringIndexer()
      .setInputCol(c).setOutputCol(s"${c}__idx")
      .setHandleInvalid("keep").setStringOrderType("alphabetAsc")
      .fit(trainRaw))
    def prep(df: DataFrame): DataFrame = {
      val enc = indexers.foldLeft(df)((d, m) => m.transform(d))
      val feats = featCols.map(c =>
        if (strCols(c)) col(s"${c}__idx") else col(c).cast(DoubleType))
      // id from the raw (atomic) columns' total order — the __idx
      // columns are a pure function of them, so sorting on the
      // originals alone is already deterministic
      withStableId(enc, featCols :+ labelCol).select(col("id"),
        toVecD(array(feats: _*)).as("features"),
        col(labelCol).cast(IntegerType).as("label"))
    }
    (prep(trainRaw), path => prep(if (path == trainPath) trainRaw else read(path)))
  }

  /** Train-only half of the reference's train-job → serialized-model →
    * scoring-job workflow: fit the forest on the training file and
    * return the model (CSV ingest keeps its StringIndexer path via
    * prepareCsv when both halves run in-process — for the split
    * CLI workflow use numeric CSV or parquet, whose feature prep is a
    * pure row-wise function and needs no fitted state).
    */
  def train(spark: SparkSession, trainPath: String,
      numTrees: Int = 50, maxDepth: Int = 8,
      seed: Long = 42L): org.apache.spark.ml.classification.RandomForestClassificationModel = {
    val train0 =
      if (trainPath.endsWith(".csv")) prepareCsv(spark, trainPath)._1
      else readFeatures(spark, trainPath)
    fitForest(train0, numTrees, maxDepth, seed)
  }

  /** MLlib makes several passes over its input (metadata, split
    * candidates, the bagged tree input); the input is cached so the
    * ingest and the repartition shuffle run once, not once per pass.
    * The 8 hash partitions on `id` stay: bagging is seeded per
    * partition, so they define the forest.
    */
  private def fitForest(train0: DataFrame, numTrees: Int, maxDepth: Int,
      seed: Long): org.apache.spark.ml.classification.RandomForestClassificationModel = {
    val input = train0.repartition(8, col("id"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    try new RandomForestClassifier()
      .setLabelCol("label").setFeaturesCol("features")
      .setNumTrees(numTrees).setMaxDepth(maxDepth).setSeed(seed)
      .fit(input)
    finally input.unpersist()
  }

  /** Persist a trained forest (MLlib's parquet tree layout — the
    * Spark-native form of the reference's serialized-forest handoff
    * between the training job and the scoring job).
    */
  def saveModel(model: org.apache.spark.ml.classification.RandomForestClassificationModel,
      path: String): Unit =
    model.write.overwrite().save(path)

  /** Scoring-job half: LOAD the serialized forest and score a test
    * file — no training data needed. Model shipping to executors is
    * Spark's broadcast of the loaded model (the DistributedCache
    * analogue noted in the class doc). Returns (id, label, prediction)
    * in one partition, ascending by id. Each row is scored once, on
    * one task per core: the rows are hash-partitioned by id before the
    * predict and sorted within the single output partition after it.
    * An `orderBy(id)` would score every row twice, because its
    * range-partition sampling job evaluates the whole child plan, and
    * `coalesce(1)` is narrow, so it would pull the predict into one
    * task.
    */
  def loadAndScore(spark: SparkSession, modelPath: String,
      testPath: String): DataFrame = {
    val model = org.apache.spark.ml.classification
      .RandomForestClassificationModel.load(modelPath)
    score(model, readFeatures(spark, testPath))
  }

  /** Train + score; returns (id, label, prediction) for the test set. */
  def trainAndScore(spark: SparkSession, trainPath: String, testPath: String,
      numTrees: Int = 50, maxDepth: Int = 8, seed: Long = 42L): DataFrame = {
    val (train0, test) =
      if (trainPath.endsWith(".csv")) {
        val (csvTrain, prepTest) = prepareCsv(spark, trainPath)
        (csvTrain, prepTest(testPath))
      } else (readFeatures(spark, trainPath), readFeatures(spark, testPath))
    score(fitForest(train0, numTrees, maxDepth, seed), test)
  }

  /** The map-only scoring job shared by `loadAndScore` and
    * `trainAndScore`; its shape is explained on `loadAndScore`.
    */
  private def score(
      model: org.apache.spark.ml.classification.RandomForestClassificationModel,
      features: DataFrame): DataFrame = {
    val cores = features.sparkSession.sparkContext.defaultParallelism
    model.transform(features.repartition(cores, col("id")))
      .select(col("id"), col("label"),
        col("prediction").cast(IntegerType).as("prediction"))
      .repartition(1).sortWithinPartitions("id")
  }

  def main(args: Array[String]): Unit = {
    if (args.length < 3) {
      System.err.println(
        "usage: RandomForestApp <trainPath> <testPath> <outPath> [modelPath]")
      sys.exit(2)
    }
    val Array(trainPath, testPath, outPath) = args.take(3)
    val modelPath = args.lift(3)
    val spark = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_MASTER", "local[4]"))
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_CPUS", "4"))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // with a modelPath the run exercises the SPLIT workflow — train,
    // serialize, reload, score with the reloaded model — so the
    // written predictions prove the persisted forest, not the
    // in-memory one
    val pred = modelPath match {
      case Some(mp) =>
        saveModel(train(spark, trainPath), mp)
        loadAndScore(spark, mp, testPath).cache()
      case None => trainAndScore(spark, trainPath, testPath).cache()
    }
    try {
      pred.write.mode("overwrite").parquet(outPath)
      val n = pred.count()
      val hits = pred.filter(col("prediction") === col("label")).count()
      val acc = if (n == 0) 0.0 else hits.toDouble / n
      println(s"""{"records":$n,"correct":$hits,"accuracy":$acc}""")
    } finally {
      pred.unpersist()
      spark.stop()
    }
  }
}
