package graft

import org.apache.spark.SparkContext
import org.apache.spark.ml.attribute.NominalAttribute
import org.apache.spark.ml.classification.RandomForestClassifier
import org.apache.spark.ml.functions.array_to_vector
import org.apache.spark.ml.linalg.Vector
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
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
  * Hadoop-MR mapping: per-mapper tree building is one Spark job whose
  * tasks, one per core, each grow whole trees over a broadcast of the
  * binned training set (`LocalForest`); reduce-side forest assembly is
  * collecting those trees into an MLlib forest model, which `saveModel`
  * writes in MLlib's layout, the serialized forest the scoring job
  * reads. The map-only scoring job reads that forest's node table into
  * flat arrays (`FlatForest`), and its "DistributedCache model
  * shipping" is one broadcast of those arrays; each record's feature
  * array is predicted by one UDF, with no MLlib vector built. A training
  * set too large for the driver to collect takes MLlib's distributed
  * histogram-based induction instead (`fitForest`).
  *
  * Like the map-only scoring job, scoring runs the forest once per
  * record: the features are hash-partitioned by id to one partition
  * per core, predicted there, then shuffled into one partition and
  * sorted by id within it. A global `orderBy(id)` would run the forest
  * twice (its range-partition sampling job evaluates the whole child
  * plan) and `coalesce(1)` would run it on one task (it is narrow, so
  * the predict joins the single output task). Training caches its
  * input while it makes several passes over it.
  *
  * Usage: RandomForestApp <trainPath> <testPath> <outPath>
  *   paths ending .csv are parsed as headerless CSV (features...,label);
  *   otherwise parquet with columns (id, features array<float|double>,
  *   label int) — e.g. the embeddings table renamed.
  */
object RandomForestApp {

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

  /** A headerless CSV of feature columns and a last label column. */
  private def readCsv(spark: SparkSession, path: String): DataFrame = {
    val raw = spark.read.option("inferSchema", "true").csv(path)
    require(raw.columns.length >= 2,
      s"$path has no feature and label columns: the file is empty")
    raw
  }

  /** The label as a class index. MLlib's classifiers take only
    * non-negative integer labels, and a plain cast would truncate 1.5 to
    * 1, so any other label fails the read.
    */
  private def classLabel(c: Column): Column = {
    val d = c.cast(DoubleType)
    when(d >= 0 && d === floor(d), d.cast(IntegerType)).otherwise(raise_error(
      concat(lit("invalid label "), coalesce(c.cast(StringType), lit("null")),
        lit(": labels must be non-negative integers"))))
  }

  /** Read either format into (id, features array<double>, label). A CSV
    * read for a forest of `numFeatures` features must have that many
    * feature columns.
    */
  private def readRows(spark: SparkSession, path: String,
      numFeatures: Option[Int] = None): DataFrame =
    if (path.endsWith(".csv")) {
      val raw = readCsv(spark, path)
      val featCols = raw.columns.dropRight(1)
      numFeatures.foreach(k => require(featCols.length == k,
        s"$path has ${featCols.length} feature columns but the forest was trained on $k"))
      withStableId(raw, raw.columns.toSeq).select(
        col("id"),
        array(featCols.map(c => col(c).cast(DoubleType)): _*).as("features"),
        classLabel(col(raw.columns.last)).as("label"))
    } else {
      val raw = spark.read.parquet(path)
      // accept the testdata embeddings schema directly
      val (idCol, featCol, labelCol) =
        if (raw.columns.contains("vec_id")) ("vec_id", "embedding", "label")
        else ("id", "features", "label")
      raw.select(col(idCol).cast(LongType).as("id"),
        col(featCol).cast(ArrayType(DoubleType)).as("features"),
        classLabel(col(labelCol)).as("label"))
    }

  /** `rows` with its feature arrays as the vectors MLlib fits. */
  private def vectors(rows: DataFrame): DataFrame =
    rows.withColumn("features", array_to_vector(col("features")))

  /** Read either format into (id, features vector, label). */
  def readFeatures(spark: SparkSession, path: String): DataFrame =
    vectors(readRows(spark, path))

  /** CSV ingest with categorical (string-typed) feature columns
    * StringIndexer-encoded — the indexers are FIT ON THE TRAINING FILE
    * and applied to both sides, so train/test share one category→index
    * mapping and unseen test categories get the reserved "keep" index.
    * alphabetAsc ordering makes the mapping a function of the category
    * set alone (not of row order/partitioning). Numeric columns pass
    * through unchanged, so pure-numeric CSVs take the exact round-4
    * path. Returns the training rows, (id, features vector, label), and
    * the function that prepares a test file as (id, features
    * array<double>, label); the test side is built only when asked for,
    * because `withStableId` runs its sort's jobs while the frame is
    * built. A test file must have the training file's columns.
    */
  private def prepareCsv(spark: SparkSession,
      trainPath: String): (DataFrame, String => DataFrame) = {
    import org.apache.spark.ml.feature.StringIndexer
    val trainRaw = readCsv(spark, trainPath)
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
        array(feats: _*).as("features"),
        classLabel(col(labelCol)).as("label"))
    }
    def test(path: String): DataFrame = {
      val raw = if (path == trainPath) trainRaw else readCsv(spark, path)
      require(raw.columns.length == trainRaw.columns.length,
        s"$path has ${raw.columns.length - 1} feature columns but $trainPath has ${featCols.length}")
      prep(raw)
    }
    (vectors(prep(trainRaw)), test)
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

  /** Grows the forest from `train0`, whose rows are cached for the passes
    * below. One pass counts them, their feature values and their largest
    * label. When the driver can hold them (`inMemoryBudget`), they are
    * collected in id order and the trees grow whole, one task per core
    * (`LocalForest`). Otherwise MLlib's distributed induction fits the
    * cached rows in 8 hash partitions on `id`; its bagging is seeded per
    * partition, so those partitions define that forest, and the counted
    * class count rides on the label's metadata, which spares MLlib its own
    * pass for it. The switch point is set by driver memory alone: where
    * growing whole trees stops beating MLlib's per-level jobs has not been
    * measured.
    */
  private[graft] def fitForest(train0: DataFrame, numTrees: Int, maxDepth: Int,
      seed: Long, maxBytes: Long = inMemoryBudget(SparkSession.active.sparkContext))
      : org.apache.spark.ml.classification.RandomForestClassificationModel = {
    val mllib = new RandomForestClassifier()
      .setLabelCol("label").setFeaturesCol("features")
      .setNumTrees(numTrees).setMaxDepth(maxDepth).setSeed(seed)
    val input = train0.persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val rows = input.rdd
      val (n, doubles, maxLabel) = rows.map(r => (1L, r.getAs[Vector](1).size.toLong, r.getInt(2)))
        .fold((0L, 0L, 0)) { case ((n1, d1, l1), (n2, d2, l2)) => (n1 + n2, d1 + d2, l1 max l2) }
      // each collected row is 8 B per feature and 92 B of objects (Spark's
      // SizeEstimator on the collected tuples); the id sort, the labels and
      // the byte bins with their broadcast copy add about 2 B and 40 B more
      if (10 * doubles + 132 * n > maxBytes) {
        val classes = NominalAttribute.defaultAttr.withNumValues(maxLabel + 1).toMetadata()
        mllib.fit(input.withColumn("label", col("label").as("label", classes))
          .repartition(8, col("id")))
      } else LocalForest.fit(train0.sparkSession.sparkContext,
        rows.map(r => (r.getLong(0), (r.getAs[Vector](1).toArray, r.getInt(2)))).collect()
          .sortBy(_._1).map(_._2),
        numTrees, maxDepth, mllib.getMaxBins, seed)
    } finally input.unpersist()
  }

  /** The bytes the driver can give the whole-tree path's collected rows:
    * no more than `spark.driver.maxResultSize`, past which `collect`
    * fails, and no more than the heap Spark leaves outside its unified
    * memory pool (`1 − spark.memory.fraction` of the heap past its 300 MB
    * reserve), since the pool holds the cache and, in local mode, the
    * tasks' working memory.
    */
  private def inMemoryBudget(sc: SparkContext): Long = {
    val conf = sc.getConf
    val outsidePool = ((Runtime.getRuntime.maxMemory - (300L << 20)) *
      (1 - conf.getDouble("spark.memory.fraction", 0.6))).toLong
    val maxResult = conf.getSizeAsBytes("spark.driver.maxResultSize", "1g")
    if (maxResult > 0) math.min(outsidePool, maxResult) else outsidePool
  }

  /** Persist a trained forest (MLlib's parquet tree layout — the
    * Spark-native form of the reference's serialized-forest handoff
    * between the training job and the scoring job).
    */
  def saveModel(model: org.apache.spark.ml.classification.RandomForestClassificationModel,
      path: String): Unit =
    model.write.overwrite().save(path)

  /** Scoring-job half: load the serialized forest and score a test
    * file — no training data needed. The forest is read in MLlib's saved
    * layout as flat arrays (`FlatForest.load`: its metadata file and one
    * scan of its node table), and shipped to the tasks as one broadcast,
    * the DistributedCache analogue noted in the class doc. A CSV test
    * file must have the forest's number of feature columns, and a
    * parquet row the forest's number of features. Returns (id, label,
    * prediction) in one partition, ascending by id. Each row is scored
    * once, on one task per core: the rows are hash-partitioned by id
    * before the predict and sorted within the single output partition
    * after it. An `orderBy(id)` would score every row twice, because its
    * range-partition sampling job evaluates the whole child plan, and
    * `coalesce(1)` is narrow, so it would pull the predict into one
    * task. The result keeps the forest it loaded: it scores the same
    * when re-run after the model directory is overwritten.
    */
  def loadAndScore(spark: SparkSession, modelPath: String,
      testPath: String): DataFrame = {
    val forest = FlatForest.load(spark, modelPath)
    score(forest, readRows(spark, testPath, Some(forest.numFeatures)))
  }

  /** Train + score; returns (id, label, prediction) for the test set. */
  def trainAndScore(spark: SparkSession, trainPath: String, testPath: String,
      numTrees: Int = 50, maxDepth: Int = 8, seed: Long = 42L): DataFrame = {
    val (train0, test) =
      if (trainPath.endsWith(".csv")) {
        val (csvTrain, prepTest) = prepareCsv(spark, trainPath)
        (csvTrain, prepTest(testPath))
      } else (readFeatures(spark, trainPath), readRows(spark, testPath))
    score(FlatForest(fitForest(train0, numTrees, maxDepth, seed)), test)
  }

  /** The map-only scoring job shared by `loadAndScore` and
    * `trainAndScore`; its shape is explained on `loadAndScore`. The
    * broadcast lives as long as the returned frame's plan holds the UDF.
    */
  private def score(forest: FlatForest, rows: DataFrame): DataFrame = {
    val sc = rows.sparkSession.sparkContext
    val shipped = sc.broadcast(forest)
    val predict = udf((x: Array[Double]) => shipped.value.predict(x))
    rows.repartition(sc.defaultParallelism, col("id"))
      .select(col("id"), col("label"), predict(col("features")).as("prediction"))
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
