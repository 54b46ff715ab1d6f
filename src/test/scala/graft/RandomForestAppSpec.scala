package graft

import org.apache.spark.ml.classification.RandomForestClassificationModel
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.IntegerType
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The reference-workflow facade: train from a feature file, score a
  * test file — both the CSV and parquet ingest paths.
  */
class RandomForestAppSpec extends AnyFunSuite with SparkFixture with BeforeAndAfterAll {

  /** This suite's files, in a directory of its own, so that two test runs
    * on one host do not overwrite each other's inputs.
    */
  private lazy val tmp = java.nio.file.Files.createTempDirectory("graft_rfapp").toString

  override def afterAll(): Unit =
    try org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmp))
    finally super.afterAll()

  test("csv ingest: train/score on expanded embedding columns") {
    import spark.implicits._
    // materialize embeddings as headerless CSV (64 features + label) —
    // the reference's native input shape; dir name carries the .csv hint
    val csvDir = s"$tmp/graft_rfapp.csv"
    val cols = (0 until 64).map(i => element_at($"embedding", i + 1)) :+ $"label"
    Tables.embeddings(spark, sf)
      .select(cols: _*)
      .coalesce(1).write.mode("overwrite").csv(csvDir)
    val pred = RandomForestApp.trainAndScore(spark, csvDir, csvDir,
      numTrees = 5, maxDepth = 3)
    assert(pred.count() === Tables.embeddings(spark, sf).count())
    assert(pred.columns.toSeq === Seq("id", "label", "prediction"))
  }

  test("csv ingest: categorical feature columns are indexed and carry the signal") {
    import spark.implicits._
    // label is a pure function of the categorical column; the numeric
    // column is id noise — the forest can only reach the floor through
    // the StringIndexer path (derived target per the determinism
    // protocol: no accuracy assertions on real labels)
    val csvDir = s"$tmp/graft_rfapp_cat.csv"
    val cats = Seq("red", "green", "blue", "amber")
    val rows = (0 until 400).map { i =>
      val c = cats(i % cats.length)
      (c, i.toDouble / 400.0, i % cats.length)
    }
    rows.toDF("cat", "noise", "label")
      .coalesce(1).write.mode("overwrite").option("header", "false").csv(csvDir)
    val pred = RandomForestApp.trainAndScore(spark, csvDir, csvDir,
      numTrees = 10, maxDepth = 4)
    val n = pred.count()
    assert(n === 400)
    val acc = pred.filter($"prediction" === $"label").count().toDouble / n
    assert(acc >= 0.95,
      s"category-determined label must be learnable through indexing, got $acc")
  }

  test("split workflow: train/save then load/score equals the one-process run") {
    import spark.implicits._
    // the reference's two-job shape: a training job that serializes
    // the forest, then a scoring job that only sees the model dir +
    // test file
    val p = s"$sf/embeddings.parquet"
    val modelDir = s"$tmp/graft_rfapp_model"
    RandomForestApp.saveModel(
      RandomForestApp.train(spark, p, numTrees = 10, maxDepth = 4), modelDir)
    val split = RandomForestApp.loadAndScore(spark, modelDir, p)
      .as[(Long, Int, Int)].collect().toSeq
    val oneProc = RandomForestApp
      .trainAndScore(spark, p, p, numTrees = 10, maxDepth = 4)
      .as[(Long, Int, Int)].collect().toSeq
    assert(split === oneProc)
    assert(split.nonEmpty)
  }

  test("parquet ingest: accepts the embeddings schema and scores") {
    import spark.implicits._
    val p = s"$sf/embeddings.parquet"
    val pred = RandomForestApp.trainAndScore(spark, p, p,
      numTrees = 10, maxDepth = 4)
    assert(pred.count() === Tables.embeddings(spark, sf).count())
    assert(pred.columns.toSeq === Seq("id", "label", "prediction"))
    // predictions land in the label domain
    val dom = pred.select($"prediction").distinct().as[Int].collect()
    assert(dom.forall(p => p >= 0 && p <= 9))
  }

  /** A headerless numeric CSV (3 features + a label that is a function
    * of them), the shape `train` reads without StringIndexer state.
    */
  private def numericCsv(): String = {
    import spark.implicits._
    val csvDir = s"$tmp/graft_rfapp_num.csv"
    spark.range(600).select(
      ($"id" % 7).cast("double").as("a"),
      ($"id" / 600.0).as("b"),
      ($"id" % 5).cast("double").as("c"),
      (($"id" % 7 > 3).cast("int") + ($"id" % 5 > 2).cast("int")).as("label"))
      .coalesce(1).write.mode("overwrite").option("header", "false").csv(csvDir)
    csvDir
  }

  private def trainAndSave(path: String, modelDir: String): Unit =
    RandomForestApp.saveModel(
      RandomForestApp.train(spark, path, numTrees = 5, maxDepth = 3), modelDir)

  test("scoring output: same rows in id order as a global sort, in one partition") {
    import spark.implicits._
    for ((path, modelDir) <- Seq(
        numericCsv() -> s"$tmp/graft_rfapp_num_model",
        s"$sf/embeddings.parquet" -> s"$tmp/graft_rfapp_emb_model")) {
      trainAndSave(path, modelDir)
      val out = RandomForestApp.loadAndScore(spark, modelDir, path)
      // the globally sorted query shape on the same loaded model
      val expected = RandomForestClassificationModel.load(modelDir)
        .transform(RandomForestApp.readFeatures(spark, path))
        .select($"id", $"label", $"prediction".cast(IntegerType).as("prediction"))
        .orderBy($"id")
        .collect().toSeq
      val got = out.collect().toSeq
      assert(got.nonEmpty)
      assert(got === expected, path)
      assert(out.rdd.getNumPartitions === 1, path)
      val ids = got.map(_.getLong(0))
      assert(ids.zip(ids.tail).forall { case (a, b) => a < b },
        s"ids must be strictly increasing: $path")
    }
  }

  test("scoring plan: a hash exchange on id per core, no range-partition sort") {
    import org.apache.spark.sql.catalyst.expressions.Attribute
    import org.apache.spark.sql.catalyst.plans.physical.{HashPartitioning, RangePartitioning}
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.util.QueryExecutionListener
    import org.scalatest.concurrent.Eventually._
    import org.scalatest.time.{Seconds, Span}
    val p = s"$sf/embeddings.parquet"
    val modelDir = s"$tmp/graft_rfapp_plan_model"
    trainAndSave(p, modelDir)
    @volatile var written: Option[QueryExecution] = None
    val listener = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = written = Some(qe)
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    val out = RandomForestApp.loadAndScore(spark, modelDir, p)
    spark.listenerManager.register(listener)
    try {
      out.write.format("noop").mode("overwrite").save()
      eventually(timeout(Span(30, Seconds))) { assert(written.nonEmpty) }
    } finally spark.listenerManager.unregister(listener)
    val plan = written.get.executedPlan
    // descends into the adaptive plan's final stages
    val exchanges = new AdaptiveSparkPlanHelper {}.collect(plan) {
      case s: ShuffleExchangeExec => s.outputPartitioning
    }
    assert(!exchanges.exists(_.isInstanceOf[RangePartitioning]),
      s"no range-partition sort may run the forest again:\n$plan")
    val cores = spark.sparkContext.defaultParallelism
    assert(exchanges.exists {
      case HashPartitioning(Seq(a: Attribute), n) => a.name == "id" && n == cores
      case _ => false
    }, s"the predict must run after a hash exchange on id to $cores partitions:\n$plan")
  }

  test("train: input cached only during the fit, and the forest is deterministic") {
    val csv = numericCsv()
    val cm = spark.sharedState.cacheManager
    // start empty, so any entry left afterwards is this call's
    cm.clearCache()
    val rdds = spark.sparkContext.getPersistentRDDs.keySet
    val a = RandomForestApp.train(spark, csv, numTrees = 5, maxDepth = 3)
    assert(cm.isEmpty, "train must unpersist its cached input")
    assert(spark.sparkContext.getPersistentRDDs.keySet === rdds)
    val b = RandomForestApp.train(spark, csv, numTrees = 5, maxDepth = 3)
    // past the header line, which carries the model's random uid
    def trees(m: RandomForestClassificationModel) = m.toDebugString.linesIterator.drop(1).toSeq
    assert(trees(a).nonEmpty)
    assert(trees(a) === trees(b))
  }

  /** Writes headerless CSV `lines` to one file and returns its path. */
  private def writeCsv(name: String, lines: Seq[String]): String = {
    val f = new java.io.File(s"$tmp/$name.csv")
    val w = new java.io.PrintWriter(f)
    try lines.foreach(w.println) finally w.close()
    f.getPath
  }

  /** The message of `e` and of every cause below it. */
  private def messages(e: Throwable): String =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).map(_.getMessage).mkString("\n")

  test("train: an empty training file fails with a clear error") {
    val empty = writeCsv("graft_rfapp_empty", Nil)
    val e = intercept[IllegalArgumentException](RandomForestApp.train(spark, empty))
    assert(e.getMessage.contains("the file is empty"), e.getMessage)
    // a parquet input with its schema but no rows reaches the tree builder
    val noRows = s"$tmp/graft_rfapp_norows"
    spark.read.parquet(s"$sf/embeddings.parquet").limit(0)
      .write.mode("overwrite").parquet(noRows)
    val e2 = intercept[IllegalArgumentException](RandomForestApp.train(spark, noRows))
    assert(e2.getMessage.contains("has no rows"), e2.getMessage)
  }

  test("train: negative or non-integer labels are rejected") {
    for ((name, bad) <- Seq("neg" -> "-1", "frac" -> "1.5")) {
      val csv = writeCsv(s"graft_rfapp_label_$name",
        (0 until 20).map(i => s"${i % 3}.0,${i / 20.0},${if (i == 7) bad else i % 2}"))
      val e = intercept[Exception](RandomForestApp.train(spark, csv, numTrees = 3))
      assert(messages(e).contains(s"invalid label $bad"), messages(e))
    }
  }

  /** The forest past its header line, which carries the model's random uid. */
  private def trees(m: RandomForestClassificationModel) =
    m.toDebugString.linesIterator.drop(1).toSeq

  test("train: past the byte budget, the forest is MLlib's fit on the cached 8 partitions") {
    import org.apache.spark.ml.classification.RandomForestClassifier
    val csv = numericCsv()
    val fallback = RandomForestApp.fitForest(RandomForestApp.readFeatures(spark, csv),
      numTrees = 5, maxDepth = 3, seed = 42L, maxBytes = 0)
    val input = RandomForestApp.readFeatures(spark, csv).repartition(8, col("id")).persist()
    val direct =
      try new RandomForestClassifier().setNumTrees(5).setMaxDepth(3).setSeed(42L).fit(input)
      finally input.unpersist()
    assert(trees(fallback).nonEmpty)
    assert(trees(fallback) === trees(direct))
  }

  test("train: whole-tree forests of 50 trees and of one score within 0.01 of MLlib's on planted rules") {
    // perfbench/gen.py's shape: uniform features rounded to 4 places,
    // threshold rules planted on a binary label, 10% of labels flipped
    val rng = new scala.util.Random(11)
    def rows(n: Int) = (0 until n).map { _ =>
      val x = Array.fill(16)(math.round(rng.nextDouble() * 1e4) / 1e4)
      val rule = (x(0) > 0.6 && x(3) < 0.4) || x(7) > 0.85 ||
        (x(2) > 0.5 && x(5) > 0.5 && x(11) < 0.3)
      val y = if (rule ^ (rng.nextDouble() < 0.1)) 1 else 0
      x.map(v => f"$v%.4f").mkString(",") + s",$y"
    }
    val train = RandomForestApp.readFeatures(spark, writeCsv("graft_rfapp_planted_train", rows(10000)))
    val test = RandomForestApp.readFeatures(spark, writeCsv("graft_rfapp_planted_test", rows(5000)))
    def accuracy(m: RandomForestClassificationModel) =
      m.transform(test).filter(col("prediction") === col("label")).count().toDouble / 5000
    for (numTrees <- Seq(50, 1)) {
      val whole = RandomForestApp.fitForest(train, numTrees, 8, 42L)
      val mllib = RandomForestApp.fitForest(train, numTrees, 8, 42L, maxBytes = 0)
      val (a, b) = (accuracy(whole), accuracy(mllib))
      assert(b > 0.85, s"$numTrees trees: MLlib $b")
      assert(math.abs(a - b) <= 0.01, s"$numTrees trees: whole-tree $a vs MLlib $b")
    }
    // one tree sees every row and every feature, so both split first on
    // the same feature
    import org.apache.spark.ml.tree.InternalNode
    def rootFeature(m: RandomForestClassificationModel) =
      m.trees.head.rootNode.asInstanceOf[InternalNode].split.featureIndex
    assert(rootFeature(RandomForestApp.fitForest(train, 1, 8, 42L)) ===
      rootFeature(RandomForestApp.fitForest(train, 1, 8, 42L, maxBytes = 0)))
  }

  test("split candidates: a column with heavy duplicates still gets maxBins - 1") {
    val rng = new scala.util.Random(5)
    for (zeros <- Seq(0.0, 0.35, 0.6)) {
      val col = Array.fill(10000)(
        if (rng.nextDouble() < zeros) 0.0 else math.round(rng.nextDouble() * 1e4) / 1e4)
      java.util.Arrays.sort(col)
      val cuts = LocalForest.thresholds(col, 32)
      assert(cuts.length === 31, s"zeros $zeros")
      assert(cuts.zip(cuts.tail).forall { case (a, b) => a < b }, s"zeros $zeros")
      assert(cuts.forall(c => col.exists(_ < c) && col.exists(_ > c)), s"zeros $zeros")
      // equal frequency: past the run of zeros, the bins hold alike shares
      val sizes = (cuts :+ Double.PositiveInfinity).map(c => col.count(_ <= c))
      val bins = sizes.zip(0 +: sizes).map { case (a, b) => a - b }.drop(if (zeros > 0) 1 else 0)
      val mean = bins.sum.toDouble / bins.length
      assert(bins.forall(b => b > 0.6 * mean && b < 1.6 * mean), s"zeros $zeros: ${bins.toSeq}")
    }
    // few distinct values: every midpoint between neighbours
    assert(LocalForest.thresholds(Array(0.0, 0.0, 1.0, 1.0, 1.0, 3.0), 32).toSeq ===
      Seq(0.5, 2.0))
  }

  test("train: a saved whole-tree forest loads with its tree count") {
    val modelDir = s"$tmp/graft_rfapp_local_model"
    val m = RandomForestApp.train(spark, numericCsv(), numTrees = 7, maxDepth = 3)
    RandomForestApp.saveModel(m, modelDir)
    val loaded = RandomForestClassificationModel.load(modelDir)
    assert(loaded.getNumTrees === 7)
    assert(trees(loaded) === trees(m))
    // MLlib's prune: no node keeps two leaves that predict alike
    import org.apache.spark.ml.tree.{InternalNode, LeafNode, Node}
    def unpruned(n: Node): Boolean = n match {
      case i: InternalNode => (i.leftChild, i.rightChild) match {
        case (l: LeafNode, r: LeafNode) => l.prediction == r.prediction
        case (l, r) => unpruned(l) || unpruned(r)
      }
      case _ => false
    }
    assert(m.trees.exists(_.rootNode.isInstanceOf[InternalNode]))
    assert(!m.trees.exists(t => unpruned(t.rootNode)))
  }

  test("train: the same trees under any input partitioning") {
    val csv = numericCsv()
    val key = "spark.sql.files.maxPartitionBytes"
    val a = RandomForestApp.train(spark, csv, numTrees = 5, maxDepth = 4)
    val prev = spark.conf.get(key)
    spark.conf.set(key, "2048")
    val (b, splits) =
      try (RandomForestApp.train(spark, csv, numTrees = 5, maxDepth = 4),
        spark.read.csv(csv).rdd.getNumPartitions)
      finally spark.conf.set(key, prev)
    assert(splits > 1)
    assert(trees(a).nonEmpty)
    assert(trees(a) === trees(b))
    // rows that reach the fit shuffled out of id order
    val shuffled = RandomForestApp.readFeatures(spark, csv).repartition(3)
    assert(trees(RandomForestApp.fitForest(shuffled, 5, 4, 42L)) === trees(a))
  }

  test("train: no MLlib job runs, and the training-set broadcast is destroyed") {
    import org.apache.spark.graft.GraftIntrospect
    import org.apache.spark.scheduler._
    import org.apache.spark.storage.BroadcastBlockId
    import org.scalatest.concurrent.Eventually._
    import org.scalatest.time.{Seconds, Span}
    val csv = numericCsv()
    val sites = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val put, removed = java.util.concurrent.ConcurrentHashMap.newKeySet[Long]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        sites.add(e.stageInfos.maxBy(_.stageId).name)
      override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit =
        e.blockUpdatedInfo.blockId match {
          case BroadcastBlockId(id, _) =>
            if (e.blockUpdatedInfo.storageLevel.isValid) put.add(id) else removed.add(id)
          case _ =>
        }
    }
    val sc = spark.sparkContext
    GraftIntrospect.drainListenerBus(sc)
    sc.addSparkListener(listener)
    try {
      RandomForestApp.train(spark, csv, numTrees = 5, maxDepth = 3)
      GraftIntrospect.drainListenerBus(sc)
      val jobs = sites.toArray(Array.empty[String]).toSeq
      assert(jobs.nonEmpty)
      assert(!jobs.exists(s => s.contains("RandomForest.scala") || s.contains("DecisionTree")),
        jobs.mkString("\n"))
      // two schema-inference reads, the stable-id sort's two, then one each
      // to count and collect the rows and to grow the trees
      assert(jobs.size <= 7, jobs.mkString("\n"))
      // destroy() is asynchronous: the removal lands shortly after train
      eventually(timeout(Span(10, Seconds))) {
        GraftIntrospect.drainListenerBus(sc)
        assert(put.stream.anyMatch(removed.contains(_)), s"put $put, removed $removed")
      }
    } finally sc.removeSparkListener(listener)
  }

  /** A parquet file of (id, features array<double>, label) rows. */
  private def writeParquet(name: String, rows: Seq[(Long, Array[Double], Int)]): String = {
    import spark.implicits._
    val path = s"$tmp/$name"
    rows.map { case (i, x, y) => (i, x.toSeq, y) }.toDF("id", "features", "label")
      .coalesce(1).write.mode("overwrite").parquet(path)
    path
  }

  test("scoring: a categorical-split forest predicts as MLlib's, saved and in memory") {
    import org.apache.spark.ml.attribute.{Attribute, AttributeGroup, NominalAttribute, NumericAttribute}
    import org.apache.spark.ml.classification.RandomForestClassifier
    import org.apache.spark.ml.functions.array_to_vector
    import org.apache.spark.ml.tree.{CategoricalSplit, InternalNode, Node}
    val rng = new scala.util.Random(3)
    // feature 0 takes 6 categories and sets the label with feature 1
    def rows(n: Int, cats: Int => Double) = (0 until n).map { i =>
      val x = Array(cats(i), math.round(rng.nextDouble() * 100) / 100.0, rng.nextDouble())
      val rule = Set(0.0, 2.0, 5.0)(x(0)) ^ (x(1) > 0.7)
      (i.toLong, x, if (rule ^ (rng.nextDouble() < 0.1)) 1 else 0)
    }
    val train = writeParquet("graft_rfapp_cat_train", rows(2000, _ => rng.nextInt(6).toDouble))
    // scoring also meets values no category has, which MLlib sends down a
    // fixed side of each split
    val test = writeParquet("graft_rfapp_cat_test",
      rows(1000, i => Seq(0.0, 1.0, 2.0, 3.0, 4.0, 5.0, 7.0, 2.5, -1.0)(i % 9)))
    val attrs = new AttributeGroup("features", Array[Attribute](
      NominalAttribute.defaultAttr.withNumValues(6),
      NumericAttribute.defaultAttr, NumericAttribute.defaultAttr))
    val model = new RandomForestClassifier().setNumTrees(10).setMaxDepth(4).setSeed(7L)
      .fit(spark.read.parquet(train).select(col("id"), col("label"),
        array_to_vector(col("features")).as("features", attrs.toMetadata())))
    def splits(n: Node): Seq[CategoricalSplit] = n match {
      case i: InternalNode => (i.split match {
        case c: CategoricalSplit => Seq(c)
        case _ => Nil
      }) ++ splits(i.leftChild) ++ splits(i.rightChild)
      case _ => Nil
    }
    val categorical = model.trees.toSeq.flatMap(t => splits(t.rootNode))
    // both of MLlib's forms: the left categories, and their complement
    assert(categorical.exists(c => c.leftCategories.length <= 3), categorical)
    assert(categorical.exists(c => c.leftCategories.length > 3), categorical)
    val modelDir = s"$tmp/graft_rfapp_cat_model"
    RandomForestApp.saveModel(model, modelDir)
    val expected = RandomForestClassificationModel.load(modelDir)
      .transform(RandomForestApp.readFeatures(spark, test))
      .select(col("id"), col("label"), col("prediction").cast(IntegerType).as("prediction"))
      .orderBy(col("id")).collect().toSeq
    assert(RandomForestApp.loadAndScore(spark, modelDir, test).collect().toSeq === expected)
    val flat = FlatForest(model)
    val features = spark.read.parquet(test).orderBy("id").collect()
      .map(_.getSeq[Double](1).toArray)
    assert(features.map(flat.predict).toSeq === expected.map(_.getInt(2)))
  }

  test("scoring: a scored frame keeps the forest it loaded after the model is overwritten") {
    import spark.implicits._
    val csv = numericCsv()
    val modelDir = s"$tmp/graft_rfapp_kept_model"
    trainAndSave(csv, modelDir)
    val out = RandomForestApp.loadAndScore(spark, modelDir, csv)
    val first = out.collect().toSeq
    // a forest that predicts class 0 everywhere
    val zeros = spark.range(50).select(($"id" % 7).cast("double"), ($"id" / 50.0),
      ($"id" % 5).cast("double"), lit(0))
    val zerosCsv = s"$tmp/graft_rfapp_zeros.csv"
    zeros.coalesce(1).write.mode("overwrite").csv(zerosCsv)
    trainAndSave(zerosCsv, modelDir)
    assert(RandomForestApp.loadAndScore(spark, modelDir, csv).collect().forall(_.getInt(2) == 0))
    assert(first.exists(_.getInt(2) != 0))
    assert(out.collect().toSeq === first)
  }

  test("scoring: a test file with another feature count than the forest fails") {
    val modelDir = s"$tmp/graft_rfapp_count_model"
    trainAndSave(numericCsv(), modelDir)
    for (k <- Seq(2, 4)) {
      // CSV: at the read, from the column count
      val csv = writeCsv(s"graft_rfapp_count_$k", (0 until 20).map(i =>
        (Seq.fill(k)(f"${i / 20.0}%.2f") :+ (i % 2).toString).mkString(",")))
      val e = intercept[IllegalArgumentException](RandomForestApp.loadAndScore(spark, modelDir, csv))
      assert(e.getMessage.contains(s"has $k feature columns") &&
        e.getMessage.contains("trained on 3"), e.getMessage)
      val e1 = intercept[IllegalArgumentException](
        RandomForestApp.trainAndScore(spark, numericCsv(), csv, numTrees = 3))
      assert(e1.getMessage.contains(s"has $k feature columns") &&
        e1.getMessage.contains("has 3"), e1.getMessage)
      // parquet: in the kernel, on the first row
      val pq = writeParquet(s"graft_rfapp_count_$k",
        (0 until 20).map(i => (i.toLong, Array.fill(k)(i / 20.0), i % 2)))
      val e2 = intercept[Exception](RandomForestApp.loadAndScore(spark, modelDir, pq).collect())
      val cause = Iterator.iterate[Throwable](e2)(_.getCause).takeWhile(_ != null)
        .collectFirst { case c: IllegalArgumentException => c }
      assert(cause.exists(c => c.getMessage.contains(s"has $k features") &&
        c.getMessage.contains("trained on 3")), messages(e2))
    }
  }

  test("scoring: building loadAndScore on parquet runs one job past reading the file: the node-table scan") {
    import org.apache.spark.graft.GraftIntrospect
    import org.apache.spark.scheduler._
    val p = s"$sf/embeddings.parquet"
    val modelDir = s"$tmp/graft_rfapp_jobs_model"
    trainAndSave(p, modelDir)
    val sc = spark.sparkContext
    def jobSites(f: => Unit): Seq[String] = {
      val sites = new java.util.concurrent.ConcurrentLinkedQueue[String]
      val listener = new SparkListener {
        override def onJobStart(e: SparkListenerJobStart): Unit =
          sites.add(e.stageInfos.maxBy(_.stageId).name)
      }
      GraftIntrospect.drainListenerBus(sc)
      sc.addSparkListener(listener)
      try {
        f
        GraftIntrospect.drainListenerBus(sc)
      } finally sc.removeSparkListener(listener)
      sites.toArray(Array.empty[String]).toSeq
    }
    // the parquet reader's schema inference, the same for any caller
    val reading = jobSites(RandomForestApp.readFeatures(spark, p))
    val scoring = jobSites(RandomForestApp.loadAndScore(spark, modelDir, p))
    assert(scoring.diff(reading).size <= 1, scoring.mkString("\n"))
    assert(scoring.diff(reading).forall(_.contains("FlatForest")), scoring.mkString("\n"))
  }
}
