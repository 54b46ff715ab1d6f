package graft

import org.apache.spark.ml.classification.RandomForestClassificationModel
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.IntegerType
import org.scalatest.funsuite.AnyFunSuite

/** The reference-workflow facade: train from a feature file, score a
  * test file — both the CSV and parquet ingest paths.
  */
class RandomForestAppSpec extends AnyFunSuite with SparkFixture {

  test("csv ingest: train/score on expanded embedding columns") {
    import spark.implicits._
    // materialize embeddings as headerless CSV (64 features + label) —
    // the reference's native input shape; dir name carries the .csv hint
    val csvDir = "/tmp/graft_rfapp.csv"
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
    val csvDir = "/tmp/graft_rfapp_cat.csv"
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
    val modelDir = "/tmp/graft_rfapp_model"
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
    val csvDir = "/tmp/graft_rfapp_num.csv"
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
        numericCsv() -> "/tmp/graft_rfapp_num_model",
        s"$sf/embeddings.parquet" -> "/tmp/graft_rfapp_emb_model")) {
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
    val modelDir = "/tmp/graft_rfapp_plan_model"
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
}
