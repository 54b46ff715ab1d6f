package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.ml.GraftForest
import org.apache.spark.ml.classification.RandomForestClassificationModel
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** A random forest classifier as flat arrays, one slot per node, scored
  * from a plain feature array. It predicts what MLlib's model predicts,
  * with the same arithmetic (`predictRaw`, then `raw2prediction` with no
  * thresholds): each tree adds its leaf's class weights divided by their
  * sum, in tree order, and the prediction is the first class with the
  * largest total. MLlib's `transform` builds a vector column and runs
  * three vector UDFs per row to reach the same number.
  *
  * Node `n` is a leaf when `feature(n)` is -1; its class weights, already
  * divided by their sum, are `votes(n * numClasses + c)`, all 0 when they
  * sum to 0, where MLlib skips the leaf. Otherwise a row goes to `left(n)`
  * or `right(n)`: by `x(feature(n)) <= threshold(n)` on a continuous
  * split, and on a categorical split, as MLlib's `CategoricalSplit`, by
  * membership in `categories(n)`, the left categories when `leftSet(n)`
  * and otherwise their complement among the feature's categories.
  */
private[graft] final class FlatForest private (
    val numFeatures: Int, numClasses: Int, private val roots: Array[Int],
    feature: Array[Int], threshold: Array[Double],
    categories: Array[Array[Double]], leftSet: Array[Boolean],
    left: Array[Int], right: Array[Int], votes: Array[Double])
    extends Serializable {

  /** The predicted class of the features `x`. */
  def predict(x: Array[Double]): Int = {
    require(x.length == numFeatures,
      s"a row has ${x.length} features but the forest was trained on $numFeatures")
    val total = new Array[Double](numClasses)
    var t = 0
    while (t < roots.length) {
      var n = roots(t)
      while (feature(n) >= 0) {
        val v = x(feature(n))
        val goLeft =
          if (categories(n) == null) v <= threshold(n)
          else categories(n).contains(v) == leftSet(n)
        n = if (goLeft) left(n) else right(n)
      }
      var c = 0
      while (c < numClasses) {
        total(c) += votes(n * numClasses + c)
        c += 1
      }
      t += 1
    }
    var best = 0
    var c = 1
    while (c < numClasses) {
      if (total(c) > total(best)) best = c
      c += 1
    }
    best
  }
}

private[graft] object FlatForest {

  /** The part of MLlib's saved node table that scoring reads; a schema
    * given up front spares the read a schema-inference job.
    */
  private val nodeSchema = StructType(Seq(
    StructField("treeID", IntegerType),
    StructField("nodeData", StructType(Seq(
      StructField("id", IntegerType),
      StructField("impurityStats", ArrayType(DoubleType)),
      StructField("leftChild", IntegerType),
      StructField("rightChild", IntegerType),
      StructField("split", StructType(Seq(
        StructField("featureIndex", IntegerType),
        StructField("leftCategoriesOrThreshold", ArrayType(DoubleType)),
        StructField("numCategories", IntegerType)))))))))

  private val modelClass = classOf[RandomForestClassificationModel].getName

  /** The forest MLlib saved under `path`, read from its metadata file and
    * one scan of its node table, with the checks MLlib's reader makes.
    */
  def load(spark: SparkSession, path: String): FlatForest = {
    import org.json4s._
    implicit val formats: Formats = DefaultFormats
    val meta = org.json4s.jackson.JsonMethods.parse(metadata(spark, path))
    val cls = (meta \ "class").extract[String]
    require(cls == modelClass, s"Error loading metadata: Expected class name " +
      s"$modelClass but found class name $cls")
    val numTrees = (meta \ "numTrees").extract[Int]
    val nodes = spark.read.schema(nodeSchema).parquet(new Path(path, "data").toString)
      .select("treeID", "nodeData.id", "nodeData.impurityStats", "nodeData.leftChild",
        "nodeData.rightChild", "nodeData.split.featureIndex",
        "nodeData.split.leftCategoriesOrThreshold", "nodeData.split.numCategories")
      .collect()
    val forest = build((meta \ "numFeatures").extract[Int],
      (meta \ "numClasses").extract[Int], nodes)
    require(forest.roots.length == numTrees, s"RandomForestClassificationModel.load " +
      s"expected $numTrees trees based on metadata but found ${forest.roots.length} trees.")
    forest
  }

  /** The forest of an MLlib model in memory. */
  def apply(model: RandomForestClassificationModel): FlatForest =
    build(model.numFeatures, model.numClasses, GraftForest.nodeRows(model))

  /** The metadata JSON MLlib wrote as the one line of a text file, read
    * with the file system rather than a Spark job.
    */
  private def metadata(spark: SparkSession, path: String): String = {
    val dir = new Path(path, "metadata")
    val fs = dir.getFileSystem(spark.sessionState.newHadoopConf())
    fs.listStatus(dir).map(_.getPath).filter(_.getName.startsWith("part-"))
      .sortBy(_.getName).iterator.flatMap { p =>
        val in = scala.io.Source.fromInputStream(fs.open(p), "UTF-8")
        try in.getLines().filter(_.nonEmpty).toList finally in.close()
      }.nextOption().getOrElse(throw new IllegalArgumentException(
        s"$path has no model metadata"))
  }

  /** Lays out node rows of (treeID, id, impurityStats, leftChild,
    * rightChild, featureIndex, leftCategoriesOrThreshold, numCategories),
    * tree by tree in `treeID` order, each tree's nodes at their ids.
    */
  private def build(numFeatures: Int, numClasses: Int, rows: Seq[Row]): FlatForest = {
    val trees = rows.groupBy(_.getInt(0)).toSeq.sortBy(_._1).map(_._2.sortBy(_.getInt(1)))
    val offsets = trees.scanLeft(0)(_ + _.length)
    val n = offsets.last
    val feature = new Array[Int](n)
    val threshold = new Array[Double](n)
    val categories = new Array[Array[Double]](n)
    val leftSet = new Array[Boolean](n)
    val left, right = new Array[Int](n)
    val votes = new Array[Double](n * numClasses)
    for ((tree, off) <- trees.zip(offsets); (r, id) <- tree.zipWithIndex) {
      require(r.getInt(1) == id, s"Decision Tree load failed. Expected node ids " +
        s"0 to ${tree.length - 1} in tree ${r.getInt(0)}, but found ${r.getInt(1)}")
      val i = off + id
      if (r.getInt(3) == -1) {
        feature(i) = -1
        val stats = r.getSeq[Double](2).toArray
        val sum = stats.sum
        if (sum != 0) for (c <- 0 until numClasses) votes(i * numClasses + c) = stats(c) / sum
      } else {
        feature(i) = r.getInt(5)
        val split = r.getSeq[Double](6).toArray
        val numCategories = r.getInt(7)
        if (numCategories == -1) threshold(i) = split(0)
        else {
          leftSet(i) = split.length <= numCategories / 2
          categories(i) =
            if (leftSet(i)) split
            else (0 until numCategories).map(_.toDouble).filterNot(split.contains).toArray
        }
        left(i) = off + r.getInt(3)
        right(i) = off + r.getInt(4)
      }
    }
    new FlatForest(numFeatures, numClasses, offsets.init.toArray, feature, threshold,
      categories, leftSet, left, right, votes)
  }
}
