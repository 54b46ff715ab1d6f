package org.apache.spark.ml

import org.apache.spark.ml.classification.{DecisionTreeClassificationModel, RandomForestClassificationModel}
import org.apache.spark.ml.param.ParamMap
import org.apache.spark.ml.tree.{ContinuousSplit, InternalNode, LeafNode, Node}
import org.apache.spark.ml.tree.EnsembleModelReadWrite.EnsembleNodeData
import org.apache.spark.mllib.tree.impurity.GiniCalculator
import org.apache.spark.sql.Row

/** Assembles trees grown outside MLlib (`graft.LocalForest`) into an
  * ordinary `RandomForestClassificationModel`, which saves and loads like a
  * fitted one, and lists a forest's nodes as MLlib saves them
  * (`graft.FlatForest`). Lives under `org.apache.spark.ml` solely to reach
  * the `private[ml]` node, split, model and persistence classes — the same
  * extension-point pattern as `org.apache.spark.graft.GraftIntrospect`.
  */
object GraftForest {

  /** A leaf predicting the class with the largest weight in `counts`. */
  def leaf(counts: Array[Double]): LeafNode = {
    val stats = gini(counts)
    new LeafNode(stats.predict, stats.calculate(), stats)
  }

  /** A node sending rows whose `feature` is at most `threshold` left. */
  def internal(counts: Array[Double], gain: Double, feature: Int,
      threshold: Double, left: Node, right: Node): InternalNode = {
    val stats = gini(counts)
    new InternalNode(stats.predict, stats.calculate(), gain, left, right,
      new ContinuousSplit(feature, threshold), stats)
  }

  /** The forest of `roots`, carrying the parameters it was grown with:
    * `load` checks the saved tree count against `numTrees`.
    */
  def forest(roots: Array[Node], numFeatures: Int, numClasses: Int,
      maxDepth: Int, maxBins: Int, seed: Long): RandomForestClassificationModel = {
    val m = new RandomForestClassificationModel(
      roots.map(new DecisionTreeClassificationModel(_, numFeatures, numClasses)),
      numFeatures, numClasses)
    m.copy(ParamMap(m.numTrees -> roots.length, m.maxDepth -> maxDepth,
      m.maxBins -> maxBins, m.seed -> seed))
  }

  /** Bootstrap weights are whole counts, so the raw count is their sum. */
  private def gini(counts: Array[Double]) =
    new GiniCalculator(counts, counts.sum.toLong)

  /** The rows MLlib's `save` writes to the forest's node table
    * (`EnsembleNodeData.build`), flattened to (treeID, id, impurityStats,
    * leftChild, rightChild, featureIndex, leftCategoriesOrThreshold,
    * numCategories).
    */
  def nodeRows(model: RandomForestClassificationModel): Seq[Row] =
    model.trees.toSeq.zipWithIndex.flatMap { case (tree, t) =>
      EnsembleNodeData.build(tree, t).map { case EnsembleNodeData(treeID, n) =>
        Row(treeID, n.id, n.impurityStats.toSeq, n.leftChild, n.rightChild,
          n.split.featureIndex, n.split.leftCategoriesOrThreshold.toSeq, n.split.numCategories)
      }
    }
}
