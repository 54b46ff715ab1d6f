package graft

import java.util.SplittableRandom

import org.apache.spark.SparkContext
import org.apache.spark.ml.GraftForest
import org.apache.spark.ml.classification.RandomForestClassificationModel
import org.apache.spark.ml.tree.{LeafNode, Node}

/** Whole-tree forest induction, the reference's shape: a task grows whole
  * trees in memory and the forest is their union. MLlib instead runs one
  * distributed job per tree level (PLANET), which on a training set that
  * fits in memory is mostly scheduling. Every tree bootstraps the whole
  * set, so it is binned once on the driver and broadcast, and the trees
  * grow in one job of one task per core.
  *
  * Tree `t` grows from seed `seed + t`, so the forest is a function of the
  * rows, in the order given, and the seed — not of partitioning or cores:
  *  - Poisson(1) bootstrap weights over all rows, and ⌈√d⌉ features drawn
  *    at each node; as in MLlib, a forest of one tree instead weighs every
  *    row once and tries every feature;
  *  - at most `maxBins − 1` split candidates per feature (`thresholds`);
  *  - weighted Gini; a node splits only below `maxDepth` and with gain > 0;
  *  - sibling leaves with the same prediction merge, as MLlib prunes.
  */
private[graft] object LocalForest {

  /** What every tree task reads: `bins(f)(i)` is row i's bin of feature f,
    * the index of the first of `cuts(f)` at or above its value.
    */
  private final case class Binned(cuts: Array[Array[Double]],
      bins: Array[Array[Byte]], labels: Array[Int], numClasses: Int)

  /** The forest of `numTrees` trees over `rows` of (features, label). */
  def fit(sc: SparkContext, rows: Array[(Array[Double], Int)], numTrees: Int,
      maxDepth: Int, maxBins: Int, seed: Long): RandomForestClassificationModel = {
    require(rows.nonEmpty, "the training input has no rows")
    require(maxBins <= 256, s"maxBins $maxBins does not fit a byte bin")
    val numFeatures = rows.head._1.length
    require(rows.forall(_._1.length == numFeatures),
      "the training rows differ in their number of features")
    val cuts = Array.tabulate(numFeatures) { f =>
      val sorted = rows.map(_._1(f))
      java.util.Arrays.sort(sorted)
      thresholds(sorted, maxBins)
    }
    val bins = Array.tabulate(numFeatures) { f =>
      rows.map { r =>
        val i = java.util.Arrays.binarySearch(cuts(f), r._1(f))
        (if (i >= 0) i else -i - 1).toByte
      }
    }
    val labels = rows.map(_._2)
    val numClasses = labels.max + 1
    val data = sc.broadcast(Binned(cuts, bins, labels, numClasses))
    val roots =
      try sc.parallelize(0 until numTrees, sc.defaultParallelism)
        .map(t => grow(data.value, maxDepth, seed + t, bagged = numTrees > 1)).collect()
      finally data.destroy()
    GraftForest.forest(roots, numFeatures, numClasses, maxDepth, maxBins, seed)
  }

  /** At most `maxBins − 1` thresholds over one feature's sorted values.
    * With at most `maxBins` distinct values, every midpoint between
    * neighbours. Otherwise equal-frequency cuts: each splits the rows not
    * yet below a cut evenly over the bins still to fill, and one that lands
    * inside a run of equal values moves to the end of the run, where it
    * still separates rows, rather than being dropped.
    */
  private[graft] def thresholds(sorted: Array[Double], maxBins: Int): Array[Double] = {
    val n = sorted.length
    def mid(p: Int) = (sorted(p - 1) + sorted(p)) / 2
    val starts = (1 until n).iterator.filter(p => sorted(p) != sorted(p - 1))
      .take(maxBins).toArray
    if (starts.length < maxBins) starts.map(mid)
    else {
      val cuts = Array.newBuilder[Double]
      var made = 0
      var p = 0
      while (made < maxBins - 1 && p < n) {
        p += math.max(1, math.round((n - p).toDouble / (maxBins - made)).toInt)
        while (p < n && sorted(p) == sorted(p - 1)) p += 1
        if (p < n) { cuts += mid(p); made += 1 }
      }
      cuts.result()
    }
  }

  private val expMinus1 = math.exp(-1)

  /** A Poisson(1) draw, by Knuth's product of uniforms. */
  private def poisson(rng: SplittableRandom): Int = {
    var k = 0
    var p = rng.nextDouble()
    while (p > expMinus1) { k += 1; p *= rng.nextDouble() }
    k
  }

  private def gini(counts: Array[Double], total: Double): Double =
    if (total <= 0) 0.0
    else 1.0 - counts.iterator.map { c => val q = c / total; q * q }.sum

  /** One tree, grown depth-first. A node owns `rows(from until until)`,
    * the indices of the rows its bootstrap drew; a split reorders them in
    * place, left child first.
    */
  private def grow(d: Binned, maxDepth: Int, seed: Long, bagged: Boolean): Node = {
    val rng = new SplittableRandom(seed)
    val k = d.numClasses
    val weight = Array.fill(d.labels.length)(if (bagged) poisson(rng) else 1)
    val rows = weight.indices.filter(weight(_) > 0).toArray
    val features = Array.range(0, d.bins.length)
    val draw = if (bagged) math.ceil(math.sqrt(features.length)).toInt else features.length

    def node(from: Int, until: Int, depth: Int, counts: Array[Double]): Node = {
      val total = counts.sum
      val impurity = gini(counts, total)
      var (gain, feature, bin, leftCounts) = (0.0, -1, -1, Array.emptyDoubleArray)
      if (depth < maxDepth && impurity > 0) for (j <- 0 until draw) {
        // a partial Fisher–Yates shuffle: features(0 until draw) is this node's draw
        val r = j + rng.nextInt(features.length - j)
        val f = features(r)
        features(r) = features(j)
        features(j) = f
        val col = d.bins(f)
        val numBins = d.cuts(f).length + 1
        val hist = new Array[Double](numBins * k)
        for (i <- from until until) {
          val row = rows(i)
          hist((col(row) & 0xff) * k + d.labels(row)) += weight(row)
        }
        val left = new Array[Double](k)
        for (b <- 0 until numBins - 1) {
          for (c <- 0 until k) left(c) += hist(b * k + c)
          val lw = left.sum
          val rw = total - lw
          if (lw > 0 && rw > 0) {
            val right = Array.tabulate(k)(c => counts(c) - left(c))
            val g = impurity - lw / total * gini(left, lw) - rw / total * gini(right, rw)
            if (g > gain) { gain = g; feature = f; bin = b; leftCounts = left.clone }
          }
        }
      }
      if (feature < 0) GraftForest.leaf(counts)
      else {
        val col = d.bins(feature)
        var mid = from
        for (i <- from until until if (col(rows(i)) & 0xff) <= bin) {
          val row = rows(i)
          rows(i) = rows(mid)
          rows(mid) = row
          mid += 1
        }
        val rightCounts = Array.tabulate(k)(c => counts(c) - leftCounts(c))
        (node(from, mid, depth + 1, leftCounts),
          node(mid, until, depth + 1, rightCounts)) match {
          case (l: LeafNode, r: LeafNode) if l.prediction == r.prediction =>
            GraftForest.leaf(counts)
          case (l, r) =>
            GraftForest.internal(counts, gain, feature, d.cuts(feature)(bin), l, r)
        }
      }
    }

    val rootCounts = new Array[Double](k)
    for (row <- rows) rootCounts(d.labels(row)) += weight(row)
    node(0, rows.length, 0, rootCounts)
  }
}
