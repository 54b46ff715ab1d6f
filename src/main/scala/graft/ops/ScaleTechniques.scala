package graft.ops

import graft.Tables._
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicBoolean

/** Named 100 TB-scale techniques as first-class, oracle-checked
  * operators: each produces results identical to its naive form while
  * demonstrating the plan shape that survives skew / shuffle pressure
  * at cluster scale.
  */
object ScaleTechniques {

  /** Identity component for cache keys over a source dataset dir: the
    * leaf name (readability) plus a fingerprint of the CANONICAL path
    * and the FULL RECURSIVE (relative path, mtime) listing. Two
    * directories sharing a leaf name (…/a/sf0.1 vs …/b/sf0.1) get
    * distinct keys instead of silently aliasing one cached layout, and
    * regenerating ANY file — including one inside a nested
    * subdirectory, which a top-level-only newest-mtime scan missed —
    * rolls the fingerprint so every derived layout keyed on it is
    * rebuilt; adding/removing files rolls it too (the listing hashes
    * paths, not just times). Dots are mapped out so the key is also a
    * valid catalog table-name fragment.
    */
  def datasetKey(sfDir: String): String = {
    val dir = new java.io.File(sfDir)
    val root = dir.getCanonicalFile
    def walk(f: java.io.File): Seq[java.io.File] =
      Option(f.listFiles()).map(_.toSeq.flatMap(c =>
        if (c.isDirectory) walk(c) else Seq(c))).getOrElse(Nil)
    val listing = walk(root)
      .map(f => s"${f.getPath.stripPrefix(root.getPath)}@${f.lastModified}")
      .sorted.mkString("\n")
    val hex = java.security.MessageDigest.getInstance("SHA-1")
      .digest(s"${root.getPath}\n$listing".getBytes("UTF-8"))
      .take(6).map(b => f"$b%02x").mkString
    s"${dir.getName.replace('.', '_')}_$hex"
  }

  private def rmTree(f: java.io.File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(rmTree)); f.delete()
  }

  /** Parallelism guard for per-row-HEAVY pre-shuffle stages (round 20,
    * guide §2.5/§2.6): a stage's task count is the SCAN's split count,
    * and a small-but-expensive input (one sub-128 MB parquet file
    * carrying XML to parse, text to n-gram, vectors to dot) serializes
    * the whole stage on one core while the rest of the cluster idles —
    * measured on the board: fn_xpath 2.9 s with 0 shuffle = one task.
    * Repartition to the session's parallelism ONLY when the scan
    * under-splits (at real scale parquet splits naturally and this is
    * a no-op — the check keeps the exchange from riding along where it
    * would be pure payload movement); round-robin with Spark's
    * sort-before-repartition default keeps the row→partition map
    * deterministic under retries. Results are unaffected by
    * construction: callers' downstream aggregates are order-free.
    */
  def ensureParallelism(df: DataFrame): DataFrame = {
    val want = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < want) df.repartition(want) else df
  }

  // one build flag per artifact path: a new context's scratch root
  // gives every key a new path, so each context builds its own
  private val matBuilt = new ConcurrentHashMap[String, AtomicBoolean]()

  /** Builds a derived dataset once per SparkContext and returns its
    * path in the context's scratch directory ([[graft.Tables.scratchPath]]),
    * which goes when the context stops. `key` names the artifact and
    * embeds the dataset identity ([[datasetKey]]); `write` builds it at
    * the path. Threads wanting the same key share one build under a
    * per-key lock, while other keys build concurrently. A build that
    * throws is not recorded: the next call clears what it left behind
    * and builds again.
    */
  def materializeOnce(key: String)(write: String => Unit): String = {
    val dest = scratchPath(s"mat/$key")
    val built = matBuilt.computeIfAbsent(dest, _ => new AtomicBoolean)
    built.synchronized {
      if (!built.get) {
        rmTree(new java.io.File(dest))
        write(dest)
        built.set(true)
      }
    }
    dest
  }

  /** Two-phase salted aggregation: phase 1 spreads each hot key over
    * 16 salt shards (bounded per-task state even if one user owns half
    * the stream), phase 2 merges shard partials. Result is identical
    * to the direct groupBy — the oracle proves it.
    */
  def skewSaltedAgg(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    events(spark, sfDir)
      .withColumn("salt", pmod($"event_id", lit(16)))
      .groupBy($"user_id", $"salt")
      .agg(count(lit(1)).as("pn"), sum(money($"value")).as("ps"))
      .groupBy($"user_id")
      .agg(sum($"pn").as("n_events"), sum($"ps").cast(DoubleType).as("sum_value"))
      .orderBy($"user_id")
  }

  /** Co-located join via Hive-style bucketing: both fact tables are
    * written bucketed (8 buckets) + sorted on the join key, so the
    * sort-merge join reads matching buckets directly — no Exchange on
    * either side (asserted in PlanSpec). This is the pre-partitioning
    * pattern that amortizes one shuffle across every future join on
    * the key.
    */
  def joinBucketedColocated(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val tag = datasetKey(sfDir)
    val (to, tl) = (s"graft_orders_b_$tag", s"graft_lineitem_b_$tag")
    // One-time layout of the join-relevant projection only, since the
    // one bucketing shuffle's cost scales with bytes written. The
    // in-memory catalog entry and its files under the scratch
    // directory both live as long as the context.
    def ensure(name: String, bucketCol: String)(df: => DataFrame): Unit =
      if (!spark.catalog.tableExists(name))
        df.write.mode(SaveMode.Overwrite)
          .option("path", scratchPath(s"bucketed/$name"))
          .bucketBy(8, bucketCol).sortBy(bucketCol)
          .saveAsTable(name)
    ensure(to, "o_orderkey") {
      orders(spark, sfDir).select(col("o_orderkey"), col("o_orderpriority"))
    }
    ensure(tl, "l_orderkey") {
      lineitem(spark, sfDir)
        .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount"))
    }
    val one = lit(1).cast(D4_2)
    // isolated session: at toy scale AQE would runtime-convert even a
    // hinted SMJ to broadcast and hide the bucket mechanics; big-big
    // (never-broadcastable) is the shape this op models. newSession
    // shares the catalog but scopes the conf to this query only.
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    s2.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    s2.table(tl).join(s2.table(to), $"l_orderkey" === $"o_orderkey")
      .groupBy($"o_orderpriority")
      .agg(count(lit(1)).as("n_items"),
        sum(money($"l_extendedprice") * (one - rate($"l_discount"))).as("_rev"))
      .select($"o_orderpriority", $"n_items", $"_rev".cast(DoubleType).as("revenue"))
      .orderBy($"o_orderpriority")
  }

  /** Shared directory-partitioned copy of `events` (partition column:
    * `event_type`). One-time amortized layout step, like the bucketed
    * tables; reused by both the static pruning scan and the dynamic
    * partition pruning join.
    */
  def partitionedEvents(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val out = materializeOnce(s"part_events_${datasetKey(sfDir)}") { tmp =>
      events(spark, sfDir)
        .select($"event_id", $"user_id", $"value", $"event_type")
        .write.mode(SaveMode.Overwrite).partitionBy("event_type").parquet(tmp)
    }
    spark.read.parquet(out)
  }

  /** Directory-partitioned layout + static partition pruning: the
    * predicate on the partition column becomes a PartitionFilter (no
    * data files of other partitions are even listed), the 100 TB
    * analogue of reading one day/type out of years of data.
    */
  def scanPartitionPruning(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    partitionedEvents(spark, sfDir)
      .filter($"event_type" === "purchase")
      .select($"event_id", $"user_id", $"value", $"event_type")
      .orderBy($"event_id")
  }
}
