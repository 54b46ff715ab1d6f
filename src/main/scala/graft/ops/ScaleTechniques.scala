package graft.ops

import graft.Tables._
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Named 100 TB-scale techniques as first-class, oracle-checked
  * operators: each produces results identical to its naive form while
  * demonstrating the plan shape that survives skew / shuffle pressure
  * at cluster scale.
  */
object ScaleTechniques {

  /** Publish-once materialization of a derived /tmp layout. Writers
    * race two ways: threads in this JVM (Bench/Verify run queries
    * concurrently in tests) — serialized by the lock — and separate
    * JVMs (a Bench and a Verify at once) — handled by writing to a
    * unique temp sibling and ATOMICALLY renaming into place, so a
    * reader never observes a half-written directory (the old
    * `_SUCCESS`-existence check passed while part files were still
    * streaming in). Loser of a cross-JVM race just deletes its temp.
    * `key` should embed the dataset identity + a layout version, not a
    * bare hashCode (collision would silently alias two datasets).
    */
  /** Identity component for cache keys over a source dataset dir: the
    * leaf name (readability) plus a fingerprint of the CANONICAL path
    * and the FULL RECURSIVE (relative path, mtime) listing. Two
    * directories sharing a leaf name (…/a/sf0.1 vs …/b/sf0.1) get
    * distinct keys instead of silently aliasing one cached layout, and
    * regenerating ANY file — including one inside a nested
    * subdirectory, which a top-level-only newest-mtime scan missed —
    * rolls the fingerprint so every derived /tmp layout keyed on it is
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

  // Per-KEY build locks (round-13 advisory): a process-global lock
  // serialized every artifact read behind whichever long build (CC
  // loop, BPE trainer) held it first in a parallel sweep. Unrelated
  // keys now build/read concurrently; two threads wanting the SAME
  // key still collapse to one build, and the cross-JVM race stays
  // handled by the rename-publish protocol below.
  private val matLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()
  def materializeOnce(key: String)(write: String => Unit): String =
    matLocks.computeIfAbsent(key, _ => new Object).synchronized {
      val dest = new java.io.File(s"/tmp/graft_mat/$key")
      def done = new java.io.File(dest, "_SUCCESS").exists()
      if (!done) {
        dest.getParentFile.mkdirs()
        val tmp = new java.io.File(dest.getPath + ".tmp-" +
          java.util.UUID.randomUUID().toString.take(8))
        write(tmp.getPath)
        if (!tmp.renameTo(dest)) {
          // another JVM published first (rename onto an existing dir
          // fails) — keep theirs, drop ours
          if (!done) throw new IllegalStateException(
            s"materializeOnce($key): rename failed and no published copy")
          rmTree(tmp)
        }
      }
      // GC: every legitimate fingerprint roll (dataset regenerated)
      // would otherwise STRAND the previous layout for the same stem —
      // accumulation without bound across regenerations. An old-key
      // layout is derived from data that no longer exists, so any
      // reader still on it is already reading a stale derivation;
      // deleting it is strictly better than keeping both. The stem
      // strips the fingerprint suffix AND the artifact's _vN version
      // segment (round-13 advisory: bumping ivf_index_v1 -> v3
      // stranded the v1 dirs; the round-13 trailing-only _vN$ strip
      // never fired for keys shaped name_vN_<datasetKey> because the
      // version rides mid-key), so a version bump reaps the previous
      // version's dirs the same way a fingerprint roll does. Only the
      // FIRST _vN segment is stripped (round-17 advisory): keys are
      // shaped <artifact>_vN_<datasetKey> with the artifact version
      // ahead of the dataset identity, and the round-17 strip-anywhere
      // form also normalized version-looking segments INSIDE the
      // datasetKey's directory-name portion — a dataset dir named
      // events_v2_x would share a stem with one named events_x, and
      // this GC would reap the other dataset's LIVE artifact.
      def stemOf(n: String): String = n.replaceAll("_[0-9a-f]{12}$", "")
        .replaceFirst("_v\\d+(_|$)", "$1")
      val stem = stemOf(key)
      if (stem != key)
        Option(dest.getParentFile.listFiles()).foreach(_.foreach { f =>
          if (f.getName != key && !f.getName.contains(".tmp-") &&
            f.getName.matches(".*_[0-9a-f]{12}$") &&
            stemOf(f.getName) == stem)
            rmTree(f)
        })
      dest.getPath
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
    // One-time layout, three states per table: already cataloged (hit);
    // data on disk but catalog entry lost (fresh JVM with the default
    // in-memory catalog — RE-ATTACH via external-table DDL, bucket
    // metadata lives in the catalog and bucket ids in the file names,
    // so no data moves); neither (write the curated bucketed layout —
    // the join-relevant projection only, since the one bucketing
    // shuffle's cost scales with bytes written).
    def ensure(name: String, ddlCols: String, bucketCol: String)
        (write: => Unit): Unit = {
      val path = s"/tmp/graft_bucketed/$name"
      // GC stale-key siblings: a dataset regeneration rolls the
      // fingerprint in `name`, and without cleanup every roll strands
      // the previous bucketed layout AND its catalog entry (same
      // bounded-/tmp contract as materializeOnce's GC)
      val stem = name.replaceAll("_[0-9a-f]{12}$", "")
      if (stem != name) {
        val stale = java.util.regex.Pattern.quote(stem) + "_[0-9a-f]{12}"
        spark.catalog.listTables().collect()
          .map(_.name).filter(n => n != name && n.matches(stale))
          .foreach(n => spark.sql(s"DROP TABLE IF EXISTS $n"))
        Option(new java.io.File("/tmp/graft_bucketed").listFiles())
          .foreach(_.foreach(f =>
            if (f.getName != name && f.getName.matches(stale)) rmTree(f)))
      }
      if (!spark.catalog.tableExists(name)) {
        if (new java.io.File(s"$path/_SUCCESS").exists()) {
          spark.sql(
            s"""CREATE TABLE $name ($ddlCols) USING PARQUET
               |CLUSTERED BY ($bucketCol) SORTED BY ($bucketCol) INTO 8 BUCKETS
               |LOCATION '$path'""".stripMargin)
        } else write
      }
    }
    ensure(to, "o_orderkey BIGINT, o_orderpriority STRING", "o_orderkey") {
      orders(spark, sfDir)
        .select(col("o_orderkey"), col("o_orderpriority"))
        .write.mode(SaveMode.Overwrite)
        .option("path", s"/tmp/graft_bucketed/$to")
        .bucketBy(8, "o_orderkey").sortBy("o_orderkey")
        .saveAsTable(to)
    }
    ensure(tl, "l_orderkey BIGINT, l_extendedprice DOUBLE, l_discount DOUBLE",
        "l_orderkey") {
      lineitem(spark, sfDir)
        .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount"))
        .write.mode(SaveMode.Overwrite)
        .option("path", s"/tmp/graft_bucketed/$tl")
        .bucketBy(8, "l_orderkey").sortBy("l_orderkey")
        .saveAsTable(tl)
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
    val out = materializeOnce(s"part_events_v1_${datasetKey(sfDir)}") { tmp =>
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
