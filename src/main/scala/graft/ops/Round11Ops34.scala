package graft.ops

import graft.Tables._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Round-11 widening, part 34: nested-struct roundtrip, price
  * waterfall, partition file stats, width_bucket, bounding-box IoU.
  */
object Round11Ops34 {

  /** Nested parquet roundtrip: orders nest their lineitems as an
    * array<struct> (the document-shaped export every API hands
    * downstream), write, read back, explode, and re-aggregate onto
    * the flat baseline. Nesting serializes the join ONCE — at 100 TB
    * the consumer reads parent+children colocated with no join at
    * all, and parquet stores the nested columns columnar (list
    * offsets + child pages), so a child-only projection still prunes.
    */
  def sourceNestedRoundtrip(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val dir = runDir("r11_nested", sfDir)
    // Round 20 (the source_path_glob lesson, §6 project-before-
    // exchange): aggregate lineitem FIRST and attach the order
    // attribute AFTER the aggregation — the collect_list exchange
    // then carries only (orderkey, cents) partials, the join reuses
    // the aggregate's hash(orderkey) partitioning (no broadcast: the
    // orders side scales with the data), and the join moves only the
    // 2-column orders projection instead of every lineitem. The line
    // number is dropped from the nested struct (written, never read
    // back; the read-back aggregate consumes only cents). sort_array
    // keeps the file deterministic. Read-back result is byte-identical
    // (oracle-proven): inner-join keys and the cents multiset are
    // unchanged.
    val nested = lineitem(spark, sfDir)
      .groupBy($"l_orderkey".as("o_orderkey"))
      .agg(sort_array(collect_list(struct(
        (money($"l_extendedprice") * 100).cast(LongType).as("cents"))))
        .as("items"))
      .join(orders(spark, sfDir)
        .select($"o_orderkey", $"o_orderpriority"), "o_orderkey")
      .select($"o_orderkey", $"o_orderpriority", $"items")
    nested.write.mode("overwrite").parquet(dir)
    spark.read.parquet(dir)
      .select($"o_orderpriority", explode($"items").as("it"))
      .groupBy($"o_orderpriority")
      .agg(count(lit(1)).as("n_items"), sum($"it.cents").as("sum_cents"))
      .orderBy($"o_orderpriority")
  }

  /** Gross→discount→tax→net price waterfall per order month — the
    * margin bridge finance reconciles every close: all four
    * components accumulate as exact DECIMAL cents and net is checked
    * arithmetic, not a separate scan. One orderkey join, one
    * month-keyed aggregate.
    */
  def analyticPriceWaterfall(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val one = lit(1).cast(DecimalType(4, 2))
    lineitem(spark, sfDir)
      .join(orders(spark, sfDir), $"l_orderkey" === $"o_orderkey")
      .select(date_format($"o_orderdate", "yyyy-MM").as("om"),
        (money($"l_extendedprice") * 100).cast(LongType).as("gross"),
        // explicit floor: sub-cent discount/tax amounts truncate the
        // same way in both engines (Spark's decimal→long truncates,
        // DuckDB's ROUNDS — the cast must never see a fraction)
        floor((money($"l_extendedprice") * rate($"l_discount")) * 100)
          .cast(LongType).as("disc"),
        floor((money($"l_extendedprice") * (one - rate($"l_discount")) *
          rate($"l_tax")) * 100).cast(LongType).as("tax"))
      .groupBy($"om")
      .agg(sum($"gross").as("gross_cents"),
        sum($"disc").as("discount_cents"),
        sum($"tax").as("tax_cents"),
        (sum($"gross") - sum($"disc") + sum($"tax")).as("charged_cents"))
      .orderBy($"om")
  }

  /** Partition-layout audit via the _metadata column: after a
    * partition-clustered write, every partition directory must hold
    * exactly ONE file (the small-files contract the glob op
    * establishes) — counted from the files the scan actually
    * touched, not from a directory listing the engine could cache.
    */
  def pipelinePartitionFileStats(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val dir = runDir("r11_pstats", sfDir)
    events(spark, sfDir)
      .select($"event_id", $"event_type",
        (money($"value") * 100).cast(LongType).as("cents"))
      .repartition($"event_type")
      .write.mode("overwrite").partitionBy("event_type").parquet(dir)
    spark.read.parquet(dir)
      .select($"event_type", col("_metadata.file_path").as("fp"))
      .groupBy($"event_type")
      .agg(countDistinct($"fp").as("n_files"), count(lit(1)).as("n_rows"))
      .orderBy($"event_type")
  }

  /** width_bucket binning: equal-width histogram assignment with
    * explicit under/overflow buckets (0 and n+1) — the SQL-standard
    * binning the log2 histogram complements. The oracle re-derives
    * the bucket with the floor formula, so the builtin's edge
    * semantics (lo inclusive, hi exclusive, clamping) are checked.
    */
  def fnWidthBucket(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    orders(spark, sfDir)
      .select(expr("width_bucket(o_totalprice, 50000.0, 350000.0, 6)")
        .cast(IntegerType).as("bucket"),
        (money($"o_totalprice") * 100).cast(LongType).as("cents"))
      .groupBy($"bucket")
      .agg(count(lit(1)).as("n"), min($"cents").as("min_cents"),
        max($"cents").as("max_cents"))
      .orderBy($"bucket")
  }

  /** Bounding-box IoU census — the detection-dedup primitive of a
    * vision pipeline, on deterministic synthetic boxes (hash-derived
    * integer rects per error event). Pairs form within a
    * (day, user) FRAME only — the detection unit, and the blocking
    * key that scales: round-14's 10× probe measured the previous
    * per-DAY blocking at 22× (days are a FIXED 30, so per-day
    * populations — and the pair count — grow quadratically with the
    * corpus; frames grow WITH the corpus, keeping boxes-per-frame
    * bounded and the census linear). IoU is pure integer
    * intersection/union algebra with ONE final division. Overlap
    * bands count how crowded each frame's detections are.
    */
  def multimodalBboxIou(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val boxes = events(spark, sfDir)
      .filter($"event_type" === "error")
      .select($"event_id", to_date($"ts").as("d"), $"user_id",
        pmod($"event_id", lit(80)).cast(LongType).as("x"),
        pmod($"event_id" * 7, lit(80)).cast(LongType).as("y"),
        (pmod($"event_id" * 13, lit(20)) + 5).cast(LongType).as("w"),
        (pmod($"event_id" * 29, lit(20)) + 5).cast(LongType).as("h"))
    val pairs = boxes.as("a").join(boxes.as("b"),
        col("a.d") === col("b.d") && col("a.user_id") === col("b.user_id") &&
          col("a.event_id") < col("b.event_id"))
      .select(col("a.d").as("d"),
        greatest(lit(0L),
          least(col("a.x") + col("a.w"), col("b.x") + col("b.w")) -
            greatest(col("a.x"), col("b.x"))).as("ix"),
        greatest(lit(0L),
          least(col("a.y") + col("a.h"), col("b.y") + col("b.h")) -
            greatest(col("a.y"), col("b.y"))).as("iy"),
        (col("a.w") * col("a.h")).as("area_a"),
        (col("b.w") * col("b.h")).as("area_b"))
      .select($"d", ($"ix" * $"iy").as("inter"),
        ($"area_a" + $"area_b").as("areas"))
    pairs
      .select($"d",
        // IoU >= 0.3 as integer math: 10·inter >= 3·(areas − inter)
        // ⟺ 13·inter >= 3·areas
        when($"inter" === 0, "disjoint")
          .when($"inter" * 13 >= $"areas" * 3, "overlap_30plus")
          .otherwise("touch_under_30").as("band"))
      .groupBy($"band")
      .agg(count(lit(1)).as("n_pairs"))
      .orderBy($"band")
  }
}
