package graft.ops

import graft.Tables._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Round-11 widening, part 31: lookahead regex, personalized
  * pagerank, corrupt JSON records, bytes-per-token, bitwise
  * aggregates, RANGE-peers semantics.
  */
object Round11Ops31 {

  /** Lookahead regex census: occurrences of 'data' ONLY when followed
    * by 'merge' — JVM regex supports lookarounds, RE2 engines don't,
    * so the oracle proves the SEMANTICS by plain substring counting
    * on the padded text. The portability trap (and its audit) every
    * cross-engine regex migration needs.
    */
  def fnRegexLookahead(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    documents(spark, sfDir)
      .select($"doc_id",
        size(expr("regexp_extract_all(text, 'data(?= merge)', 0)"))
          .cast(LongType).as("n_lookahead"),
        size(expr("regexp_extract_all(text, '(?<=fast )scan', 0)"))
          .cast(LongType).as("n_lookbehind"))
      .filter($"n_lookahead" > 0 || $"n_lookbehind" > 0)
      .orderBy($"doc_id")
  }

  /** Personalized PageRank from the minimum-id seed node, six
    * iterations, α = 0.85 — each iteration's per-edge contributions
    * freeze at 9 dp as DECIMAL before the neighbor sum (freeze-then-
    * sum per round), so the sequential recursion is deterministic at
    * any parallelism. Degree-normalized push along the bounded-degree
    * thinned graph; teleport mass returns to the seed only.
    */
  def graphPersonalizedPagerank(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val und = Round10Ops4.thinnedGraph(spark, sfDir)
    val adj = und.select($"u".as("a"), $"v".as("b"))
      .unionAll(und.select($"v".as("a"), $"u".as("b")))
      .localCheckpoint()
    val deg = adj.groupBy($"a").agg(count(lit(1)).as("d"))
    // Round 19: the degree rides the adjacency (attached ONCE) instead
    // of riding x through a per-round nodes⨝pushed rebuild — that
    // rebuild was a second full join every round whose only job was to
    // re-attach d and carry all-zero rows. The mass vector x now holds
    // ONLY nodes the walk has reached (absent ≡ x = 0: an absent node
    // pushes nothing, exactly like a zero row; the final ppr > 0
    // filter dropped the zero rows anyway), so early rounds join a
    // frontier-sized frame, not the whole node set.
    val adjD = adj.join(deg, "a").select($"a", $"b", $"d")
      .localCheckpoint(true)
    val seed = deg.agg(min($"a")).head().getLong(0)
    var x: DataFrame = adjD.sparkSession.range(1)
      .select(lit(seed).as("node"), lit(1.0).as("x"))
    for (_ <- 1 to 6) {
      val pushed = adjD.join(x, $"a" === $"node")
        .select($"b",
          round(lit(0.85) * $"x" / $"d".cast(DoubleType), 9)
            .cast(DecimalType(28, 9)).as("m"))
        .groupBy($"b").agg(sum($"m").as("inflow"))
      // the seed's 0.15 teleport folds in via a 1-row union — same two
      // operands as the old coalesce(inflow)+0.15 (double addition is
      // commutative; groups here have at most 2 rows)
      x = pushed.select($"b".as("node"), $"inflow".cast(DoubleType).as("x"))
        .unionAll(adjD.sparkSession.range(1)
          .select(lit(seed).as("node"), lit(0.15).as("x")))
        .groupBy($"node").agg(sum($"x").as("x"))
        .localCheckpoint()
    }
    x.select($"node", round($"x", 6).as("ppr"))
      .filter($"ppr" > 0)
      .orderBy($"ppr".desc, $"node")
      .limit(50)
  }

  /** Corrupt-record JSON ingestion: a json-lines feed where 1-in-10
    * rows is deliberately malformed, read in PERMISSIVE mode with a
    * _corrupt_record column — bad rows quarantine into the rescue
    * column instead of failing the batch, and the aggregate reports
    * both populations. The JSON twin of the malformed-CSV audit.
    */
  def sourceJsonCorruptRecords(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val dir = runDir("r11_badjson", sfDir)
    events(spark, sfDir)
      .select($"event_id", $"event_type",
        (money($"value") * 100).cast(LongType).as("cents"))
      .select(when(pmod($"event_id", lit(10)) === 0,
          concat(lit("{broken"), $"event_id".cast(StringType)))
        .otherwise(to_json(struct($"event_id", $"event_type", $"cents")))
        .as("line"))
      .write.mode("overwrite").text(dir)
    val schema = StructType(Seq(
      StructField("event_id", LongType), StructField("event_type", StringType),
      StructField("cents", LongType),
      StructField("_corrupt_record", StringType)))
    spark.read.schema(schema)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .json(dir)
      .select(coalesce($"event_type", lit("_CORRUPT")).as("bucket"),
        $"cents")
      .groupBy($"bucket")
      .agg(count(lit(1)).as("n"),
        sum(coalesce($"cents", lit(0L))).as("sum_cents"))
      .orderBy($"bucket")
  }

  /** Bytes-per-token by language — the tokenizer-efficiency metric
    * every multilingual corpus report carries (a high ratio means the
    * tokenizer fragments that language). Exact integer byte and
    * token counts, ONE division per language.
    */
  def textBytesPerToken(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    documents(spark, sfDir)
      .select($"lang",
        octet_length($"text").cast(LongType).as("nb"),
        size(split($"text", " ")).cast(LongType).as("nt"))
      .groupBy($"lang")
      .agg(count(lit(1)).as("n_docs"), sum($"nb").as("n_bytes"),
        sum($"nt").as("n_tokens"))
      .select($"lang", $"n_docs", $"n_bytes", $"n_tokens",
        round($"n_bytes".cast(DoubleType) / $"n_tokens".cast(DoubleType), 6)
          .as("bytes_per_token"))
      .orderBy($"lang")
  }

  /** Bitwise aggregates: per event type, the AND / OR / XOR folds of
    * an 8-bit feature mask (bit 0: high value, bit 1: weekend,
    * bit 2: early month, plus a hash bit) — the flag-algebra
    * aggregation feature stores run over packed boolean columns.
    * All-integer; order-independent by operator algebra.
    */
  def aggBitOps(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val masked = events(spark, sfDir)
      .select($"event_type",
        ((money($"value") >= lit(50)).cast(LongType) +
         (dayofweek($"ts").isin(1, 7)).cast(LongType) * 2 +
         (dayofmonth($"ts") <= 10).cast(LongType) * 4 +
         (pmod($"event_id", lit(2)) === 1).cast(LongType) * 8).as("mask"))
    masked.groupBy($"event_type")
      .agg(count(lit(1)).as("n"),
        expr("bit_and(mask)").as("and_mask"),
        expr("bit_or(mask)").as("or_mask"),
        expr("bit_xor(mask)").as("xor_mask"))
      .orderBy($"event_type")
  }

  /** RANGE vs ROWS peer semantics: with ties in the ORDER column, a
    * RANGE CURRENT ROW frame includes ALL peers (ties share one
    * cumulative value) while ROWS splits them — the window corner
    * that silently changes running totals the day ties appear. Both
    * cumulative sums emitted; n_peers makes the tie structure
    * visible. ROWS ties are made deterministic by a unique tiebreak
    * key in the ROWS ordering.
    */
  def winRangePeers(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val daily = orders(spark, sfDir)
      .groupBy($"o_orderpriority", to_date($"o_orderdate").as("d"))
      .agg(count(lit(1)).as("c"))
      .filter(year($"d") === 1997)
    val byC = Window.partitionBy($"o_orderpriority").orderBy($"c")
    val byCRows = Window.partitionBy($"o_orderpriority").orderBy($"c", $"d")
    daily
      .withColumn("cum_range",
        sum($"c").over(byC.rangeBetween(Window.unboundedPreceding, 0)))
      .withColumn("cum_rows",
        sum($"c").over(byCRows.rowsBetween(Window.unboundedPreceding, 0)))
      .withColumn("n_peers", count(lit(1)).over(byC.rangeBetween(0, 0)))
      .select($"o_orderpriority", $"d", $"c", $"cum_range", $"cum_rows",
        $"n_peers")
      .orderBy($"o_orderpriority", $"c", $"d")
  }
}
