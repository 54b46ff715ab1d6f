package graft.ops

import graft.Tables._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Round-11 widening, part 30: pseudo-relevance feedback, messy date
  * parsing, top-percent windows, corrupt-file tolerance,
  * write-audit-publish, fuzzy brand matching.
  */
object Round11Ops30 {

  /** BM25 over an arbitrary term TABLE (the Round11Ops3 protocol with
    * the IN-list generalized to a broadcast join — same idf/tfn
    * algebra, same freeze lanes).
    */
  private def bm25For(spark: SparkSession, toks: DataFrame, dl: DataFrame,
      terms: DataFrame): DataFrame = {
    import spark.implicits._
    val tot = dl.agg(sum($"dl").as("t"), count(lit(1)).as("n"))
    // tf feeds both the df rollup and the score join — checkpoint so
    // the toks scan + broadcast join + aggregate runs once per pass
    // (eager raw blocks; a lazy persist measured SLOWER — cache-fill
    // races between the broadcast subqueries and the main stage)
    val tf = toks.join(broadcast(terms), "term")
      .groupBy($"doc_id", $"term").agg(count(lit(1)).as("tf"))
      .localCheckpoint(true)
    val dft = tf.groupBy($"term").agg(count(lit(1)).as("df"))
    tf.join(dl, Seq("doc_id"))
      .join(broadcast(dft), Seq("term"))
      .crossJoin(broadcast(tot))
      .withColumn("idf",
        round(log(lit(2.0) * ($"n" + 1) / ($"df" * 2 + 1)), 9)
          .cast(DecimalType(28, 9)))
      .withColumn("tfn",
        (lit(22.0) * $"tf" * $"t") /
          (lit(10.0) * $"t" * $"tf" + lit(3.0) * $"t" + lit(9.0) * $"dl" * $"n"))
      .withColumn("c",
        round($"idf".cast(DoubleType) * $"tfn", 9).cast(DecimalType(28, 9)))
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_terms"),
        round(sum($"c").cast(DoubleType), 6).as("bm25"))
  }

  /** Pseudo-relevance feedback (Rocchio-lite): round-1 BM25 top-5
    * docs donate their top-3 non-query terms (count desc, term asc —
    * k-bounded BY CONSTRUCTION, so the expanded vocabulary
    * broadcasts), and round 2 re-scores with the expanded query. Two
    * bounded passes over the same token rollup — the standard recall
    * lever between pure lexical and dense retrieval.
    */
  def simQueryExpansionPrf(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val q = Round11Ops3.queryTerms
    val qdf = q.toDF("term")
    // Round 20: the corpus token explode ran up to five times per
    // execution (each bm25 pass consumed it for dl and tf, plus the
    // expansion rollup — 23 jobs, warm 1.9 s). Materialize the token
    // table and the doc-length rollup ONCE (the r19
    // sim_sparse_tfidf_pairs lesson); localCheckpoint, not persist —
    // eager raw blocks have no cache-fill race between the nested
    // broadcast subqueries and the main stages (the persist form
    // measured slower and unstable). Values are untouched — same
    // expressions over the same rows; the harness frees leaked blocks
    // between ops.
    val toks = documents(spark, sfDir)
      .select($"doc_id", explode(split($"text", " ")).as("term"))
      .localCheckpoint(true)
    val dl = toks.groupBy($"doc_id").agg(count(lit(1)).as("dl"))
      .localCheckpoint(true)
    val top5 = bm25For(spark, toks, dl, qdf)
      .orderBy($"bm25".desc, $"doc_id").limit(5)
      .select($"doc_id")
    val expansion = toks.join(broadcast(top5), "doc_id")
      .filter(!$"term".isin(q: _*))
      .groupBy($"term").agg(count(lit(1)).as("c"))
      .orderBy($"c".desc, $"term").limit(3)
      .select($"term")
    val expanded = qdf.unionAll(expansion)
    bm25For(spark, toks, dl, expanded)
      .orderBy($"bm25".desc, $"doc_id").limit(10)
  }

  /** Messy multi-format date parsing: the same date arrives as ISO,
    * US slash, or compact digits (keyed deterministically) and a
    * try_to_timestamp coalesce chain recovers every row — the
    * first-line normalizer of any external feed, with a parse-failure
    * count that must be ZERO on the reconciled output.
    */
  def fnMultiformatDates(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val shaped = orders(spark, sfDir)
      .select($"o_orderkey", to_date($"o_orderdate").as("d"))
      .withColumn("raw",
        when(pmod($"o_orderkey", lit(3)) === 0, date_format($"d", "yyyy-MM-dd"))
          .when(pmod($"o_orderkey", lit(3)) === 1, date_format($"d", "MM/dd/yyyy"))
          .otherwise(date_format($"d", "yyyyMMdd")))
    shaped
      .withColumn("parsed", coalesce(
        expr("try_to_timestamp(raw, 'yyyy-MM-dd')"),
        expr("try_to_timestamp(raw, 'MM/dd/yyyy')"),
        expr("try_to_timestamp(raw, 'yyyyMMdd')")).cast(DateType))
      .groupBy(year($"parsed").as("yr"))
      .agg(count(lit(1)).as("n"),
        count(when($"parsed".isNull, 1)).as("n_unparsed"),
        count(when($"parsed" === $"d", 1)).as("n_roundtrip"))
      .orderBy($"yr")
  }

  /** Top-p% per group: the 5% highest-value orders of each year,
    * where k = ⌈0.05·n⌉ adapts to the group size (integer math) — the
    * percent-based QUALIFY that fixed-k top-k ops can't express.
    * Year-partitioned rank against a per-year count rejoin; the rank
    * filter still gets the WindowGroupLimit... not here — the bound is
    * dynamic, so the window ranks fully within each year partition;
    * the partition bound is what keeps it scale-safe.
    */
  def winTopPercent(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val o = orders(spark, sfDir)
      .select(year($"o_orderdate").as("yr"), $"o_orderkey",
        (money($"o_totalprice") * 100).cast(LongType).as("cents"))
    val ranked = o.withColumn("rn", row_number().over(
      Window.partitionBy($"yr").orderBy($"cents".desc, $"o_orderkey")))
    val counts = o.groupBy($"yr".as("y2")).agg(count(lit(1)).as("n"))
    ranked.join(counts, $"yr" === $"y2")
      .filter($"rn" * 20 <= $"n" + 19)
      .groupBy($"yr")
      .agg(count(lit(1)).as("n_top"), min($"cents").as("threshold_cents"),
        sum($"cents").as("top_cents"))
      .orderBy($"yr")
  }

  /** Corrupt-file tolerance: a garbage file dropped into a parquet
    * directory must not fail the scan when ignoreCorruptFiles is on —
    * the read survives and returns exactly the intact files' rows.
    * The resilience switch every long-lived lake needs when a
    * half-written file leaks past a crashed writer.
    */
  def sourceIgnoreCorrupt(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val dir = runDir("r11_corrupt", sfDir)
    events(spark, sfDir)
      .select($"event_id", $"event_type",
        (money($"value") * 100).cast(LongType).as("cents"))
      .write.mode("overwrite").parquet(dir)
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$dir/part-corrupt.parquet"),
      "this is not a parquet file".getBytes("UTF-8"))
    spark.read.option("ignoreCorruptFiles", "true").parquet(dir)
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n"), sum($"cents").as("sum_cents"))
      .orderBy($"event_type")
  }

  /** Write-Audit-Publish: the batch lands in a STAGING directory,
    * the audit recounts it against the source (any mismatch would
    * abort), and only then does an atomic directory rename PUBLISH
    * it for readers — the lakehouse pattern that keeps consumers
    * from ever seeing a half-written batch. The final read goes
    * through the published path only.
    */
  def pipelineWriteAuditPublish(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val stage = new org.apache.hadoop.fs.Path(runDir("r11_wap_stage", sfDir))
    val publish = new org.apache.hadoop.fs.Path(runDir("r11_wap_pub", sfDir))
    val fs = stage.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(stage)) fs.delete(stage, true)
    if (fs.exists(publish)) fs.delete(publish, true)
    val batch = orders(spark, sfDir)
      .select($"o_orderkey", $"o_orderpriority",
        (money($"o_totalprice") * 100).cast(LongType).as("cents"))
    batch.write.parquet(stage.toString)
    // audit: staged row count must equal the source count
    val staged = spark.read.parquet(stage.toString)
    val nStaged = staged.count()
    val nSource = orders(spark, sfDir).count()
    require(nStaged == nSource, s"WAP audit failed: $nStaged != $nSource")
    // rename reports failure by RETURN VALUE on some filesystems —
    // an unchecked false would silently break the atomic-promote
    // contract and read a missing publish dir
    require(fs.rename(stage, publish), s"WAP publish rename failed: $stage -> $publish")
    spark.read.parquet(publish.toString)
      .groupBy($"o_orderpriority")
      .agg(count(lit(1)).as("n"), sum($"cents").as("sum_cents"))
      .orderBy($"o_orderpriority")
  }

  /** Fuzzy dimension correction: misspelled brand strings (a
    * deterministically dropped character) snap back to the closest
    * catalog brand by edit distance over a BOUNDED brand×typo cross
    * join (the dim is fixed-cardinality; the corpus never
    * cross-joins). Tie-break by brand asc; the audit counts exact
    * recoveries.
    */
  def fnFuzzyBrandMatch(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val brands = part(spark, sfDir).select($"p_brand").distinct()
    // typo = brand with the character at (len mod pos) removed
    val typos = part(spark, sfDir)
      .select($"p_partkey", $"p_brand".as("true_brand"))
      .withColumn("pos", (pmod($"p_partkey", length($"true_brand") - 1) + 1)
        .cast(IntegerType))
      .withColumn("typo", concat(
        expr("substring(true_brand, 1, pos - 1)"),
        expr("substring(true_brand, pos + 1)")))
    val scored = typos.crossJoin(broadcast(brands))
      .withColumn("dist", levenshtein($"typo", $"p_brand"))
      .withColumn("rk", row_number().over(
        Window.partitionBy($"p_partkey").orderBy($"dist", $"p_brand")))
      .filter($"rk" === 1)
    scored.groupBy($"true_brand")
      .agg(count(lit(1)).as("n"),
        count(when($"p_brand" === $"true_brand", 1)).as("n_recovered"))
      .select($"true_brand", $"n", $"n_recovered",
        round($"n_recovered".cast(DoubleType) / $"n".cast(DoubleType), 6)
          .as("recovery_rate"))
      .orderBy($"true_brand")
  }
}
