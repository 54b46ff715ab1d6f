package graft.ops

import graft.Tables._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Round-4 widening, second batch: fuzzy text matching, per-doc
  * keyword extraction, error-safe arithmetic, weighted aggregation,
  * binary chunk manifests, schema-evolution reads, and bounded window
  * frames — SURVEY §2 round-4 table (cont.).
  */
object Round4Ops2 {

  /** Fuzzy near-dup via edit distance: pairwise levenshtein over
    * 32-char prefixes of a bounded doc slice (same-lang block), pairs
    * within distance 20. The O(n²·L²) DP kernel is the reason the
    * set-based sketches (jaccard/minhash) are the scale tier — this op
    * IS the exact verifier a fuzzy-match pipeline applies to LSH
    * candidates, so the bounded slice is the realistic shape.
    */
  def textEditDistance(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val t = documents(spark, sfDir)
      .filter($"doc_id" < 200)
      .select($"doc_id", $"lang", substring($"text", 1, 32).as("prefix"))
    val b = t.select($"doc_id".as("id_b"), $"lang".as("lang_b"),
      $"prefix".as("prefix_b"))
    t.join(broadcast(b), $"lang" === $"lang_b" && $"doc_id" < $"id_b")
      .select($"doc_id".as("id_a"), $"id_b",
        levenshtein($"prefix", $"prefix_b").as("dist"))
      .filter($"dist" <= 20)
      .orderBy($"id_a", $"id_b")
  }

  /** Per-doc keyword extraction: top-3 terms by tf-idf. Ranking is by
    * the integer-exact surrogate (tf DESC, df ASC, term ASC) — the
    * same ordering tf·ln(N/df) induces on distinct (tf, df) pairs but
    * immune to cross-engine 1-ulp log drift; the float score is
    * emitted (ROUND 6) but never sorted on.
    */
  def textKeywordsTopk(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val docs = documents(spark, sfDir)
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    val terms = docs.select($"doc_id", explode(split($"text", " ")).as("term"))
      .groupBy($"doc_id", $"term").agg(count(lit(1)).as("tf"))
    val df = terms.groupBy($"term").agg(count(lit(1)).as("df"))
    terms.filter($"doc_id" < 50)
      .join(df, "term")
      .crossJoin(broadcast(nDocs))
      .withColumn("rn", row_number().over(
        Window.partitionBy($"doc_id")
          .orderBy($"tf".desc, $"df".asc, $"term".asc)))
      .filter($"rn" <= 3)
      .select($"doc_id", $"rn", $"term", $"tf", $"df",
        round($"tf" * log($"n_docs" / $"df"), 6).as("score"))
      .orderBy($"doc_id", $"rn")
  }

  /** Error-safe arithmetic surface: try_cast of non-numeric strings →
    * NULL instead of failure, roundtrip try_cast of a double through
    * VARCHAR, and NULL-on-zero division (Spark try_divide ≡ DuckDB
    * x / NULLIF(y, 0)).
    */
  def fnTryArith(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    events(spark, sfDir)
      .filter($"event_id" < 2000)
      .select($"event_id",
        expr("try_cast(event_type AS INT)").as("bad_int"),
        expr("try_cast(CAST(value AS STRING) AS DOUBLE)").as("roundtrip"),
        round(expr("try_divide(value, CAST(user_id % 3 AS DOUBLE))"), 6)
          .as("safe_div"))
      .orderBy($"event_id")
  }

  /** Weighted average — sum(w·x)/sum(w) spelled out (no built-in in
    * either engine): exact integer weights, double products, ROUND 4
    * absorbing accumulation-order noise (same protocol as agg_stats).
    */
  def aggWeightedAvg(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    events(spark, sfDir)
      .select($"event_type", $"value",
        (pmod($"user_id", lit(7)) + 1).cast(DoubleType).as("w"))
      .groupBy($"event_type")
      .agg(
        round(sum($"w" * $"value") / sum($"w"), 4).as("wavg"),
        round(avg($"value"), 4).as("avg_plain"),
        count(lit(1)).as("n"))
      .orderBy($"event_type")
  }

  /** Chunk manifest over binary payloads — the storage layout pass of
    * a multimodal pipeline (fixed 256-byte tiles + per-chunk digest),
    * as a typed per-partition flatMap with one digest instance per
    * batch. Chunking is embarrassingly parallel: no shuffle before
    * the manifest, one row per chunk out.
    */
  def multimodalChunkManifest(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val chunkSize = 256
    val src = documents(spark, sfDir)
      .filter($"doc_id" < 200)
      .select($"doc_id", $"text".cast(BinaryType).as("payload"))
      .as[(Long, Array[Byte])]
    src.mapPartitions { it =>
      val md = java.security.MessageDigest.getInstance("MD5")
      it.flatMap { case (id, payload) =>
        payload.grouped(chunkSize).zipWithIndex.map { case (chunk, i) =>
          md.reset()
          val hex = md.digest(chunk).map("%02x".format(_)).mkString
          (id, i.toLong, chunk.length.toLong, hex)
        }
      }
    }.toDF("doc_id", "chunk_idx", "chunk_len", "chunk_md5")
      .orderBy($"doc_id", $"chunk_idx")
  }

  /** Schema evolution: two parquet writes with divergent columns read
    * back as one relation via mergeSchema — the additive-column
    * migration every long-lived dataset goes through. Missing columns
    * surface as NULL, never as failures.
    */
  def scanMergeSchema(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val out = runDir("mergeschema", sfDir)
    val o = orders(spark, sfDir)
    o.filter($"o_orderkey" < 100)
      .select($"o_orderkey", $"o_totalprice".cast(DoubleType).as("total"))
      .write.mode("overwrite").parquet(out + "/v1")
    o.filter($"o_orderkey" >= 100 && $"o_orderkey" < 200)
      .select($"o_orderkey", $"o_orderpriority".as("priority"))
      .write.mode("overwrite").parquet(out + "/v2")
    spark.read.option("mergeSchema", "true").parquet(out + "/v1", out + "/v2")
      .select($"o_orderkey", $"total", $"priority")
      .orderBy($"o_orderkey")
  }

  /** Bounded-both-sides window frame: 3-order trailing moving sum and
    * average per customer. The frame sum is DECIMAL-exact; the average
    * is one double division of exact quantities, so no accumulation-
    * order noise survives.
    */
  def winMovingAvg(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"o_custkey")
      .orderBy($"o_orderdate", $"o_orderkey")
      .rowsBetween(-2, Window.currentRow)
    orders(spark, sfDir)
      .select($"o_custkey", $"o_orderkey",
        sum(money($"o_totalprice")).over(w).cast(DoubleType).as("sum3"),
        count(lit(1)).over(w).as("n3"))
      .withColumn("avg3", round($"sum3" / $"n3", 4))
      .orderBy($"o_custkey", $"o_orderkey")
  }

  /** GROUP BY ... HAVING surface: customer segments kept only when the
    * aggregate itself clears a threshold (Catalyst plans HAVING as a
    * post-aggregation Filter — pushdown must NOT move it below the agg).
    */
  def aggHaving(spark: SparkSession, sfDir: String): DataFrame = {
    orders(spark, sfDir).createOrReplaceTempView("g4b_orders")
    spark.sql("""
      SELECT o_custkey, count(*) AS n,
             CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS rev
      FROM g4b_orders
      GROUP BY o_custkey
      HAVING count(*) >= 12 AND sum(CAST(o_totalprice AS DECIMAL(18,2))) > 1000000
      ORDER BY o_custkey
    """)
  }

  /** IGNORE NULLS window navigation: last non-NULL observation carried
    * forward (the gap-fill idiom) over NULLIF-synthesized gaps, plus
    * the first non-NULL per partition. NULLs are synthesized
    * deterministically (every third order) so both engines see the
    * same gaps.
    */
  def winFirstLastIgnoreNulls(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val wRun = Window.partitionBy($"o_custkey")
      .orderBy($"o_orderdate", $"o_orderkey")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wFull = Window.partitionBy($"o_custkey")
      .orderBy($"o_orderdate", $"o_orderkey")
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    orders(spark, sfDir)
      .withColumn("sparse",
        when(pmod($"o_orderkey", lit(3)) === 0, lit(null).cast(DoubleType))
          .otherwise($"o_totalprice".cast(DoubleType)))
      .select($"o_custkey", $"o_orderkey", $"sparse",
        last($"sparse", ignoreNulls = true).over(wRun).as("filled"),
        first($"sparse", ignoreNulls = true).over(wFull).as("first_obs"))
      .orderBy($"o_custkey", $"o_orderkey")
  }

  /** Incremental ingestion dedup: a new batch (doc_id >= 300) admitted
    * only where its content hash is unseen in the existing corpus
    * (doc_id < 300) — one anti-join on the 128-bit hash; at 100 TB the
    * "corpus" side is the dedup index (hash, keep_id), not documents,
    * so the join carries hashes only.
    */
  def pipelineIncrementalDedup(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val hashed = documents(spark, sfDir)
      .select($"doc_id", md5($"text").as("hash"))
    val corpus = hashed.filter($"doc_id" < 300).select($"hash")
    hashed.filter($"doc_id" >= 300)
      .join(corpus, Seq("hash"), "left_anti")
      .select($"doc_id", $"hash")
      .orderBy($"doc_id")
  }
}
