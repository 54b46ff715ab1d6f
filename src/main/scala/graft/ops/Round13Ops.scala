package graft.ops

import graft.Tables._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Round-13 widening: the k-term generalization of the phrase query
  * (verdict ask #6) and the persisted MinHash band-signature index
  * that completes the build-once story for the text-dedup family
  * (verdict ask #7, mirroring the IVF index lifecycle).
  */
object Round13Ops {

  // ---- text_phrase_query_k3 ----

  /** 3-term phrase query over the positional index — the adjacency
    * intersect of [[Round12Ops.textPhraseQuery]] generalized by
    * folding positions+i: an occurrence starts at p iff p ∈ ps1,
    * p+1 ∈ ps2, p+2 ∈ ps3, so shifting every list onto the p+2
    * coordinate turns the phrase count into a chain of exact integer
    * array intersections. The phrase is the corpus's most frequent
    * trigram (ties by terms), picked as a 1-row broadcast so the
    * query is self-contained and the oracle mirrors the choice by
    * counting trigram instances directly — two independent
    * formulations of the same count.
    */
  def textPhraseQueryK3(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val toks = documents(spark, sfDir)
      .select($"doc_id", posexplode(split($"text", " ")).as(Seq("p", "term")))
      .select($"doc_id", ($"p" + 1).as("pos"), $"term")
    // most frequent adjacent triple — guard size >= 3 (Spark's
    // sequence(1, 0) DESCENDS on shorter docs)
    val tri = documents(spark, sfDir)
      .select($"doc_id", split($"text", " ").as("w"))
      .filter(size($"w") >= 3)
      .select(explode(expr(
        "transform(sequence(1, size(w) - 2), " +
          "i -> struct(element_at(w, i) AS a, element_at(w, i + 1) AS b, " +
          "element_at(w, i + 2) AS c))")).as("tr"))
      .select($"tr.a".as("a"), $"tr.b".as("b"), $"tr.c".as("c"))
    val top = tri.groupBy($"a", $"b", $"c").agg(count(lit(1)).as("cnt"))
      .orderBy($"cnt".desc, $"a", $"b", $"c").limit(1)
    val phraseTerms = top
      .select(explode(array($"a", $"b", $"c")).as("term")).distinct()
    val post = toks.join(broadcast(phraseTerms), Seq("term"))
      .groupBy($"doc_id", $"term")
      .agg(array_sort(collect_list($"pos")).as("ps"))
    val p1 = post.join(broadcast(top), post("term") === top("a"))
      .select($"doc_id", $"ps".as("ps1"))
    val p2 = post.join(broadcast(top), post("term") === top("b"))
      .select($"doc_id".as("d2"), $"ps".as("ps2"))
    val p3 = post.join(broadcast(top), post("term") === top("c"))
      .select($"doc_id".as("d3"), $"ps".as("ps3"))
    p1.join(p2, $"doc_id" === $"d2").join(p3, $"doc_id" === $"d3")
      .select($"doc_id",
        size(array_intersect(
          array_intersect(
            transform($"ps1", x => x + 2), transform($"ps2", x => x + 1)),
          $"ps3")).cast(LongType).as("n_occurrences"))
      .filter($"n_occurrences" > 0)
      .orderBy($"doc_id")
  }

  // ---- dedup_minhash_index_persist ----

  /** MinHash band-signature index as a PERSISTED parquet artifact —
    * the text-dedup twin of the IVF index lifecycle
    * ([[Round12Ops.ivfIndexPath]]): at 100 TB the corpus's band
    * signatures are built once as a batch job and every incremental
    * ingest probes them; recomputing corpus signatures per ingest
    * (what dedup_minhash_lsh's self-join does) is the production gap.
    * Two subdirectories: `buckets` (doc_id, sz, band, sig — the probe
    * join key) and `sketch` (doc_id, sz, th — the exact-verify
    * payload, stored once, NOT triplicated across band rows). The
    * "existing corpus" is the deterministic 7/8 slice
    * pmod(doc_id,8)!=0; the held-out 1/8 plays the incoming batch.
    */
  private[graft] def minhashIndexPath(spark: SparkSession, sfDir: String): String =
    ScaleTechniques.materializeOnce(
      s"minhash_index_${ScaleTechniques.datasetKey(sfDir)}") { tmp =>
      import spark.implicits._
      val rows = 4; val bands = 3
      graft.expressions.GraftFunctions.ensureRegistered(spark)
      val sk = LlmOps.tokenHashes(spark, sfDir)
        .filter(pmod($"doc_id", lit(8)) =!= 0)
      sk.select($"doc_id", $"sz",
          posexplode(call_function("graft_bandsigs", $"th", lit(rows), lit(bands))))
        .select($"doc_id", $"sz", $"pos".as("band"), $"col".as("sig"))
        .write.parquet(s"$tmp/buckets")
      sk.select($"doc_id", $"sz", $"th").write.parquet(s"$tmp/sketch")
    }

  /** Incremental MinHash dedup against the persisted index: the
    * incoming batch (the held-out 1/8) computes its own signatures —
    * the only per-ingest sketch work — and probes the corpus index on
    * (band, sig) with the size-ratio prune; only colliding pairs
    * reach the exact two-pointer Jaccard verify (batch docs with no
    * bucket collision are admitted with zero array work — the LSH
    * anti-join fast path). Output: (new_id, corpus_id, jaccard >= 0.8)
    * pairs. No oracle (bucketing is hash-family specific); Round13Spec
    * pins recall vs dedup_near_jaccard's exact cross pairs, zero false
    * positives, and the index-scanning plan shape.
    */
  def dedupMinhashIndexPersist(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val rows = 4; val bands = 3
    graft.expressions.GraftFunctions.ensureRegistered(spark)
    val path = minhashIndexPath(spark, sfDir)
    val idxBuckets = spark.read.parquet(s"$path/buckets")
      .select($"doc_id".as("id_old"), $"sz".as("sz_old"), $"band", $"sig")
    val idxSketch = spark.read.parquet(s"$path/sketch")
      .select($"doc_id".as("id_old"), $"th".as("th_old"), $"sz".as("szv_old"))
    val batch = LlmOps.tokenHashes(spark, sfDir)
      .filter(pmod($"doc_id", lit(8)) === 0)
    val batchBuckets = batch
      .select($"doc_id".as("id_new"), $"sz".as("sz_new"),
        posexplode(call_function("graft_bandsigs", $"th", lit(rows), lit(bands))))
      .select($"id_new", $"sz_new", $"pos".as("band"), $"col".as("sig"))
    // bucket probe: equi-join on (band, sig), size-ratio prune for
    // j >= 0.8, band multiplicity collapsed BEFORE any array work
    val candIds = batchBuckets.join(idxBuckets,
        batchBuckets("band") === idxBuckets("band") &&
        batchBuckets("sig") === idxBuckets("sig") &&
        $"sz_new" * 5 >= $"sz_old" * 4 && $"sz_old" * 5 >= $"sz_new" * 4)
      .select($"id_new", $"id_old")
      .distinct()
    val batchSketch = batch
      .select($"doc_id".as("id_new"), $"th".as("th_new"), $"sz".as("szv_new"))
    candIds.join(batchSketch, Seq("id_new")).join(idxSketch, Seq("id_old"))
      .withColumn("inter", LlmOps.isect($"th_new", $"th_old"))
      .filter($"inter" * 9 >= ($"szv_new" + $"szv_old") * 4)
      .select($"id_new", $"id_old",
        round($"inter".cast(DoubleType) / ($"szv_new" + $"szv_old" - $"inter"), 6)
          .as("jaccard"))
      .orderBy($"id_new", $"id_old")
  }
}
