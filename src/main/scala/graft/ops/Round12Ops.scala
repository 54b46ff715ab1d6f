package graft.ops

import graft.Tables._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Round-12 widening, part 1: the four capability gaps named by the
  * round-11 verdict — the persisted ANN index lifecycle
  * (build-once / probe-many), the BPE ENCODE pass over the corpus,
  * phrase-query execution over positional postings, and SemDeDup-shape
  * semantic near-dup removal.
  */
object Round12Ops {

  // ---- sim_ann_index_persist ----

  /** IVF index as a PERSISTED parquet artifact (centroids +
    * nearest-centroid assignments), built once per dataset and
    * context by materializeOnce (same pattern as the thinned co-supply
    * graph). At 100 TB the index build is a batch job and probes are
    * interactive — conflating them (sim_ann_ivf recomputes assignments
    * inside every query) is the production gap this op closes.
    *
    * v3 (round 13): assignments carry the rank column (`rn` 1..3) so
    * ONE artifact serves every IVF consumer — the probe ops filter
    * rn=1, the SemDeDup pair generator keeps rn<=4 for boundary-pair
    * recall (top-2 measured 0.61 vs dedup_near_embedding's exact
    * pairs at the loose 0.4 threshold; top-3 clears the 0.8 floor).
    * The build is the only place the assignment window runs.
    *
    * v4 (round 17, verdict task 7): nCent = ceil(sqrt(n)) instead of
    * a fixed 16, so per-cell population — and the Σ cell² SemDeDup
    * pair work — stays flat as the corpus grows. This is the
    * production IVF sizing rule; the fixed 16 was a test-scale
    * comparability crutch whose cost the round-14/16 probes measured
    * (10.7–13.4× at 10×: cells held 10× more vectors each). The
    * corpus count is one columnless scan, paid once per dataset in
    * the build. Recall floors re-verified under the new geometry
    * (sf0.001: 500 vecs -> 23 cells).
    */
  private[ops] def ivfIndexPath(spark: SparkSession, sfDir: String): String =
    ScaleTechniques.materializeOnce(
      s"ivf_index_${ScaleTechniques.datasetKey(sfDir)}") { tmp =>
      import spark.implicits._
      val t = LlmOps.embeddingsWithNorm(spark, sfDir)
      val nCent = math.ceil(math.sqrt(t.count().toDouble)).toLong.max(1L)
      val cents = t.filter($"vec_id" < nCent)
        .select($"vec_id".as("cid"), $"embedding".as("ce"), $"nrm".as("cn"))
      // nearest-centroid assignment (ties toward the smallest cid) —
      // identical to sim_ann_ivf's, so the probe result is comparable
      // rn <= 4: v4's smaller √n cells put more true pairs on cell
      // borders, and top-3 measured SemDeDup recall 0.788 vs the 0.8
      // floor (sf0.001, 23 cells); top-4 recovers it without touching
      // the rn=1 probe consumers
      val assigned = t.crossJoin(broadcast(cents))
        .withColumn("cos_c",
          LlmOps.dot($"embedding", $"ce") / ($"nrm" * $"cn"))
        .withColumn("rn", row_number().over(
          Window.partitionBy($"vec_id").orderBy($"cos_c".desc, $"cid")))
        .filter($"rn" <= 4)
        .select($"cid", $"vec_id", $"embedding", $"nrm", $"rn")
      cents.write.parquet(s"$tmp/centroids")
      assigned.write.parquet(s"$tmp/assign")
    }

  /** nProbe for the √n-cell index: ceil(sqrt(nCent)), floored at the
    * historical 4. Scanned corpus fraction nProbe/nCent ~ n^(-1/4)
    * SHRINKS with scale while candidates-per-probe grows only as
    * n^(3/4) — the standard IVF operating point. nCent comes from the
    * centroids file's footer metadata (a count on a tiny parquet),
    * not a corpus scan.
    */
  private[ops] def nProbeFor(cents: DataFrame): Int =
    math.ceil(math.sqrt(cents.count().toDouble)).toInt.max(4)

  /** IVF probe that reads ONLY the persisted index artifact: pick the
    * nProbe centroids nearest the query from the tiny centroids
    * file, then scan just those cells' assignments. No KMeans-ish
    * assignment window appears in this plan — the build ran once,
    * out-of-band. Result is identical to sim_ann_ivf (same centroid
    * rule, same probe); recall vs exact kNN asserted in Round12Spec.
    */
  def simAnnIndexPersist(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    graft.expressions.GraftFunctions.ensureRegistered(spark)
    val path = ivfIndexPath(spark, sfDir)
    val cents = spark.read.parquet(s"$path/centroids")
    val assigned = spark.read.parquet(s"$path/assign")
      .filter($"rn" === 1).drop("rn")
    val probe = assigned.filter($"vec_id" === 0)
      .select($"embedding".as("pe"), $"nrm".as("pn"))
    val probeCids = cents.crossJoin(broadcast(probe))
      .withColumn("cos_p", LlmOps.dot($"ce", $"pe") / ($"cn" * $"pn"))
      .orderBy($"cos_p".desc, $"cid")
      .limit(nProbeFor(cents))
      .select($"cid")
    assigned
      .join(broadcast(probeCids), "cid")
      .filter($"vec_id" =!= 0)
      .crossJoin(broadcast(probe))
      .withColumn("cos", LlmOps.dot($"embedding", $"pe") / ($"nrm" * $"pn"))
      .orderBy($"cos".desc, $"vec_id")
      .limit(10)
      .select($"vec_id", round($"cos", 6).as("cosine"))
  }

  // ---- ml_bpe_apply ----

  /** The 8-round BPE merge table as a build-once artifact: training is
    * a batch job (driver-coordinated argmax loop); every encode pass
    * just reads the 8-row parquet. Keyed on the dataset fingerprint so
    * a regenerated corpus retrains.
    */
  private[ops] def bpeMergesPath(spark: SparkSession, sfDir: String): String =
    ScaleTechniques.materializeOnce(
      s"bpe_merges_${ScaleTechniques.datasetKey(sfDir)}") { tmp =>
      Round11Ops22.mlBpeTrainMerges(spark, sfDir)
        .coalesce(1).write.parquet(tmp)
    }

  /** One left-to-right greedy application of merge (a,b) over a symbol
    * array — the same `aggregate` fold the trainer uses, so encode
    * semantics match training exactly.
    */
  private def applyMerge(syms: Column, a: String, b: String): Column =
    when(size(syms) < 2, syms).otherwise(
      aggregate(slice(syms, lit(2), size(syms) - 1),
        array(element_at(syms, 1)),
        (acc: Column, s: Column) =>
          when(element_at(acc, -1) === lit(a) && s === lit(b),
            concat(slice(acc, lit(1), size(acc) - 1), array(lit(a + b))))
            .otherwise(concat(acc, array(s)))))

  /** BPE ENCODE pass — the thing a training-data pipeline actually
    * runs at scale: apply the learned merge table to the corpus and
    * emit per-document token counts. The expensive object is the
    * DISTINCT WORD table (vocabulary-sized, not corpus-sized): merges
    * fold over unique words only, and the per-word token count joins
    * back to the corpus as a broadcast — the corpus-side pass is one
    * explode + one hash aggregate. No oracle (the learned merges come
    * from the trainer's driver loop); Round12Spec pins determinism and
    * the n_words ≤ n_tokens ≤ n_chars sandwich.
    */
  def mlBpeApply(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val merges = spark.read.parquet(bpeMergesPath(spark, sfDir))
      .orderBy($"merge_rank")
      .select($"left_sym", $"right_sym")
      .as[(String, String)].collect() // 8 rows — bounded driver state
    val words = documents(spark, sfDir)
      .select($"doc_id", explode(split($"text", " ")).as("w"))
      .filter(length($"w") > 0)
    val vocab = words.select($"w").distinct()
      .withColumn("syms", split($"w", ""))
    val encoded = merges.foldLeft(vocab) { case (df, (a, b)) =>
      df.select($"w", applyMerge($"syms", a, b).as("syms"))
    }
    val perWord = encoded.select($"w", size($"syms").cast(LongType).as("n_toks"),
      length($"w").cast(LongType).as("n_chars"))
    words.groupBy($"doc_id", $"w").agg(count(lit(1)).as("n"))
      .join(broadcast(perWord), "w") // vocabulary-sized broadcast
      .groupBy($"doc_id")
      .agg(sum($"n").as("n_words"),
        sum($"n" * $"n_toks").as("n_tokens"),
        sum($"n" * $"n_chars").as("n_chars"))
      .orderBy($"doc_id")
  }

  // ---- text_phrase_query ----

  /** Phrase-query execution — the missing second half of
    * text_positional_index: per-term position lists intersect on
    * ADJACENCY (positions(t1)+1 ∩ positions(t2)) to count exact phrase
    * occurrences per document. The phrase itself is the corpus's most
    * frequent bigram, picked lazily as a 1-row broadcast (ties by
    * terms) so the query is self-contained and the oracle can mirror
    * the choice. Postings are bounded by the two phrase terms'
    * documents; the intersection is exact integer array math.
    */
  def textPhraseQuery(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val toks = documents(spark, sfDir)
      .select($"doc_id", posexplode(split($"text", " ")).as(Seq("p", "term")))
      .select($"doc_id", ($"p" + 1).as("pos"), $"term")
    // most frequent adjacent pair — sequence over size-1 needs the
    // >= 2 guard (Spark's sequence(1, 0) DESCENDS)
    val bi = documents(spark, sfDir)
      .select($"doc_id", split($"text", " ").as("w"))
      .filter(size($"w") >= 2)
      .select($"doc_id", explode(expr(
        "transform(sequence(1, size(w) - 1), " +
          "i -> struct(element_at(w, i) AS a, element_at(w, i + 1) AS b))"))
        .as("pr"))
      .select($"pr.a".as("a"), $"pr.b".as("b"))
    val top = bi.groupBy($"a", $"b").agg(count(lit(1)).as("cnt"))
      .orderBy($"cnt".desc, $"a", $"b").limit(1)
    val phraseTerms = top.select(explode(array($"a", $"b")).as("term")).distinct()
    val post = toks.join(broadcast(phraseTerms), Seq("term"))
      .groupBy($"doc_id", $"term")
      .agg(array_sort(collect_list($"pos")).as("ps"))
    val p1 = post.join(broadcast(top), post("term") === top("a"))
      .select($"doc_id", $"ps".as("ps1"))
    val p2 = post.join(broadcast(top), post("term") === top("b"))
      .select($"doc_id".as("doc_id2"), $"ps".as("ps2"))
    p1.join(p2, $"doc_id" === $"doc_id2")
      .select($"doc_id",
        size(array_intersect(transform($"ps1", x => x + 1), $"ps2"))
          .cast(LongType).as("n_occurrences"))
      .filter($"n_occurrences" > 0)
      .orderBy($"doc_id")
  }

  // ---- dedup_semantic_cluster ----

  /** Candidate semantic near-dup pairs, SemDeDup shape: soft top-4
    * assignment to the ceil(√n) deterministic coarse centroids (the
    * sim_ann_ivf rule — lowest vec_ids stand in for k-means), then
    * cosine ≥ 0.4 pairs WITHIN shared cells only. The pair join is a
    * shuffle equi-join on cell id — work is Σ cell², never corpus² —
    * and only the √n-row centroid table and nothing corpus-sized is
    * broadcast. Top-2 (not top-1) assignment recovers boundary pairs
    * whose members straddle two cells; recall vs the exact
    * dedup_near_embedding pairs asserted in Round12Spec.
    *
    * Round 13: reads the rn<=4 assignments from the PERSISTED IVF
    * artifact instead of re-deriving them inline — the assignment
    * window runs only in the index build; this plan is two scans of
    * the artifact self-joined on cell id. (v3 widened the artifact to
    * top-3 because top-2 recall measured 0.61 vs the 0.8 floor; the
    * rn filter below restates the intended cut explicitly rather than
    * inheriting it from the artifact contents.) Round 17: the v4
    * artifact sizes nCent = ceil(√n), so per-cell population — and
    * this plan's Σ cell² pair work — stays flat with corpus growth;
    * the round-14 10.7×-at-10× probe reading was the cost of the old
    * fixed 16 cells each swallowing 10× more vectors.
    */
  private[graft] def semanticPairs(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    graft.expressions.GraftFunctions.ensureRegistered(spark)
    val assigned = spark.read.parquet(s"${ivfIndexPath(spark, sfDir)}/assign")
      .filter($"rn" <= 4)
      .select($"cid", $"vec_id", $"embedding", $"nrm")
    assigned.as("x").join(assigned.as("y"),
        col("x.cid") === col("y.cid") && col("x.vec_id") < col("y.vec_id"))
      .withColumn("cos",
        LlmOps.dot($"x.embedding", $"y.embedding") / ($"x.nrm" * $"y.nrm"))
      .filter($"cos" >= 0.4)
      .select($"x.vec_id".as("id_a"), $"y.vec_id".as("id_b"),
        round($"cos", 6).as("cosine"))
      // a pair sharing BOTH its cells appears twice — same exact
      // cosine both times (dot is deterministic per input), so
      // distinct dedups cleanly
      .distinct()
  }

  /** SemDeDup-shape semantic dedup decision: within-cell cosine ≥ 0.4
    * pairs collapse keep-min-id — each removed document reports its
    * kept representative and the strongest link. The standard
    * LLM-corpus dedup tier between exact-hash and MinHash; bucketed by
    * coarse cells, never all-pairs. No oracle (centroid choice is
    * engine-specific); recall + keep-min semantics pinned in
    * Round12Spec.
    */
  def dedupSemanticCluster(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.functions.{min => fmin, max => fmax}
    val spark2 = spark; import spark2.implicits._
    semanticPairs(spark, sfDir)
      .groupBy($"id_b".as("removed_id"))
      .agg(fmin($"id_a").as("kept_id"), fmax($"cosine").as("max_cosine"))
      .orderBy($"removed_id")
  }
}
