package graft

import graft.ops.{LlmOps, LlmOps2, Round8Ops, Round12Ops}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-12 ops (the spec the round-12 pins promised): persisted-IVF
  * probe reads only the artifact and keeps the exact-kNN recall floor;
  * BPE encode is deterministic and count-sandwiched against the
  * pre-tokenizer census; SemDeDup candidate pairs recall the exact
  * embedding near-dups and the cluster decision is keep-min-id.
  */
class Round12Spec extends AnyFunSuite with SparkFixture {

  test("sim_ann_index_persist: probe plan reads ONLY the artifact — no assignment window") {
    val df = Round12Ops.simAnnIndexPersist(spark, sf)
    df.collect() // finalize AQE so the executed plan is the real one
    val plan = df.queryExecution.executedPlan.toString
    assert(df.inputFiles.exists(_.contains(artifact("ivf_index"))),
      s"probe should scan the persisted index artifact:\n${df.inputFiles.mkString("\n")}")
    assert(!plan.contains("Window"),
      s"assignment window must run only in the index build, not the probe:\n${plan.take(2000)}")
  }

  test("sim_ann_index_persist: recall@10 vs exact kNN >= 0.5, 10 rows") {
    import spark.implicits._
    val exact = LlmOps.simKnnQuery(spark, sf)
      .select($"vec_id").as[Long].collect().toSet
    val ann = Round12Ops.simAnnIndexPersist(spark, sf)
      .select($"vec_id").as[Long].collect().toSet
    assert(ann.size === 10)
    val recall = (exact intersect ann).size.toDouble / exact.size
    assert(recall >= 0.5, s"persisted-index recall@10 $recall below floor")
  }

  test("ml_bpe_apply: exact determinism across two runs") {
    val a = Round12Ops.mlBpeApply(spark, sf).collect().toSeq
    val b = Round12Ops.mlBpeApply(spark, sf).collect().toSeq
    assert(a.nonEmpty)
    assert(a === b)
  }

  test("ml_bpe_apply: per-doc n_words <= n_tokens <= n_chars, chars reconcile with pre-tokenizer") {
    import spark.implicits._
    val enc = Round12Ops.mlBpeApply(spark, sf)
      .as[(Long, Long, Long, Long)].collect()
    assert(enc.nonEmpty)
    enc.foreach { case (id, nw, nt, nc) =>
      assert(nw <= nt, s"doc $id: merges can never push tokens below words ($nt < $nw)")
      assert(nt <= nc, s"doc $id: tokens can never exceed characters ($nt > $nc)")
    }
    // the whitespace-word split and the class-run pre-tokenizer both
    // partition exactly the non-space characters, so per-doc char
    // totals must agree between the two independent implementations
    val pretok = Round8Ops.textPretokenizeBpe(spark, sf)
      .select($"doc_id", $"n_chars").as[(Long, Long)].collect().toMap
    enc.foreach { case (id, _, _, nc) =>
      assert(pretok(id) === nc,
        s"doc $id: BPE n_chars $nc != pre-tokenizer census ${pretok(id)}")
    }
  }

  test("dedup_semantic_cluster: candidate-pair recall vs exact near-embedding pairs >= 0.8") {
    import spark.implicits._
    val exact = LlmOps2.dedupNearEmbedding(spark, sf)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    assert(exact.nonEmpty, "fixture corpus should contain exact near-dup pairs")
    val cand = Round12Ops.semanticPairs(spark, sf)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    val recall = (cand intersect exact).size.toDouble / exact.size
    assert(recall >= 0.8, s"semantic candidate recall $recall below 0.8 " +
      s"(${(exact diff cand).size} exact pairs missed of ${exact.size})")
  }

  test("dedup_semantic_cluster: keep-min-id semantics, artifact-scanning plan, no broadcast hint") {
    import spark.implicits._
    val pairs = Round12Ops.semanticPairs(spark, sf)
      .select($"id_a", $"id_b").as[(Long, Long)].collect()
    val minKeeper = pairs.groupBy(_._2).map { case (b, ps) => b -> ps.map(_._1).min }
    val df = Round12Ops.dedupSemanticCluster(spark, sf)
    val rows = df.select($"removed_id", $"kept_id").as[(Long, Long)].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (removed, kept) =>
      assert(kept < removed, s"keeper must be the smaller id ($kept >= $removed)")
      assert(minKeeper(removed) === kept,
        s"doc $removed kept $kept but min partner is ${minKeeper(removed)}")
    }
    // plan shape: pairs come from two scans of the persisted rn<=4
    // assignments self-joined on cell id — no inline assignment
    // window, and no broadcast HINT anywhere (a size-based AQE
    // broadcast at test scale is fine; a hinted one would pin a
    // corpus-sized broadcast at 100 TB)
    val logical = df.queryExecution.optimizedPlan.toString
    assert(!logical.toLowerCase.contains("broadcast"),
      s"no broadcast hint expected in the semantic-cluster plan:\n${logical.take(2000)}")
    df.collect()
    val physical = df.queryExecution.executedPlan.toString
    assert(df.inputFiles.exists(_.contains(artifact("ivf_index"))),
      s"pair generator should scan the persisted index artifact:\n${df.inputFiles.mkString("\n")}")
    assert(!physical.contains("Window"),
      s"assignment window must run only in the index build:\n${physical.take(2000)}")
  }
}
