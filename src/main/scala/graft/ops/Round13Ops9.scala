package graft.ops

import graft.Tables._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Round-13 widening, part 9: embedding-operations tier — Matryoshka
  * prefix-truncation recall (the MRL serving trade-off), per-dimension
  * drift z-scores between cohorts, and a parquet writer round-trip
  * with column bloom filters enabled.
  */
object Round13Ops9 {

  /** Matryoshka retrieval check: for 8 probe vectors, the top-10
    * cosine neighbor set under the FIRST-8-DIM prefix vs the full
    * 64-dim embedding — the measurement that decides how far an
    * MRL-style index can truncate before recall falls off. ONE pair
    * pass computes both similarities (probes broadcast, corpus never
    * replicated), two per-probe ranks over the same shuffle, overlap
    * counted without a self-join. The cosine kernel is the repo's
    * compiled graft_dot; ranks tie-break on vec_id.
    */
  def simMatryoshkaPrefixRecall(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    graft.expressions.GraftFunctions.ensureRegistered(spark)
    val emb = embeddings(spark, sfDir).select($"vec_id", $"embedding")
    val q = emb.filter($"vec_id" < 8)
      .select($"vec_id".as("qid"), $"embedding".as("qe"))
    val d = LlmOps.dot _
    val cosF = d($"qe", $"ve") /
      (sqrt(d($"qe", $"qe")) * sqrt(d($"ve", $"ve")))
    val qp = slice($"qe", 1, 8); val vp = slice($"ve", 1, 8)
    val cos8 = d(qp, vp) / (sqrt(d(qp, qp)) * sqrt(d(vp, vp)))
    val pairs = emb.select($"vec_id".as("vid"), $"embedding".as("ve"))
      .crossJoin(broadcast(q))
      .filter($"vid" =!= $"qid")
      .select($"qid", $"vid", cosF.as("cosf"), cos8.as("cos8"))
    val wf = Window.partitionBy($"qid").orderBy($"cosf".desc, $"vid")
    val w8 = Window.partitionBy($"qid").orderBy($"cos8".desc, $"vid")
    pairs
      .withColumn("rf", row_number().over(wf))
      .withColumn("r8", row_number().over(w8))
      .groupBy($"qid")
      .agg(sum(when($"rf" <= 10 && $"r8" <= 10, 1L).otherwise(0L))
        .as("n_overlap"))
      .select($"qid", $"n_overlap",
        round($"n_overlap".cast(DoubleType) / lit(10.0), 2).as("recall_at_10"))
      .orderBy($"qid")
  }

  /** Per-dimension drift between the even- and odd-label embedding
    * cohorts — the "did the new model shift the space?" screen run
    * before swapping an index. Components freeze at 6 dp as DECIMAL
    * (the sim_dim_variance_audit protocol) so the per-(dim, cohort)
    * sums are exact and order-free; Welch z per dimension is the
    * fixed-shape double epilogue. One explode pass, one hash
    * aggregate — dimension-bounded output at any corpus size.
    */
  def pipelineEmbeddingDrift(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val comps = embeddings(spark, sfDir)
      .select(pmod($"label", lit(2)).as("grp"),
        posexplode($"embedding".cast(ArrayType(DoubleType))))
      .select($"grp", ($"pos" + 1).as("dim"),
        round($"col", 6).cast(DecimalType(18, 6)).as("x"))
    val g = comps.groupBy($"dim")
      .agg(sum(when($"grp" === 0, 1L).otherwise(0L)).as("na"),
        sum(when($"grp" === 0, $"x")).as("sa"),
        sum(when($"grp" === 0, $"x" * $"x")).as("qa"),
        sum(when($"grp" === 1, 1L).otherwise(0L)).as("nb"),
        sum(when($"grp" === 1, $"x")).as("sb"),
        sum(when($"grp" === 1, $"x" * $"x")).as("qb"))
    val naD = $"na".cast(DoubleType); val nbD = $"nb".cast(DoubleType)
    val ma = $"sa".cast(DoubleType) / naD
    val mb = $"sb".cast(DoubleType) / nbD
    val va = ($"qa".cast(DoubleType) * naD -
      $"sa".cast(DoubleType) * $"sa".cast(DoubleType)) / (naD * naD)
    val vb = ($"qb".cast(DoubleType) * nbD -
      $"sb".cast(DoubleType) * $"sb".cast(DoubleType)) / (nbD * nbD)
    g.select($"dim", $"na", $"nb",
        round(ma - mb, 6).as("mean_shift"),
        round((ma - mb) / sqrt(va / naD + vb / nbD), 4).as("z_score"))
      .orderBy($"dim")
  }

  /** Parquet round-trip with a column bloom filter enabled on the
    * point-lookup key — the writer-side feature a 100 TB store turns
    * on so `custkey = ?` probes skip row groups without any index
    * service. The result (full + probe aggregates over the re-read
    * files) is layout-invariant, so the oracle derives it from the
    * source table directly; the op's value is exercising the writer
    * option path end to end. The skipping itself happens inside the
    * parquet reader and is not observable from the public plan, so no
    * stronger claim is pinned.
    */
  def sourceParquetBloomRoundtrip(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val dir = runDir("r13_pqbloom", sfDir)
    orders(spark, sfDir)
      .select($"o_orderkey", $"o_custkey",
        (money($"o_totalprice") * 100).cast(LongType).as("cents"))
      .write.mode("overwrite")
      .option("parquet.bloom.filter.enabled#o_custkey", "true")
      .option("parquet.bloom.filter.expected.ndv#o_custkey", "20000")
      .parquet(dir)
    val rd = spark.read.parquet(dir)
    rd.agg(count(lit(1)).as("n_rows"), sum($"cents").as("sum_cents"))
      .crossJoin(rd.filter($"o_custkey" === 7)
        .agg(count(lit(1)).as("n_probe"),
          coalesce(sum($"cents"), lit(0L)).as("probe_cents")))
  }
}
