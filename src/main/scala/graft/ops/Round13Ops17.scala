package graft.ops

import graft.Tables._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Round-13 widening, part 17: community conductance over the LPA
  * partition, exactly-once offset-file resume, and the SELECT *
  * EXCEPT projection surface.
  */
object Round13Ops17 {

  /** Conductance of each LPA community on the part-supplier graph:
    * φ(C) = cut(C) / min(vol(C), 2|E|−vol(C)) — the quality score
    * that tells you whether label propagation found real structure or
    * just connected components. Consumes the shared LPA label
    * artifact (built once per dataset, not per query — the
    * recompute-inline version put BOTH this op and LPA in the
    * board's top-3 cost); cut and volume are two keyed joins + integer aggregates
    * over the SAME edge list (each direction of an edge charges its
    * source's community, so a boundary edge is counted once per
    * side, matching the volume convention). Top-10 communities by
    * size.
    */
  def graphConductance(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val lab = spark.read
      .parquet(Round13Ops3.lpaLabelsPath(spark, sfDir))
      .select($"node", $"lbl")
    val pairs = lineitem(spark, sfDir)
      .select($"l_partkey".as("p"), ($"l_suppkey" + 10000000L).as("s"))
      .distinct()
    val edges = pairs.select($"p".as("src"), $"s".as("dst"))
      .unionAll(pairs.select($"s".as("src"), $"p".as("dst")))
    val deg = edges.groupBy($"src".as("node")).agg(count(lit(1)).as("dg"))
    val vol = deg.join(lab, Seq("node"))
      .groupBy($"lbl")
      .agg(sum($"dg").as("volume"), count(lit(1)).as("n_nodes"))
    val tot = vol.agg(sum($"volume").as("m2"))
    val cut = edges
      .join(lab.select($"node".as("src"), $"lbl".as("la")), Seq("src"))
      .join(lab.select($"node".as("dst"), $"lbl".as("lb")), Seq("dst"))
      .filter($"la" =!= $"lb")
      .groupBy($"la".as("lbl")).agg(count(lit(1)).as("cut"))
    vol.join(cut, Seq("lbl"), "left").crossJoin(broadcast(tot))
      .select($"lbl".as("community"), $"n_nodes", $"volume",
        coalesce($"cut", lit(0L)).as("cut_edges"),
        when(least($"volume", $"m2" - $"volume") === 0, lit(0.0))
          .otherwise(round(coalesce($"cut", lit(0L)).cast(DoubleType) /
            least($"volume", $"m2" - $"volume"), 6)).as("conductance"))
      .orderBy($"n_nodes".desc, $"community")
      .limit(10)
  }

  /** Exactly-once batch resume through an offsets file: three event
    * chunks process in two "runs" — run 1 commits chunks 0 and 1 to
    * the offsets file, the simulated restart reads the file and
    * processes ONLY what is not committed (chunk 2). The output
    * reports each chunk with the run that actually processed it —
    * the at-least-once→exactly-once upgrade every file-fed pipeline
    * implements before it can be re-run safely.
    */
  def pipelineOffsetResume(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val stateDir = new java.io.File(runDir("r13_offsets", sfDir))
    stateDir.mkdirs()
    val offsets = new java.io.File(stateDir, "committed.txt")
    def committed(): Set[Int] =
      if (!offsets.exists()) Set.empty
      else scala.io.Source.fromFile(offsets).getLines().map(_.toInt).toSet
    def commit(b: Int): Unit = {
      val w = new java.io.FileWriter(offsets, true)
      try w.write(s"$b\n") finally w.close()
    }
    // fresh state per invocation: the run directory persists across
    // the sweep but the op owns its lifecycle
    if (offsets.exists()) offsets.delete()
    val chunks = events(spark, sfDir)
      .select(pmod($"event_id", lit(3)).cast(IntegerType).as("batch_id"),
        (money($"value") * 100).cast(LongType).as("cents"))
    def process(run: String, batches: Seq[Int]): Seq[(Int, String)] =
      batches.filterNot(committed()).map { b => commit(b); b -> run }
    val done = process("run1", Seq(0, 1)) ++ process("run2", Seq(0, 1, 2))
    val runOf = done.toDF("batch_id", "processed_by")
    chunks.groupBy($"batch_id")
      .agg(count(lit(1)).as("n_rows"), sum($"cents").as("sum_cents"))
      .join(broadcast(runOf), Seq("batch_id"))
      .orderBy($"batch_id")
  }

  /** SELECT * EXCEPT — the projection that drops columns by NAME
    * instead of enumerating survivors, which is what keeps a
    * 200-column table's queries readable (and is pruning-equivalent:
    * the scan reads only the surviving columns). The aggregate on top
    * keeps the oracle small.
    */
  def sqlSelectStarExcept(spark: SparkSession, sfDir: String): DataFrame = {
    orders(spark, sfDir).createOrReplaceTempView("g13_orders_se")
    spark.sql("""
      SELECT o_orderstatus, count(*) AS n,
        CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT))
          AS BIGINT) AS sum_cents,
        count(DISTINCT o_orderpriority) AS n_priorities
      FROM (SELECT * EXCEPT (o_custkey, o_orderdate) FROM g13_orders_se)
      GROUP BY o_orderstatus
      ORDER BY o_orderstatus
    """)
  }
}
