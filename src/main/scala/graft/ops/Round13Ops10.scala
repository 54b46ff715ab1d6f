package graft.ops

import graft.Tables._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Round-13 widening, part 10: stratified causal effect estimation,
  * the higher-order array-function surface, and nested-schema
  * pruning through a struct-column write.
  */
object Round13Ops10 {

  /** Stratified average treatment effect: "urgent handling"
    * (priority 1-2) vs the rest on order value, stratified by the
    * customer market segment so the segment mix can't confound the
    * contrast — the causal-inference table a pricing team reads
    * instead of the naive diff. Per-stratum sums are exact cents; the
    * stratum term (n_s/N)·(μ_t−μ_c) freezes at 6 dp as DECIMAL before
    * the 5-row sum, and the naive ATE comes from the SAME per-stratum
    * partials (no second corpus pass).
    */
  def mlStratifiedAte(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val per = orders(spark, sfDir)
      .select($"o_custkey",
        $"o_orderpriority".isin("1-URGENT", "2-HIGH").as("t"),
        (money($"o_totalprice") * 100).cast(LongType).as("y"))
      .join(customer(spark, sfDir)
        .select($"c_custkey", $"c_mktsegment".as("segment")),
        $"o_custkey" === $"c_custkey")
      .groupBy($"segment")
      .agg(sum(when($"t", 1L).otherwise(0L)).as("nt"),
        sum(when($"t", $"y").otherwise(0L)).as("st"),
        sum(when(!$"t", 1L).otherwise(0L)).as("nc"),
        sum(when(!$"t", $"y").otherwise(0L)).as("sc"))
    val tot = per.agg(sum($"nt" + $"nc").as("n"),
      sum($"nt").as("tnt"), sum($"st").as("tst"),
      sum($"nc").as("tnc"), sum($"sc").as("tsc"))
    val mt = $"st".cast(DoubleType) / $"nt"
    val mc = $"sc".cast(DoubleType) / $"nc"
    val strat = per.crossJoin(broadcast(tot))
      .select($"segment", $"nt", $"nc",
        round(mt, 6).as("mean_treated"), round(mc, 6).as("mean_control"),
        round((($"nt" + $"nc").cast(DoubleType) / $"n") * (mt - mc), 6)
          .cast(DecimalType(28, 6)).as("term"))
    val ate = strat.agg(sum($"term").as("ates"))
      .crossJoin(broadcast(tot))
      .select($"ates".cast(DoubleType).as("ate_stratified"),
        round($"tst".cast(DoubleType) / $"tnt" -
          $"tsc".cast(DoubleType) / $"tnc", 6).as("ate_naive"))
    strat.crossJoin(broadcast(ate))
      .select($"segment", $"nt", $"nc", $"mean_treated", $"mean_control",
        $"term".cast(DoubleType).as("stratum_term"),
        $"ate_stratified", $"ate_naive")
      .orderBy($"segment")
  }

  /** The higher-order array-function surface in one pass: per-order
    * sorted quantity arrays folded with `aggregate` (reduce), sliced
    * with `filter`, paired with `zip_with`+`reverse`, probed with
    * `exists`/`forall` — all codegen-free Catalyst HOFs evaluated
    * inside the row, no UDFs. Global integer sums keep the oracle
    * exact; the zip_with palindrome-pair sum doubling the plain sum is
    * the built-in self-check (asserted in Round13Spec10).
    */
  def fnArrayHofs(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    lineitem(spark, sfDir)
      .groupBy($"l_orderkey")
      .agg(array_sort(collect_list($"l_quantity".cast(IntegerType)))
        .as("arr"))
      .select(
        expr("aggregate(arr, 0L, (acc, x) -> acc + x)").as("qsum"),
        expr("size(filter(arr, x -> x % 2 = 0))").as("n_even"),
        expr("aggregate(zip_with(arr, reverse(arr), (a, b) -> a + b)," +
          " 0L, (acc, x) -> acc + x)").as("pairsum"),
        expr("exists(arr, x -> x >= 45)").as("any_big"),
        expr("forall(arr, x -> x > 0)").as("all_pos"))
      .agg(count(lit(1)).as("n_orders"),
        sum($"qsum").as("sum_qty"),
        sum($"n_even").as("sum_even"),
        sum($"pairsum").as("sum_pairs"),
        sum(when($"any_big", 1L).otherwise(0L)).as("n_any_big"),
        sum(when($"all_pos", 1L).otherwise(0L)).as("n_all_pos"))
  }

  /** Nested-schema pruning proof: orders round-trip through a parquet
    * file whose payload is a 3-field STRUCT, then a query touches ONE
    * nested field — Round13Spec10 pins that the scan's ReadSchema
    * carries only `info.cents` (nested column pruning), the reader
    * behavior that keeps a 100 TB wide-struct store from reading
    * whole payloads for narrow questions. The aggregate itself is
    * layout-invariant, so the oracle derives it from the flat table.
    */
  def scanNestedPruning(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val dir = runDir("r13_nested", sfDir)
    orders(spark, sfDir)
      .select($"o_orderkey", struct(
        $"o_orderpriority".as("priority"),
        (money($"o_totalprice") * 100).cast(LongType).as("cents"),
        $"o_orderstatus".as("status")).as("info"))
      .write.mode("overwrite").parquet(dir)
    spark.read.parquet(dir)
      .groupBy($"info.priority".as("priority"))
      .agg(count(lit(1)).as("n"), sum($"info.cents").as("total_cents"))
      .orderBy($"priority")
  }
}
