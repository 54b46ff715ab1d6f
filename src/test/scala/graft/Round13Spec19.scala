package graft

import graft.ops.Round13Ops19
import org.scalatest.funsuite.AnyFunSuite

/** Round-13 part 19: backtest horizon shape, truss peel monotonicity,
  * partition type inference pin.
  */
class Round13Spec19 extends AnyFunSuite with SparkFixture {

  test("rolling origin: 3 origins x full 7-day horizons, mae >= 0") {
    import spark.implicits._
    val rows = Round13Ops19.tsRollingOriginBacktest(spark, sf)
      .as[(String, Long, Long, Double)].collect()
    assert(rows.nonEmpty)
    val byType = rows.groupBy(_._1)
    byType.values.foreach { g =>
      assert(g.map(_._2).toSet.subsetOf(Set(28L, 21L, 14L)))
      g.foreach { case (et, o, n, mae) =>
        // sparse types miss days at small SF: pairs are bounded by the
        // 7-day horizon, never beyond it
        assert(n >= 1 && n <= 7, s"$et origin $o: horizon $n")
        assert(mae >= 0.0)
      }
    }
    // the dense types must produce complete horizons
    assert(rows.exists(_._3 == 7), "no type produced a full 7-day horizon")
  }

  test("ktruss: peel is monotone and idempotent-bounded") {
    import spark.implicits._
    val (n0, n1, n2, nodes) = Round13Ops19.graphKtruss2Round(spark, sf)
      .as[(Long, Long, Long, Long)].head()
    assert(n0 >= n1 && n1 >= n2, s"peel must shrink: $n0 -> $n1 -> $n2")
    assert(n2 >= 0 && (n2 == 0 || nodes >= 3),
      "a nonempty 2-peel needs at least one triangle's worth of nodes")
  }

  test("partition inference: d comes back as DATE, bucket as INT") {
    import spark.implicits._
    val df = Round13Ops19.sourcePartitionTypeInference(spark, sf)
    // read the written dataset directly to check the INFERRED schema
    val raw = spark.read.parquet(Tables.runDir("r13_ptypes", sf))
    assert(raw.schema("d").dataType ===
      org.apache.spark.sql.types.DateType)
    assert(raw.schema("bucket").dataType ===
      org.apache.spark.sql.types.IntegerType)
    assert(df.count() > 0)
  }
}
