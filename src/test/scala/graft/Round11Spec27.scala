package graft

import graft.ops.{Round11Ops3, Round11Ops30}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-11 widening, part 30: PRF expansion, multiformat dates,
  * top-percent, corrupt tolerance, WAP, fuzzy brand match. */
class Round11Spec27 extends AnyFunSuite with SparkFixture {

  test("PRF: expanded retrieval returns 10 docs with positive scores") {
    import spark.implicits._
    val rows = Round11Ops30.simQueryExpansionPrf(spark, sf)
      .as[(Long, Long, Double)].collect()
    assert(rows.length === 10)
    rows.foreach { case (_, nt, s) =>
      assert(nt >= 1 && s > 0)
    }
    // expansion can only add terms: top doc must match at least as
    // many terms as the original query's best
    val base = Round11Ops3.textBm25Retrieval(spark, sf)
      .as[(Long, Long, Double)].collect()
    assert(rows.map(_._2).max >= base.map(_._2).max)
  }

  test("multiformat dates: zero unparsed, all roundtrip") {
    import spark.implicits._
    val rows = Round11Ops30.fnMultiformatDates(spark, sf)
      .as[(Int, Long, Long, Long)].collect()
    assert(rows.map(_._2).sum === Tables.orders(spark, sf).count())
    rows.foreach { case (_, n, bad, rt) =>
      assert(bad === 0)
      assert(rt === n)
    }
  }

  test("top percent: k adapts to the year size") {
    import spark.implicits._
    val rows = Round11Ops30.winTopPercent(spark, sf)
      .as[(Int, Long, Long, Long)].collect()
    assert(rows.nonEmpty)
    val counts = Tables.orders(spark, sf)
      .groupBy(year($"o_orderdate")).count()
      .as[(Int, Long)].collect().toMap
    rows.foreach { case (yr, k, _, _) =>
      val n = counts(yr)
      assert(k === (n + 19) / 20, s"yr $yr: k=$k n=$n")
    }
  }

  test("ignore corrupt: garbage file does not fail or pollute the scan") {
    import spark.implicits._
    val rows = Round11Ops30.sourceIgnoreCorrupt(spark, sf)
      .as[(String, Long, Long)].collect()
    assert(rows.map(_._2).sum === Tables.events(spark, sf).count())
  }

  test("write-audit-publish: published equals the source batch") {
    import spark.implicits._
    val rows = Round11Ops30.pipelineWriteAuditPublish(spark, sf)
      .as[(String, Long, Long)].collect()
    assert(rows.map(_._2).sum === Tables.orders(spark, sf).count())
    // staging dir is gone after the atomic publish
    val stage = new org.apache.hadoop.fs.Path(Tables.runDir("r11_wap_stage", sf))
    val fs = stage.getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(stage))
    assert(fs.exists(new org.apache.hadoop.fs.Path(Tables.runDir("r11_wap_pub", sf))))
  }

  test("fuzzy brand match: strong recovery overall") {
    import spark.implicits._
    val rows = Round11Ops30.fnFuzzyBrandMatch(spark, sf)
      .as[(String, Long, Long, Double)].collect()
    assert(rows.map(_._2).sum === Tables.part(spark, sf).count())
    val recovered = rows.map(_._3).sum.toDouble / rows.map(_._2).sum
    assert(recovered > 0.5, s"overall recovery $recovered")
  }
}
