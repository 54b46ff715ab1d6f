package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Checks the output digest on a small table: it must not depend on row
  * order or partitioning, and it must change when one value changes. Also
  * checks the netting of CPU steal out of a timed call.
  */
object SelfTest {
  def run(): Unit = {
    val spark = SparkSession.builder().master("local[2]").appName("perfbench-selftest")
      .config("spark.ui.enabled", "false").config("spark.sql.shuffle.partitions", "2")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try {
      val base = spark.range(0, 2000).select(col("id"), (col("id") % 7).as("k"),
        (col("id") / 3.0).as("x"), map(lit("a"), col("id") % 5, lit("b"), lit(1L)).as("m"),
        array(col("id"), lit(2L)).as("arr"))
      val d0 = Main.digestWrite(base)
      val reordered = Main.digestWrite(base.repartition(7).orderBy(rand(1)))
      val changed = Main.digestWrite(base.withColumn("x",
        when(col("id") === 1234, col("x") + 1).otherwise(col("x"))))
      val dup = Main.digestWrite(base.union(base.limit(1)))
      require(d0 == reordered, s"digest depends on row order: $d0 vs $reordered")
      require(d0 != changed, "digest missed a changed value")
      require(d0 != dup, "digest missed an added row")
      require(d0.startsWith("2000:"), s"digest row count wrong: $d0")
      require(Steal.net(10.0, (100L, 5L), (400L, 105L)) == 7.5, "steal not netted out")
      require(Steal.net(10.0, (100L, 5L), (400L, 5L)) == 10.0, "time netted without steal")
      println("selftest ok " + d0)
    } finally spark.stop()
  }
}
