package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.Suite

/** Shared local SparkSession for test suites (one JVM-wide session —
  * getOrCreate reuses it across suites in the same forked test run).
  */
trait SparkFixture { this: Suite =>
  lazy val spark: SparkSession = SparkFixture.session
  val sf: String = "/root/testdata/sf0.001"

  /** Where materializeOnce keeps the artifact `name` built over the
    * fixture tables.
    */
  def artifact(name: String): String =
    Tables.scratchPath(s"mat/${name}_${graft.ops.ScaleTechniques.datasetKey(sf)}")
}

object SparkFixture {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      // match Bench/Verify: the PlanSpec full-board sweeps compile all
      // ~640 plans in one JVM; the 100-entry generated-class cache
      // default would cycle and re-pay janino per revisit (round 18)
      .config("spark.sql.codegen.cache.maxEntries", "4096")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
