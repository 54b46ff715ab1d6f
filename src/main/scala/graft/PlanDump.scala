package graft

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** Optimization-round evidence tool: for each named query, runs it with
  * the Bench session shape (same master/shuffle-partition/codegen-cache
  * confs) and writes `<outDir>/<name>_<suffix>.txt` containing
  *
  *   - two timed runs (run 1 warms fixtures/codegen; run 2 is the warm
  *     reading the canonical sweep's min column approximates),
  *   - executed-job/stage counts and total shuffle read/write bytes +
  *     records (collected by a SparkListener around run 2 — the
  *     empirical "how many exchanges actually ran" that a static
  *     explain cannot show for the ops that execute work eagerly
  *     while their DataFrame is built: the graph loops' counts and
  *     lookups, and every localCheckpoint),
  *   - `.explain("formatted")` of the query's final DataFrame.
  *
  * Usage: runMain graft.PlanDump <sfDir> <outDir> <suffix> <query...>
  * Measurement-only tooling: never touched by Verify/Bench, adds no
  * query, changes no result.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0); val outDir = args(1); val suffix = args(2)
    val names = args.drop(3)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.codegen.cache.maxEntries", "4096")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()

    @volatile var jobs = 0
    @volatile var stages = 0
    val shufWrite = new java.util.concurrent.atomic.AtomicLong
    val shufRead = new java.util.concurrent.atomic.AtomicLong
    val shufWriteRec = new java.util.concurrent.atomic.AtomicLong
    val shufReadRec = new java.util.concurrent.atomic.AtomicLong
    val spill = new java.util.concurrent.atomic.AtomicLong
    @volatile var recording = false
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        if (recording) jobs += 1
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
        if (recording) {
          stages += 1
          val m = s.stageInfo.taskMetrics
          if (m != null) {
            shufWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
            shufWriteRec.addAndGet(m.shuffleWriteMetrics.recordsWritten)
            shufRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
            shufReadRec.addAndGet(m.shuffleReadMetrics.recordsRead)
            spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
          }
        }
    })
    def clearLeaks(): Unit = {
      spark.sharedState.cacheManager.clearCache()
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = false))
      Thread.sleep(200)
    }
    val qs = SparkEntry.queries
    names.foreach { name =>
      qs.get(name) match {
        case None => System.err.println(s"[plandump] unknown query: $name")
        case Some(fn) =>
          val sb = new StringBuilder
          sb.append(s"== $name @ $sfDir (cpus=$cpus, suffix=$suffix) ==\n")
          // run 1: cold (fixtures/codegen warm-up)
          val t0 = System.nanoTime()
          try fn(spark, sfDir).count()
          catch { case e: Throwable =>
            sb.append(s"RUN1 FAILED: ${e.getClass.getName}: ${e.getMessage}\n") }
          val t1 = (System.nanoTime() - t0) / 1e9
          clearLeaks()
          // run 2: warm + metrics
          jobs = 0; stages = 0
          Seq(shufWrite, shufRead, shufWriteRec, shufReadRec, spill)
            .foreach(_.set(0))
          recording = true
          val t2 = System.nanoTime()
          val df = try { val d = fn(spark, sfDir); d.count(); Some(d) }
            catch { case e: Throwable =>
              sb.append(s"RUN2 FAILED: ${e.getClass.getName}: ${e.getMessage}\n"); None }
          val t3 = (System.nanoTime() - t2) / 1e9
          // drain listener bus so late stage events land before we stop recording
          Thread.sleep(300)
          recording = false
          sb.append(f"run1_cold_s=$t1%.3f run2_warm_s=$t3%.3f\n")
          sb.append(s"jobs=$jobs stages=$stages " +
            f"shuffle_write_mb=${shufWrite.get / 1048576.0}%.2f " +
            f"shuffle_read_mb=${shufRead.get / 1048576.0}%.2f " +
            s"shuffle_write_rec=${shufWriteRec.get} " +
            s"shuffle_read_rec=${shufReadRec.get} " +
            f"spill_mb=${spill.get / 1048576.0}%.2f\n\n")
          df.foreach { d =>
            sb.append(d.queryExecution.explainString(
              org.apache.spark.sql.execution.FormattedMode))
          }
          java.nio.file.Files.writeString(
            java.nio.file.Paths.get(s"$outDir/${name}_$suffix.txt"), sb.toString)
          clearLeaks()
      }
    }
    spark.stop()
  }
}
