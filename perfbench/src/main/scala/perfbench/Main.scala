package perfbench

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.MapType
import scala.collection.immutable.ListMap
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

/** JVM side of the benchmark. It runs one workload in one JVM, calling
  * only the program's public surface (`RandomForestApp.train`,
  * `saveModel`, `loadAndScore`, the builders in `SparkEntry.queries`) and
  * a `noop` write of the DataFrame `Verify` would dump. It writes raw
  * timings, spans and output digests as one JSON file; `run.py` turns
  * them into metrics.
  *
  * Usage: Main --workload rf_fit|ops_mix --seed N --seconds S
  *   --trace 0|1 --data DIR --sf DIR --ops OP,OP,.. --work DIR --out FILE
  *        Main --selftest
  */
object Main {

  def main(args: Array[String]): Unit = {
    if (args.sameElements(Array("--selftest"))) { SelfTest.run(); return }
    val o = args.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val cpu0 = Steal.sample()
    val runSeconds = o("seconds").toDouble
    val spark = session(o("work"))
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1000.0
    val tr = new Tracer(spark, o("trace") == "1")
    val w: Workload = o("workload") match {
      case "rf_fit" => new RfFit(spark, tr, o("data"), o("work"))
      case "ops_mix" => new OpsMix(spark, tr, o("sf"), o("ops").split(",").toSeq,
        o("seed").toLong)
      case other => sys.error(s"unknown workload $other")
    }
    w.setup()
    // net of the CPU steal from here on; the JVM's start before it is
    // a fraction of a second
    val setupWallS = (System.currentTimeMillis() - jvmStartMs) / 1000.0
    val setupS = Steal.net(setupWallS, cpu0, Steal.sample())

    // Timed loop. The traced run alternates untraced and traced
    // iterations, untraced first and last; the first still warms, and
    // the traced ones against the untraced ones after it give the
    // tracing overhead.
    val iters = ArrayBuffer[Map[String, Any]]()
    var measured = 0.0
    Heap.settle()
    Heap.reset()
    val minIters = if (tr.enabled) 3 else w.minIterations
    while (iters.size < minIters || measured < runSeconds) {
      tr.on = tr.enabled && iters.size % 2 == 1
      w.gcSeconds = 0.0
      w.wallSeconds = 0.0
      val parts = tr.span("iteration", "harness")(w.iteration())
      val seconds = parts.map(_._2).sum
      measured += seconds
      iters += Map("seconds" -> seconds, "wall_s" -> w.wallSeconds, "traced" -> tr.on,
        "gc_s" -> w.gcSeconds, "parts" -> ListMap(parts: _*))
      tr.on = false
      // untimed: every iteration starts from a collected heap
      Heap.settle()
    }
    val peakMb = Heap.peakMb
    val checks = w.check()
    val result = Map(
      "workload" -> o("workload"),
      "setup_s" -> setupS,
      "setup_wall_s" -> setupWallS,
      "session_s" -> sessionS,
      "iterations" -> iters,
      "peak_heap_mb" -> peakMb,
      "failures" -> w.failures,
      "attempted" -> w.attempted,
      "checks" -> checks,
      "cores" -> Runtime.getRuntime.availableProcessors,
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576.0,
      "spans" -> tr.spans.map(s => Map("id" -> s.id, "parent" -> s.parent,
        "name" -> s.name, "layer" -> s.layer, "start" -> s.start, "end" -> s.end)),
      "jobs" -> (if (tr.enabled) tr.jobs else Nil).map(j => Map(
        "id" -> j.id, "span" -> j.span, "site" -> j.callSite, "start" -> j.start,
        "end" -> j.end, "tasks" -> j.tasks, "shuffle_bytes" -> j.shuffleBytes,
        "spill_bytes" -> j.spillBytes)),
      "plans" -> tr.plans.map { case (k, v) => k.toString -> v })
    tr.close()
    Files.write(Paths.get(o("out")),
      new ObjectMapper().registerModule(DefaultScalaModule).writeValueAsBytes(result))
    spark.stop()
  }

  def session(work: String): SparkSession = {
    val spark = SparkSession.builder()
      .master("local[4]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.codegen.cache.maxEntries", "4096")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** The sink every timed call ends in: the full output, as Verify would
    * write it, into Spark's `noop` source.
    */
  def noopWrite(df: DataFrame): Unit =
    df.coalesce(1).write.format("noop").mode("overwrite").save()

  /** `noopWrite`, returning an order-insensitive digest of the output it
    * wrote, observed in the same pass: row count and the XOR of each
    * row's 64-bit hash. XOR cannot overflow, unlike an ANSI sum of
    * hashes. Map columns are hashed as their sorted entries.
    */
  def digestWrite(df: DataFrame): String = {
    val named = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val cols = named.schema.fields.toSeq.map { f =>
      f.dataType match {
        case _: MapType => array_sort(map_entries(col(f.name)))
        case _ => col(f.name)
      }
    }
    val obs = Observation()
    noopWrite(named.observe(obs, count(lit(1)).as("n"), bit_xor(xxhash64(cols: _*)).as("x")))
    val m = obs.get
    digestString(m("n").asInstanceOf[Long], Option(m("x")).fold(0L)(_.asInstanceOf[Long]))
  }

  def digestString(rows: Long, xor: Long): String = f"$rows%d:$xor%016x"
}

/** One workload: untimed setup, then timed iterations. An iteration's
  * time is the sum of its timed calls.
  */
trait Workload {
  protected def tr: Tracer
  def setup(): Unit
  /** Timed iterations an untraced run makes at least, however short. */
  def minIterations: Int = 1
  /** One timed iteration; returns the seconds of each public call. */
  def iteration(): Seq[(String, Double)]
  /** Untimed output checks, run once after the timed loop. */
  def check(): Map[String, Any]
  val failures = ArrayBuffer[String]()
  var attempted = 0
  /** collection time inside timed calls since the harness last reset it */
  var gcSeconds = 0.0
  /** wall time of the timed calls since the harness last reset it */
  var wallSeconds = 0.0

  /** One public call, timed and, in a traced iteration, recorded as a
    * span of the given layer. Returns its seconds net of CPU steal.
    */
  protected def call[T](name: String, layer: String)(body: => T): (T, Double) = {
    val gc0 = Heap.gcSeconds
    val cpu0 = Steal.sample()
    val t0 = System.nanoTime()
    val r = tr.span(name, layer)(body)
    val wall = (System.nanoTime() - t0) / 1e9
    gcSeconds += Heap.gcSeconds - gc0
    wallSeconds += wall
    (r, Steal.net(wall, cpu0, Steal.sample()))
  }
}

/** The generator's files for one seed: the timed inputs, and the small
  * ones the setup warms the JVM on.
  */
final case class RfData(train: String, test: String, score: String)

object RfData {
  def apply(dir: String): RfData =
    RfData(s"$dir/train.csv", s"$dir/test.csv", s"$dir/score.parquet")
  def warm(dir: String): RfData =
    RfData(s"$dir/warm.csv", s"$dir/warm.csv", s"$dir/warm.parquet")
}

/** Held-out accuracy and full-output digest of one scored output
  * (id, label, prediction), in one pass.
  */
object RfCheck {
  def apply(scored: DataFrame): Map[String, Any] = {
    val r = scored.select(
      xxhash64(col("id"), col("label"), col("prediction")).as("h"),
      (col("prediction") === col("label")).cast("long").as("hit"))
      .agg(count(lit(1)), sum("hit"), bit_xor(col("h"))).head()
    val n = r.getLong(0)
    Map("accuracy" -> (if (n == 0) 0.0 else r.getLong(1).toDouble / n),
      "digest" -> Main.digestString(n, if (r.isNullAt(2)) 0L else r.getLong(2)))
  }
}

/** The reference's train job → saved forest → scoring job chain, with
  * the app defaults (50 trees, depth 8): train on the seeded CSV, save,
  * then load the saved forest and score the held-out CSV and a larger
  * parquet batch, each to a noop write.
  */
final class RfFit(spark: SparkSession, protected val tr: Tracer, data: String,
    work: String)
    extends Workload {
  import graft.RandomForestApp
  private val d = RfData(data)
  private val small = RfData.warm(data)
  private val model = s"$work/rf_fit_model"
  private val scoredOut = scala.collection.mutable.Map[String, DataFrame]()
  private var firstTest: DataFrame = _

  // The JVM warms for several iterations: after one cold iteration on the
  // full inputs, the iterations of one run took 11.2, 9.5, 8.8, 8.5 and
  // 8.1 s. The setup runs the chain on the small inputs instead, which
  // warms the same code at about two thirds of the cold cost; the median
  // of two timed iterations then halves the weight of the warming left in
  // the first, and of a burst of CPU steal in either.
  def setup(): Unit = run(small)
  override def minIterations: Int = 2

  private def run(d: RfData): Seq[(String, Double)] = {
    val (m, trainS) = call("train", "rf_app")(RandomForestApp.train(spark, d.train))
    val (_, saveS) = call("saveModel", "rf_app")(RandomForestApp.saveModel(m, model))
    val scored = Seq("test" -> d.test, "batch" -> d.score).flatMap { case (name, path) =>
      val (out, loadS) = call(s"loadAndScore $name", "rf_app")(
        RandomForestApp.loadAndScore(spark, model, path))
      val (_, writeS) = call(s"write $name", "sink")(Main.noopWrite(out))
      scoredOut(name) = out
      Seq(s"loadAndScore $name" -> loadS, s"write $name" -> writeS)
    }
    Seq("train" -> trainS, "saveModel" -> saveS) ++ scored
  }

  def iteration(): Seq[(String, Double)] = {
    attempted += 1
    val parts = run(d)
    if (firstTest == null) firstTest = scoredOut("test")
    parts
  }

  /** The held-out output of the first and the last timed iteration, which
    * must be identical (each scored DataFrame keeps the forest it loaded),
    * and the batch's accuracy.
    */
  def check(): Map[String, Any] = Map("first" -> RfCheck(firstTest),
    "last" -> RfCheck(scoredOut("test")),
    "accuracy" -> RfCheck(scoredOut("batch"))("accuracy"))
}

/** A pass over registered ops, in an order drawn from the seed. Each op is timed from its builder call to the
  * end of its noop write, one op at a time. Setup runs every op on four
  * threads, the same noop write with its output digest observed, which
  * warms the JVM and fills Spark's cache of generated code for the timed
  * plans.
  */
final class OpsMix(spark: SparkSession, protected val tr: Tracer, sf: String,
    ops: Seq[String], seed: Long)
    extends Workload {
  private val queries = graft.SparkEntry.queries
  private val rng = new scala.util.Random(seed)
  private var digests = Map.empty[String, String]
  @volatile private var knnAccuracy = 0.0

  def setup(): Unit = {
    require(new java.io.File(sf, "lineitem.parquet").exists, s"no tables in $sf")
    digests = concurrently { op =>
      val df = queries(op)(spark, sf)
      val digest = Main.digestWrite(df)
      if (op == "ml_knn_classify") {
        val r = df.agg(sum("n_correct"), sum("n")).head()
        knnAccuracy = r.getLong(0).toDouble / r.getLong(1)
      }
      digest
    }
  }

  def iteration(): Seq[(String, Double)] =
    rng.shuffle(ops).flatMap { op =>
      attempted += 1
      try {
        val (df, buildS) = call(s"build $op", "build")(queries(op)(spark, sf))
        val (_, writeS) = call(s"write $op", "sink")(Main.noopWrite(df))
        Some(op -> (buildS + writeS))
      } catch {
        case NonFatal(e) =>
          failures += s"$op: ${e.getClass.getName}: ${e.getMessage}"
          None
      } finally {
        // untimed: a collection while the op's cached blocks are still
        // held, for the heap peak; then the next op starts from a settled
        // heap, so an op's peak does not carry the blocks and broadcasts
        // of the op before it
        System.gc()
        clearCaches()
        Heap.settle()
      }
    }

  /** Full-output digest of every op, and the kNN vote's accuracy. */
  def check(): Map[String, Any] = Map("digests" -> digests, "accuracy" -> knnAccuracy)

  private def clearCaches(): Unit = {
    spark.sharedState.cacheManager.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
  }

  /** Runs f on every op, four at a time, from the end of the list, where
    * the longest-running family is; clears the ops' cached blocks only
    * once all have finished, since a running op cannot lose its
    * checkpointed blocks.
    */
  private def concurrently(f: String => String): Map[String, String] = {
    val queue = new java.util.concurrent.ConcurrentLinkedQueue[String](
      ops.reverse.asJava)
    val out = new java.util.concurrent.ConcurrentHashMap[String, String]()
    val threads = (1 to 4).map { i =>
      val th = new Thread(() => {
        var op = queue.poll()
        while (op != null) {
          out.put(op, try f(op) catch {
            case NonFatal(e) => s"error: ${e.getClass.getName}: ${e.getMessage}"
          })
          op = queue.poll()
        }
      }, s"perfbench-$i")
      th.start()
      th
    }
    threads.foreach(_.join())
    clearCaches()
    out.asScala.toMap
  }
}
