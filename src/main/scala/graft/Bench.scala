package graft
import org.apache.spark.sql.SparkSession

/** Pure measurement policy for Bench, factored out so the fold/flag/
  * budget arithmetic is unit-testable without running a sweep
  * (BenchMathSpec). Bench feeds plain numbers; nothing here touches
  * Spark.
  */
object BenchMath {

  /** (median, min) over the SUCCESSFUL runs of one op. Failed runs are
    * recorded as -1 by the sweep and excluded here — the round-17 code
    * timed the failure path itself, so a fast-throwing op read as a
    * fast op; (-1, -1) when every run failed keeps the failure visible
    * in the JSON line (the driver's success signal is "no -1
    * seconds"). Even counts report the upper median (the convention
    * every prior round's numbers used).
    */
  def medMin(times: Seq[Double]): (Double, Double) = {
    val ok = times.filter(_ >= 0).sorted
    if (ok.isEmpty) (-1.0, -1.0) else (ok(ok.size / 2), ok.head)
  }

  /** CPU-steal% observed around the run that produced the min. The min
    * is the reading adjudication trusts (least-contended observation),
    * so the steal that matters for the "even the best reading was
    * contended" flag is the steal under THAT run — a dirty pass-1 run
    * next to a clean pass-3 min must not flag the op.
    */
  def stealOfMin(runs: Seq[(Double, Double)]): Double = {
    val ok = runs.filter(_._1 >= 0)
    if (ok.isEmpty) -1.0 else ok.minBy(_._1)._2
  }

  /** Fold an end-of-sweep re-run into the min column. A FAILED re-run
    * is recorded as -1 and must never replace the min (round-17
    * advisory: the old code recorded the elapsed time of the failure
    * path, so a fast-throwing re-run — artifact race, OOM — replaced a
    * flagged op's min with a bogus sub-second value, silently
    * vindicating a real regression).
    */
  def foldMin(sweepMin: Double, rerun: Option[Double]): Double =
    rerun.filter(_ > 0).fold(sweepMin)(r =>
      if (sweepMin < 0) r else math.min(sweepMin, r))

  /** Worst-evidence score for re-run priority; 0 = unflagged. The
    * round-17 cap ranked by absolute median-min spread, which dropped
    * exactly the ops the re-run exists to adjudicate when the cap
    * bound: uniform all-runs starvation (criterion b) has near-zero
    * spread (r17's pipeline_pii_audit: 10.2 s min, small spread, vs
    * 0.33 s one sweep later). Ranking by the worst RATIO across
    * criteria keeps those at the front. Criteria match rounds 16-17:
    * (a) median/min spread > 2.5x = measured under load; (b) min > 2x
    * the predecessor bench_full min = regressed OR contended for all
    * runs; (c) steal > 8% under the min run = contention directly
    * observed.
    */
  def flagScore(med: Double, mn: Double, steal: Double,
      prevMin: Option[Double]): Double = {
    // (d) every run failed: the only evidence is "something threw" —
    // a transient artifact race and a real break look identical, and
    // without a flag the adopt-a-successful-rerun branch of foldMin
    // could never fire (round-18 advisory: it was unreachable). Fixed
    // 3.0 ranks the adjudication above mild spread (~2.5) but below
    // heavy starvation ratios, which carry actual slow readings.
    if (mn < 0) return 3.0
    val spread = if (mn > 0.05 && med / mn > 2.5) med / mn else 0.0
    val regress = prevMin.filter(p => p > 0.15 && mn > 2 * p)
      .map(mn / _).getOrElse(0.0)
    val stl = if (steal > 8.0 && mn > 0.15) steal / 8.0 else 0.0
    math.max(spread, math.max(regress, stl))
  }

  /** Whether ONE more timed run of an op fits the wall budget
    * (round-19: replaces the all-or-nothing next-pass gate — a pass
    * that can't finish whole is still worth STARTING, because the
    * board is ordered headline-first and every op the budget does
    * reach gets its warm re-measure). Estimate = the op's own best
    * successful reading so far, 1.3x slack for steal, floored so a
    * flood of sub-ms estimates can't pile up at the deadline edge;
    * 0.85 headroom reserves the re-run backstop + the JSON emit.
    */
  def allowOpRun(elapsedS: Double, estS: Double, budgetS: Double): Boolean =
    elapsedS + 1.3 * math.max(estS, 0.05) <= 0.85 * budgetS

  /** Whether one more end-of-sweep re-run fits: estimate = the op's
    * own min with a floor (the re-run usually runs FASTER than the
    * flagged readings — that is the point), 1.5x slack because the
    * starvation window may not have passed.
    */
  def allowRerun(elapsedS: Double, opMinS: Double, budgetS: Double): Boolean =
    elapsedS + 1.5 * math.max(opMinS, 0.3) <= 0.95 * budgetS
}

/** Benchmark entry point (driver contract): runs every registered query
  * against SPARK_GRAFT_SF_DIR and prints ONE compact JSON line.
  *
  * The line MUST stay well under 2000 characters: the driver harness
  * captures only the tail of the sbt output, and a line carrying all
  * ~640 per-query timings at full double precision gets its head
  * truncated and fails to parse (observed in round 1: BENCH_r01.json
  * parsed=null). So stdout carries the total plus a fixed headline
  * subset (the BASELINE.md anchor queries + the historically slowest
  * ops) rounded to 3dp; the full per-query map goes to
  * `bench_full.json`.
  *
  * Round 18 — the artifact must be UNLOSABLE (round-17 verdict task 1:
  * BENCH_r17.json was timeout-killed at rc=124 with parsed=null because
  * the JSON line printed only after the full sweep + re-run pass):
  *   - a wall BUDGET (SPARK_GRAFT_BENCH_BUDGET_S, default 1200 s of JVM
  *     wall) degrades the sweep adaptively — runs interleave as whole-
  *     board passes, and passes 2..N only start if the previous pass's
  *     wall still fits; the re-run pass checks the budget before every
  *     re-run;
  *   - bench_full.json is CHECKPOINTED every 20 op-runs with
  *     `"incomplete": true` + the op being run, so even a SIGKILL
  *     leaves a parseable on-disk artifact;
  *   - a JVM shutdown hook prints the stdout JSON line (marked
  *     incomplete) if the sweep dies before the normal emit — a
  *     SIGTERM'd run still hands the driver a parseable line.
  *
  * Round 19 — the artifact must also be WARM (round-18 verdict task 1:
  * the driver budget fits one cold pass, so BENCH_r18's min column was
  * a single cold observation, 4x the canonical 3-pass sweep and not
  * comparable to it):
  *   - an UNTIMED, CONCURRENT warmup phase pre-pays every one-time
  *     cost (fixture layouts, model caches, codegen/JIT) before pass 1;
  *   - the board is ordered headline-first and passes 2..N gate per op,
  *     so the gate anchors always get all N runs and the budget decides
  *     only how far down the board the later passes reach;
  *   - the artifact carries `min_semantics`, per-op run counts, and an
  *     explicit cold-op list, and tools/bench_compare.py refuses the
  *     min-column reads those fields mark as incomparable.
  */
object Bench {

  /** BASELINE.md anchors first, then the ops worth watching per round.
    * private[graft]: BenchMathSpec pins every name to a real
    * SparkEntry.queries key — a typo here silently drops a headline
    * metric from the driver artifact.
    */
  private[graft] val headline: Seq[String] = Seq(
    "agg_hash_groupby",      // q1 pricing summary
    "join_q3_topk",          // q3 join+agg+top-k
    "join_multiway_star",    // q5 six-table star join
    "win_topk_per_group",    // window rank top-3/cust
    "fn_json",               // events JSON-extract agg
    "text_lang_id",          // documents per-lang agg
    "sim_cosine_topk",       // cosine top-20 self-join
    "stream_tumbling_window",
    "stream_session_window",
    "scan_parquet_full",
    "dedup_minhash_lsh",
    "dedup_near_jaccard",
    "dedup_simhash",
    "ml_rf_train_predict",
    "ml_rf_regression",
    "agg_typed_aggregator",
    "join_bucketed_colocated")

  // Locale.ROOT: a comma decimal separator would corrupt the JSON
  private def fmt(v: Double): String =
    String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))

  def main(args: Array[String]): Unit = {
    val jvmT0 = System.nanoTime()
    def elapsedS: Double = (System.nanoTime() - jvmT0) / 1e9
    // Budget is JVM wall, not sweep wall: the driver's kill clock
    // started before this JVM did (sbt launch + compile ride the same
    // timeout), so everything this process spends counts against it.
    val budgetS = sys.env.getOrElse("SPARK_GRAFT_BENCH_BUDGET_S", "1200").toDouble
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      // The generated-class cache defaults to 100 entries; a 640-plan
      // interleaved sweep cycles it completely between an op's passes,
      // so EVERY run re-runs janino + fresh JIT (~0.3-1 s) that the
      // old 3-consecutive-runs design amortized into run 1 — measured
      // round 18: the dedup/analytic families' min-of-3 read a uniform
      // 2-3x above r17 with zero steal and tight spread until this was
      // raised. On a real cluster a plan compiles once per job, so the
      // compile tax must not ride the min column. 4096 covers the
      // board's ~2000 codegen stages; entries are small (compiled
      // classes) against the 24g driver heap.
      .config("spark.sql.codegen.cache.maxEntries", "4096")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // The corrupt-file tolerance ops (source_ignore_corrupt's garbage
    // parquet part, fn/json PERMISSIVE parses) make Spark's datasource
    // readers log the skipped file WITH a full stack trace at WARN —
    // which lands in the driver-captured log tail and reads like a
    // failure (round-13 verdict task 5). Quiet exactly those loggers:
    // the skip is the op's INTENDED behavior, and real failures still
    // surface as -1 seconds in the JSON line (and via ERROR loggers,
    // which stay on).
    Seq(
      "org.apache.spark.sql.execution.datasources.FileScanRDD",
      "org.apache.spark.sql.execution.datasources.v2.FilePartitionReader")
      .foreach(l => org.apache.logging.log4j.core.config.Configurator.setLevel(
        l, org.apache.logging.log4j.Level.ERROR))
    // optional CLI args = run only these queries (iteration aid; the
    // driver invokes with no args and gets the full sweep)
    // Fixed deterministic order: hash-order iteration moved the
    // shared-JVM context (GC pressure, codegen cache, ReuseExchange)
    // onto different queries whenever an entry was added, making
    // per-query numbers incomparable across rounds (round-6 verdict:
    // 3-4x deltas on identical code). Round 19: HEADLINE-FIRST, then
    // by name — when the wall budget gates a later pass mid-board, the
    // ops it reaches first must be the 17 gate anchors, so they get
    // all N passes even on a sweep that degrades to one-and-a-bit
    // (round-18 verdict task 1b). Still fixed and deterministic; the
    // r18 rebaseline already reset the predecessor chain this order
    // change would otherwise perturb.
    val headSet = headline.toSet
    val byName = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (k, _) => args.isEmpty || args.contains(k) }
    val selected = headline.flatMap(h => byName.find(_._1 == h)) ++
      byName.filterNot { case (k, _) => headSet(k) }
    // Untimed warmup: JVM/codegen/parquet-reader init otherwise lands
    // entirely on whichever query happens to run first (~4 s measured),
    // corrupting that query's number. One tiny scan per table + one
    // joined agg warms the machinery every real query shares.
    try {
      graft.Tables.names.foreach(t =>
        graft.Tables(spark, sfDir, t).limit(1).count())
      SparkEntry.entry(spark).count()
    } catch { case _: Throwable => () }
    // Up to N INTERLEAVED whole-board passes per query (round-17
    // verdict task 2): the old 3-consecutive-runs design let one
    // multi-minute hypervisor starvation window poison ALL runs of
    // whatever ops it covered (the r16/r17 "excursion blocks" — ops
    // reading 3-40x slow in every run, reverting fresh-JVM). With
    // passes separated by the whole board (~6 min apart), a window
    // must persist across the entire sweep to contaminate an op's
    // min-of-N — so the min column is steal-robust BY CONSTRUCTION and
    // the re-run pass becomes a backstop instead of a 64-op tail.
    // One-time costs that intentionally amortize (derived layouts, model
    // caches) land in pass 1 and the median reports steady state; the
    // min column stays the canonical comparator (BASELINE.md round-16
    // note). Clamped to >=1; even pass counts report the upper median.
    val maxPasses = math.max(1, sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "3").toInt)
    // Load self-diagnosis (round-8 lesson): the driver's sweep ran on a
    // machine busy with its own oracle work and reported a slow tail
    // 6-14x above isolation on identical code — indistinguishable from
    // a regression without re-measuring. Record the OS load average
    // around the sweep and the wall-vs-measured ratio, and report each
    // query's MIN alongside the median: min is the least-contended
    // observation, so median >> min across the board reads as machine
    // load, not code.
    val osBean = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    val loadStart = osBean.getSystemLoadAverage
    // CPU steal across the sweep (round-17): a VM whose host throttles
    // sustained load (burst credits, noisy neighbors) produces exactly
    // the contiguous in-sweep excursion blocks BENCH_r14/r16 showed —
    // fast fresh-JVM probes, slow mid-sweep windows. /proc/stat field 8
    // is steal ticks; recording the sweep-wide percentage makes the
    // artifact self-diagnosing (high steal_pct = read mins, not medians).
    def procStat(): Option[(Long, Long)] = try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try src.getLines().find(_.startsWith("cpu ")).map { l =>
        val f = l.trim.split("\\s+").drop(1).map(_.toLong)
        (f.sum, if (f.length > 7) f(7) else 0L)
      } finally src.close()
    } catch { case _: Throwable => None }
    val statStart = procStat()
    // Steal TIMELINE (round-17 verdict task 6): the 20 s /proc/stat
    // sampler that adjudicated the r16 excursions lived only in the
    // probe methodology; folding it into the artifact itself means the
    // next excursion is adjudicated from bench_full.json alone —
    // "which ops ran inside a >10% steal window" becomes one read.
    // Daemon thread: dies with the JVM, never blocks shutdown.
    val stealTimeline = new java.util.concurrent.ConcurrentLinkedQueue[(Int, Double)]()
    val sampler = new Thread(() => {
      var prev = procStat()
      while (true) {
        Thread.sleep(20000)
        val cur = procStat()
        for { (t0, s0) <- prev; (t1, s1) <- cur if t1 > t0 }
          stealTimeline.add((elapsedS.toInt, 100.0 * (s1 - s0) / (t1 - t0)))
        prev = cur
      }
    })
    sampler.setDaemon(true)
    sampler.start()
    // Per-query spill + GC attribution (round-9 lesson: the driver
    // sweep read 37.7 s for a query that runs ~1 s isolated, and it
    // took a judge session of re-measurement to prove it was machine
    // load; spill/GC fields show it in one read — high gc_ms with flat
    // spill_mb across the board reads as shared-JVM/memory pressure,
    // per-query spill_mb reads as that query's own shuffle exceeding
    // executor memory). Attribution is by a volatile current-query
    // label from the async listener bus; a short post-query grace wait
    // catches trailing task-end events, and residual misattribution is
    // bounded and acceptable for a diagnostic.
    val spillBytes = new java.util.concurrent.ConcurrentHashMap[String, java.util.concurrent.atomic.AtomicLong]()
    val gcMs = new java.util.concurrent.ConcurrentHashMap[String, java.util.concurrent.atomic.AtomicLong]()
    @volatile var currentQuery = ""
    val taskEnds = new java.util.concurrent.atomic.AtomicLong
    def acc(m: java.util.concurrent.ConcurrentHashMap[String, java.util.concurrent.atomic.AtomicLong],
        k: String, v: Long): Unit =
      m.computeIfAbsent(k, _ => new java.util.concurrent.atomic.AtomicLong).addAndGet(v)
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
        taskEnds.incrementAndGet()
        val q = currentQuery
        val m = te.taskMetrics
        if (q.nonEmpty && m != null) {
          acc(spillBytes, q, m.memoryBytesSpilled + m.diskBytesSpilled)
          acc(gcMs, q, m.jvmGCTime)
        }
      }
    })
    // Drain the async listener bus before relabeling currentQuery: a
    // fixed grace sleep under-waits exactly when attribution matters
    // most (GC/spill delays task-end delivery). Poll for a 40 ms quiet
    // window, capped at 500 ms so a stalled bus can't hang the sweep.
    def drainBus(): Unit = {
      val deadline = System.nanoTime() + 500000000L
      var last = taskEnds.get(); Thread.sleep(40)
      while (taskEnds.get() != last && System.nanoTime() < deadline) {
        last = taskEnds.get(); Thread.sleep(40)
      }
    }
    // Predecessor mins from the last committed/driver bench_full.json:
    // the self-defense pass compares against them (round-16 verdict
    // task 1b). MUST load before the first checkpoint overwrites the
    // file. Jackson rides Spark's classpath; absence of the file or
    // the field degrades to spread-only flagging, never a failure.
    val prevMin: Map[String, Double] = try {
      val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
      val root = mapper.readTree(new java.io.File("bench_full.json"))
      val qm = root.get("queries_min")
      if (qm == null) Map.empty
      else {
        val it = qm.fields()
        val b = Map.newBuilder[String, Double]
        while (it.hasNext) { val e = it.next(); b += e.getKey -> e.getValue.asDouble() }
        b.result()
      }
    } catch { case _: Throwable => Map.empty }
    def clearLeaks(): Unit = {
      // Drop blocks the finished run leaked into the shared JVM —
      // localCheckpoint(true), which ops use to read one intermediate
      // table twice (the near-dup shingle table, for one), pins its
      // materialized RDD blocks outside the CacheManager, so N passes
      // × 640 queries accumulate GBs of storage, and the round-7
      // full-board sweep ran the dedup family 10-20× slower than in
      // isolation (16.4 s vs 0.7 s for dedup_minhash_lsh). Queries
      // never share cached state across entries (derived layouts
      // amortize in the context's scratch directory), so clearing
      // between runs is contamination-control, not a benchmark cheat.
      spark.sharedState.cacheManager.clearCache()
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = false))
      drainBus()
    }

    // ---- mutable sweep state, readable by the shutdown hook ----
    // Only the main thread writes; the hook/checkpoints read. Per-op
    // run history is (seconds-or--1, steal%-around-that-run).
    val state = new java.util.concurrent.ConcurrentHashMap[String, Vector[(Double, Double)]]()
    @volatile var rerunDone: Map[String, Double] = Map.empty
    @volatile var passesDone = 0
    @volatile var partialPassOps = 0
    @volatile var warmupWallS = 0.0
    // names successfully pre-run by the untimed warmup phase: an op in
    // here has its one-time costs (fixtures, model caches, codegen)
    // already paid, so even a single timed run of it is a WARM reading
    val warmedSet = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    val emitted = new java.util.concurrent.atomic.AtomicBoolean(false)

    def lk(m: java.util.concurrent.ConcurrentHashMap[String, java.util.concurrent.atomic.AtomicLong],
        k: String): Long = Option(m.get(k)).map(_.get).getOrElse(0L)

    /** (stdoutLine, fullLine) from whatever has been measured so far.
      * Called at checkpoints (full line only), from the shutdown hook,
      * and at the normal end-of-sweep emit.
      */
    def buildLines(incomplete: Boolean, diedOn: String): (String, String) = {
      val rr = rerunDone
      // (name, med, foldedMin, sweepMin, stealOfMinRun) in fixed order
      val perOp = selected.flatMap { case (name, _) =>
        Option(state.get(name)).filter(_.nonEmpty).map { runs =>
          val (med, mn) = BenchMath.medMin(runs.map(_._1))
          (name, med, BenchMath.foldMin(mn, rr.get(name)), mn,
            BenchMath.stealOfMin(runs))
        }
      }
      val total = perOp.collect { case (_, med, _, _, _) if med >= 0 => med }.sum
      val totalMin = perOp.collect { case (_, _, fm, _, _) if fm >= 0 => fm }.sum
      val ordered = perOp.sortBy(-_._2)
      // `queries` stays median-only (round-over-round schema stability);
      // `queries_min` and `load` are additive diagnostics.
      val full = ordered.map { case (k, med, _, _, _) => s"\"$k\":${fmt(med)}" }
        .mkString("{", ",", "}")
      val fullMin = ordered.map { case (k, _, fm, _, _) => s"\"$k\":${fmt(fm)}" }
        .mkString("{", ",", "}")
      val medByName = perOp.map(p => p._1 -> p._2).toMap
      val head = headline.flatMap(k => medByName.get(k).map(v => s"\"$k\":${fmt(v)}"))
        .mkString("{", ",", "}")
      val stealPct = (for { (t0, s0) <- statStart; (t1, s1) <- procStat() }
        yield if (t1 > t0) 100.0 * (s1 - s0) / (t1 - t0) else 0.0).getOrElse(-1.0)
      val incompleteJson =
        if (incomplete) s""""incomplete":true,"died_on":"$diedOn",""" else ""
      // Cold ops (round-18 verdict task 2): an op whose min rests on a
      // SINGLE run that was never warmed carries one-time fixture /
      // codegen cost in its reading — BENCH_r18's whole min column was
      // this (1360.6 vs the warm 336.8) and nothing on the artifact's
      // face said so. The artifact now names its own cold ops, and
      // tools/bench_compare.py refuses min-vs-min reads when any
      // exist. Reruns don't clear the flag: a rerun in the same JVM IS
      // warm, but foldMin may keep the cold sweep min.
      val coldOps = perOp.collect {
        case (k, _, _, _, _) if state.get(k).count(_._1 >= 0) == 1 &&
          !warmedSet.contains(k) => k
      }
      val coldJson = if (coldOps.isEmpty) "" else s""""cold_only":true,"""
      // min_semantics 2 = the round-18 rebaseline: interleaved whole-
      // board passes with leaked state cleared between runs (and, from
      // round 19, one-time costs pre-paid by the untimed warmup).
      // Absent field = pre-r18 min-of-3-consecutive semantics; the
      // comparator hard-errors across the boundary instead of leaving
      // the rule in BASELINE.md prose (round-18 verdict task 3).
      val semJson = s""""min_semantics":2,"""
      val loadJson =
        s"""{"sys_load_avg_start":${fmt(loadStart)},"sys_load_avg_end":${fmt(osBean.getSystemLoadAverage)},""" +
        s""""cpus":$cpus,"runs_per_query":$maxPasses,"passes_done":$passesDone,""" +
        s""""partial_pass_ops":$partialPassOps,"warmup_ops":${warmedSet.size},""" +
        s""""warmup_wall_s":${fmt(warmupWallS)},"n_cold_ops":${coldOps.size},""" +
        s""""n_rerun":${rr.size},"steal_pct":${fmt(stealPct)},"budget_s":${fmt(budgetS)},""" +
        s""""wall_s":${fmt(elapsedS)},"total_min_s":${fmt(totalMin)}}"""
      val line =
        s"""{"metric":"total","value":${fmt(total)},"unit":"sec",$semJson$coldJson$incompleteJson"n_queries":${perOp.size},"queries":$head,"load":$loadJson,"sf":"$sfDir"}"""
      // rerun map records sweep-min alongside the end-of-sweep reading
      // (-1 = the re-run itself failed and was NOT folded into the min);
      // queries_min already carries the fold-in of the better of the two
      val sweepMinByName = perOp.map(p => p._1 -> p._4).toMap
      val rerunJson = rr.toSeq.sortBy(_._1).map { case (k, t) =>
        s"\"$k\":{\"sweep_min\":${fmt(sweepMinByName.getOrElse(k, -1.0))},\"rerun\":${fmt(t)}}"
      }.mkString("{", ",", "}")
      // per-op steal% around the MIN run, only where it matters (>2%),
      // to keep the file lean
      val stealJson = perOp.filter(_._5 > 2.0).sortBy(-_._5)
        .map { case (k, _, _, _, s) => s"\"$k\":${fmt(s)}" }.mkString("{", ",", "}")
      // spill/GC maps ride bench_full.json only (diagnostics, not the
      // driver stdout contract); spill in MB (1dp), GC in whole ms,
      // TOTALS summed across the query's runs (named _total so nobody
      // compares them to a single run's median)
      val fullSpill = ordered
        .map { case (k, _, _, _, _) => s"\"$k\":${fmt(lk(spillBytes, k) / 1048576.0)}" }
        .mkString("{", ",", "}")
      val fullGc = ordered
        .map { case (k, _, _, _, _) => s""""$k":${lk(gcMs, k)}""" }.mkString("{", ",", "}")
      val timelineJson = {
        import scala.jdk.CollectionConverters._
        stealTimeline.iterator().asScala
          .map { case (t, s) => s"[$t,${fmt(s)}]" }.mkString("[", ",", "]")
      }
      // successful-run counts per op (sweep passes only; reruns ride
      // the rerun map) — the per-op grain behind passes_done, so a
      // partial-pass artifact says exactly which mins are min-of-N
      val runsJson = ordered.map { case (k, _, _, _, _) =>
        s"\"$k\":${state.get(k).count(_._1 >= 0)}"
      }.mkString("{", ",", "}")
      val coldListJson = coldOps.map(k => s"\"$k\"").mkString("[", ",", "]")
      val fullLine =
        s"""{"metric":"total","value":${fmt(total)},"unit":"sec",$semJson$coldJson$incompleteJson"n_queries":${perOp.size},"queries":$full,"queries_min":$fullMin,"runs_by_op":$runsJson,"cold_ops":$coldListJson,"rerun":$rerunJson,"steal_pct_by_op":$stealJson,"spill_mb_total":$fullSpill,"gc_ms_total":$fullGc,"steal_timeline":$timelineJson,"load":$loadJson,"sf":"$sfDir"}"""
      (line, fullLine)
    }
    // full sweeps only: a selective CLI run (iteration aid) must not
    // clobber the committed full-sweep snapshot. Round-19 (advisory):
    // write-to-temp + ATOMIC_MOVE — the old truncate-in-place left an
    // unparseable file if a SIGKILL landed mid-write, contradicting
    // the checkpoint guarantee; and the lock serializes the one real
    // writer race (SIGTERM: the shutdown hook's final write vs a
    // main-thread checkpoint already in flight on the same file).
    val writeLock = new Object
    def writeFull(fullLine: String): Unit = if (args.isEmpty) writeLock.synchronized {
      try {
        val dir = java.nio.file.Paths.get(".").toAbsolutePath.normalize
        val tmp = java.nio.file.Files.createTempFile(dir, ".bench_full", ".tmp")
        java.nio.file.Files.writeString(tmp, fullLine + "\n")
        java.nio.file.Files.move(tmp, dir.resolve("bench_full.json"),
          java.nio.file.StandardCopyOption.ATOMIC_MOVE,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      } catch { case _: Throwable => () }
    }
    // stdout only — a stderr copy of the full map landed (head-truncated)
    // in the driver's tail window in round 2 and got in the parse's way;
    // the full per-query map lives in bench_full.json
    // ASCII only: this line lands verbatim in the driver's captured
    // tail and a multibyte dash renders as mojibake there
    def emitStdout(line: String): Unit = {
      println("NOTE: any executor stack traces above come from the " +
        "corrupt-file tolerance ops reading intentionally malformed " +
        "inputs (source_ignore_corrupt, PERMISSIVE JSON parses) -- " +
        "rc=0 and no -1 seconds in the JSON line are the success signals.")
      println(line)
      System.out.flush()
    }
    // The unlosability backstop: a SIGTERM (what `timeout` sends, and
    // what sbt forwards to this forked JVM) still prints a parseable
    // stdout line and lands a final bench_full.json. Only a hard
    // SIGKILL skips this — and then the 20-op checkpoint file remains.
    java.lang.Runtime.getRuntime.addShutdownHook(new Thread(() => {
      if (emitted.compareAndSet(false, true)) {
        val (line, fullLine) = buildLines(incomplete = true, currentQuery)
        emitStdout(line)
        writeFull(fullLine)
      }
    }))

    /** One timed run: -1 seconds on failure (the timing of a failure
      * path is not a measurement — round-17 advisory), steal% sampled
      * around exactly this run.
      */
    def runOnce(name: String, fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): (Double, Double) = {
      currentQuery = name
      val st0 = procStat()
      val t0 = System.nanoTime()
      val ok = try { fn(spark, sfDir).count(); true } catch { case _: Throwable => false }
      val t = if (ok) (System.nanoTime() - t0) / 1e9 else -1.0
      val steal = (for { (c0, s0) <- st0; (c1, s1) <- procStat() }
        yield if (c1 > c0) 100.0 * (s1 - s0) / (c1 - c0) else 0.0).getOrElse(-1.0)
      clearLeaks()
      (t, steal)
    }

    // ---- untimed concurrent warmup (round-19, verdict task 1a) ----
    // The driver's budget fits ONE cold pass: BENCH_r18 measured
    // 1360.6 s cold vs 336.8 s warm — ~1000 s of one-time fixture
    // builds, model-cache fills, and first-execution codegen/JIT that
    // the canonical 3-pass sweep amortizes out of its min column. Those
    // costs are real but belong to NO measurement (on a cluster a
    // layout is built once per dataset, a plan compiles once per job),
    // so they are paid here, untimed, BEFORE pass 1 — which then
    // produces warm, canonical-comparable readings even if it is the
    // only pass the budget fits. The layouts live in this context's
    // scratch directory, so only this run's passes read them. Warmup
    // runs ops CONCURRENTLY (8
    // threads; measurement cleanliness doesn't matter here, and the
    // fixture builds are small low-parallelism jobs that pack well on
    // local[32] — materializeOnce's per-key locks already serialize
    // same-fixture builders, and ops share no other mutable state:
    // conf-touching ops use isolated newSession()s). Ordered by
    // descending predecessor min so the expensive fixture builds start
    // first and a budget-capped warmup strands only cheap tails.
    // Batched with a leak-clear between batches: clearing mid-flight
    // would evict a running op's localCheckpoint blocks (unrecoverable
    // — lineage is truncated), while never clearing re-creates the
    // round-7 accumulation slowdown across 640 ops.
    if (sys.env.getOrElse("SPARK_GRAFT_BENCH_WARMUP", "1") != "0") {
      val warmT0 = elapsedS
      val warmCapS = 0.5 * budgetS
      val warmOrder = selected.sortBy { case (n, _) => -prevMin.getOrElse(n, 1.0) }
      var stragglers = false
      val groups = warmOrder.grouped(64)
      while (groups.hasNext && !stragglers && elapsedS < warmCapS) {
        val batch = groups.next()
        val queue = new java.util.concurrent.ConcurrentLinkedQueue[
          (String, (SparkSession, String) => org.apache.spark.sql.DataFrame)]()
        batch.foreach(queue.add)
        val workers = (1 to 8).map { i =>
          val th = new Thread(() => {
            var next = queue.poll()
            while (next != null) {
              if (elapsedS < warmCapS) {
                try { next._2(spark, sfDir).count(); warmedSet.add(next._1) }
                catch { case _: Throwable => () }
              }
              next = queue.poll()
            }
          }, s"graft-warmup-$i")
          th.setDaemon(true); th.start(); th
        }
        // bounded join: a deadlocked or pathologically slow warmup op
        // must not eat the measurement budget — past the deadline the
        // sweep cancels the stragglers' jobs and moves on (daemon
        // threads; their failures were going to be swallowed anyway)
        val joinDeadline = System.nanoTime() +
          (((1.1 * warmCapS - elapsedS) max 60.0) * 1e9).toLong
        workers.foreach { th =>
          th.join(((joinDeadline - System.nanoTime()) / 1e6).toLong.max(1L))
          if (th.isAlive) stragglers = true
        }
        if (stragglers) {
          spark.sparkContext.cancelAllJobs()
          workers.foreach(_.join(10000))
        }
        clearLeaks()
      }
      warmupWallS = elapsedS - warmT0
    }

    // ---- the interleaved sweep ----
    // Pass 1 runs the whole board unconditionally: every op must land
    // at least one (now warm) reading; hard abort only at 1.2x budget,
    // by which point a marked-incomplete artifact beats the shutdown-
    // hook story. Passes 2..N are gated PER OP (BenchMath.allowOpRun)
    // instead of the round-18 all-or-nothing next-pass gate, which
    // refused pass 2 outright when pass 1 overran and left the driver
    // artifact min-of-1 across the board (verdict task 1b). An op that
    // doesn't fit is SKIPPED — cheaper ops behind it may still fit —
    // and the sweep stops once even a floor-cost op doesn't fit, or at
    // the end of any pass that had to skip (later passes would only
    // re-skip with less budget).
    var aborted = false
    var budgetStop = false
    var opRuns = 0
    var pass = 1
    def estOf(name: String): Double = {
      val ok = Option(state.get(name)).getOrElse(Vector.empty)
        .map(_._1).filter(_ >= 0)
      if (ok.nonEmpty) ok.min else prevMin.getOrElse(name, 1.0)
    }
    while (pass <= maxPasses && !aborted && !budgetStop) {
      val it = selected.iterator
      var ranThisPass = 0
      var skippedThisPass = 0
      while (it.hasNext && !aborted && !budgetStop) {
        val (name, fn) = it.next()
        if (elapsedS > 1.2 * budgetS) aborted = true
        else if (pass > 1 && !BenchMath.allowOpRun(elapsedS, estOf(name), budgetS)) {
          skippedThisPass += 1
          if (!BenchMath.allowOpRun(elapsedS, 0.0, budgetS)) budgetStop = true
        } else {
          val r = runOnce(name, fn)
          state.compute(name, (_, v) => if (v == null) Vector(r) else v :+ r)
          opRuns += 1; ranThisPass += 1
          if (opRuns % 20 == 0 && !emitted.get)
            writeFull(buildLines(incomplete = true, name)._2)
        }
      }
      if (!aborted && skippedThisPass == 0 && !budgetStop) passesDone = pass
      else partialPassOps = ranThisPass
      if (skippedThisPass > 0) budgetStop = true
      pass += 1
    }

    // ---- self-defending re-measure (round-16 lesson, round-18 form) ----
    // Interleaving already makes the min-of-N steal-robust; the re-run
    // pass remains as the backstop for windows that outlasted the whole
    // sweep and for genuine vs-predecessor regressions. Flags and
    // ranking per BenchMath.flagScore; budget-checked before EVERY
    // re-run so this pass can never push the sweep past the driver's
    // kill clock (round-17: the 64-op cap was hit and the tail died).
    val fnByName = selected.toMap
    if (!aborted) {
      val flagged = selected.flatMap { case (name, _) =>
        Option(state.get(name)).filter(_.nonEmpty).map { runs =>
          val (med, mn) = BenchMath.medMin(runs.map(_._1))
          (name, mn, BenchMath.flagScore(med, mn, BenchMath.stealOfMin(runs), prevMin.get(name)))
        }
      }.filter(_._3 > 0).sortBy(-_._3).take(64)
      val fit = flagged.iterator
      var stop = false
      while (fit.hasNext && !stop) {
        val (name, mn, _) = fit.next()
        // an all-runs-failed op (mn = -1, flagged at 3.0) has no own
        // reading to estimate from: predecessor min or a 1 s guess
        val est = if (mn > 0) mn else prevMin.getOrElse(name, 1.0)
        if (!BenchMath.allowRerun(elapsedS, est, budgetS)) {
          // SKIP, don't stop (round-18 advisory): flagged is sorted by
          // evidence, not cost — one expensive op at the head must not
          // starve cheaper adjudications behind it. Stop only when
          // even a floor-cost re-run no longer fits.
          if (!BenchMath.allowRerun(elapsedS, 0.0, budgetS)) stop = true
        } else {
          val (t, _) = runOnce(name, fnByName(name))
          rerunDone = rerunDone + (name -> t)
          opRuns += 1
          if (opRuns % 20 == 0 && !emitted.get)
            writeFull(buildLines(incomplete = true, name)._2)
        }
      }
    }

    // ---- opportunistic min hardening (round-19) ----
    // Whatever budget survives the re-run backstop goes to the MOST
    // EXPENSIVE under-measured ops: total_min_s is dominated by the
    // multi-second tail, and a min-of-1 on a 5 s iterative op carries
    // more absolute noise than fifty sub-second ops combined (measured
    // this round: the graph family read 2x canonical on min-of-2 while
    // the sub-second board matched). One extra timed run each, by
    // descending current min, until even a floor-cost run no longer
    // fits — capped at maxPasses runs per op so the min column never
    // mixes more observations than the canonical sweep's.
    if (!aborted) {
      val byCost = selected.flatMap { case (name, _) =>
        Option(state.get(name)).map(v => (name, v.count(_._1 >= 0)))
      }.collect { case (name, n) if n > 0 && n < maxPasses =>
        (name, estOf(name))
      }.sortBy(-_._2)
      val hit = byCost.iterator
      var hstop = false
      while (hit.hasNext && !hstop) {
        val (name, est) = hit.next()
        if (!BenchMath.allowRerun(elapsedS, est, budgetS)) {
          if (!BenchMath.allowRerun(elapsedS, 0.0, budgetS)) hstop = true
        } else {
          val r = runOnce(name, fnByName(name))
          state.compute(name, (_, v) => if (v == null) Vector(r) else v :+ r)
          opRuns += 1
          if (opRuns % 20 == 0 && !emitted.get)
            writeFull(buildLines(incomplete = true, name)._2)
        }
      }
    }

    currentQuery = ""
    if (emitted.compareAndSet(false, true)) {
      val (line, fullLine) = buildLines(incomplete = aborted, diedOn = if (aborted) "budget_abort" else "")
      writeFull(fullLine)
      emitStdout(line)
    }
    spark.stop()
  }
}
