package graft

import graft.ops.Streaming
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import java.sql.Timestamp

case class Ev(event_id: Long, ts: Timestamp, user_id: Long,
              event_type: String, value: Double)

/** Real Structured Streaming paths (SURVEY §2h): MemoryStream-driven
  * micro-batches asserting watermark advancement, late-data drop, and
  * stateful dedup — semantics the batch oracle cannot check.
  */
class StreamingSpec extends AnyFunSuite with SparkFixture with BeforeAndAfterAll {

  /** This suite's sinks and checkpoints, in a directory of its own. */
  private lazy val tmp = java.nio.file.Files.createTempDirectory("graft_streaming").toString

  override def afterAll(): Unit =
    try org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmp))
    finally super.afterAll()

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)
  private def ev(id: Long, t: String, user: Long = 1, typ: String = "click") =
    Ev(id, ts(t), user, typ, 1.0)

  test("tumbling window append mode emits only after watermark passes, drops late data") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val ms = MemoryStream[Ev]
    val q = Streaming.tumblingStream(ms.toDF())
      .select($"window.start".as("ws"), $"event_type", $"count")
      .writeStream.format("memory").queryName("tumble")
      .outputMode("append").start()
    try {
      // batch 1: two events inside hour-0
      ms.addData(ev(1, "2024-01-01 00:05:00"), ev(2, "2024-01-01 00:20:00"))
      q.processAllAvailable()
      assert(spark.table("tumble").count() === 0,
        "append mode must hold the window open before the watermark passes its end")

      // batch 2: event at 01:30 -> event-time max 01:30
      ms.addData(ev(3, "2024-01-01 01:30:00"))
      q.processAllAvailable()
      // batch 3: watermark (01:20) now past hour-0 end -> hour-0 emits
      ms.addData(ev(4, "2024-01-01 01:31:00"))
      q.processAllAvailable()
      val emitted = spark.table("tumble")
        .where($"ws" === ts("2024-01-01 00:00:00")).collect()
      assert(emitted.length === 1 && emitted.head.getAs[Long]("count") === 2)

      // batch 4: late event inside the CLOSED hour-0 window -> dropped
      ms.addData(ev(5, "2024-01-01 00:40:00"))
      q.processAllAvailable()
      val after = spark.table("tumble")
        .where($"ws" === ts("2024-01-01 00:00:00")).collect()
      assert(after.length === 1 && after.head.getAs[Long]("count") === 2,
        "late event must be dropped from the closed window")
    } finally q.stop()
  }

  test("chained window aggs: hourly max of 15-min counts emits after both watermarks pass") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val ms = MemoryStream[Ev]
    val q = Streaming.chainedWindowsStream(ms.toDF())
      .select($"window.start".as("ws"), $"event_type", $"max_15m")
      .writeStream.format("memory").queryName("chained")
      .outputMode("append").start()
    try {
      // hour 0: three 15-min buckets with counts 2, 1, 3
      ms.addData(
        ev(1, "2024-01-01 00:01:00"), ev(2, "2024-01-01 00:05:00"),
        ev(3, "2024-01-01 00:20:00"),
        ev(4, "2024-01-01 00:31:00"), ev(5, "2024-01-01 00:32:00"),
        ev(6, "2024-01-01 00:40:00"))
      q.processAllAvailable()
      assert(spark.table("chained").count() === 0,
        "hour-0 must stay open until the watermark passes its end")
      // advance event time far enough that watermark (max - 10min)
      // passes hour-0's end through BOTH stateful operators
      ms.addData(ev(7, "2024-01-01 01:30:00"))
      q.processAllAvailable()
      ms.addData(ev(8, "2024-01-01 02:30:00"))
      q.processAllAvailable()
      ms.addData(ev(9, "2024-01-01 03:30:00"))
      q.processAllAvailable()
      val h0 = spark.table("chained")
        .where($"ws" === ts("2024-01-01 00:00:00")).collect()
      assert(h0.length === 1 && h0.head.getAs[Long]("max_15m") === 3L,
        s"hour-0 max of 15-min counts must be 3, got ${h0.mkString(",")}")
    } finally q.stop()
  }

  test("streaming dedup drops duplicate event_ids across micro-batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val ms = MemoryStream[Ev]
    val q = Streaming.dedupStream(ms.toDF())
      .select($"event_id")
      .writeStream.format("memory").queryName("dedup")
      .outputMode("append").start()
    try {
      ms.addData(ev(10, "2024-01-01 00:01:00"), ev(11, "2024-01-01 00:02:00"))
      q.processAllAvailable()
      ms.addData(ev(10, "2024-01-01 00:03:00"), ev(12, "2024-01-01 00:04:00"))
      q.processAllAvailable()
      val ids = spark.table("dedup").as[Long].collect().sorted
      assert(ids.toSeq === Seq(10L, 11L, 12L))
    } finally q.stop()
  }

  test("dedup within watermark: bounded state drops near dupes, re-admits after eviction") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val ms = MemoryStream[Ev]
    val q = Streaming.dedupWithinWatermarkStream(ms.toDF())
      .select($"event_id", $"ts")
      .writeStream.format("memory").queryName("dedup_wm")
      .outputMode("append").start()
    try {
      ms.addData(ev(10, "2024-01-01 00:01:00"), ev(10, "2024-01-01 00:02:00"))
      q.processAllAvailable()
      // duplicate within the 10 min bound: dropped (one row for id 10)
      assert(spark.table("dedup_wm").count() === 1)
      // advance the watermark far past id 10's event time, evicting it
      ms.addData(ev(11, "2024-01-01 01:00:00"))
      q.processAllAvailable()
      // id 10 redelivered AFTER eviction: re-admitted — the bounded-
      // state contract (state is per-key-within-delay, not forever)
      ms.addData(ev(10, "2024-01-01 01:00:30"))
      q.processAllAvailable()
      val ids = spark.table("dedup_wm").select($"event_id")
        .as[Long].collect().sorted.toSeq
      assert(ids === Seq(10L, 10L, 11L),
        "post-eviction duplicate must be re-admitted (bounded state)")
    } finally q.stop()
  }

  test("session window merges events within gap, splits on >= gap") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val ms = MemoryStream[Ev]
    val q = Streaming.sessionStream(ms.toDF())
      .select($"session_window.start".as("ss"), $"user_id", $"count")
      .writeStream.format("memory").queryName("sess")
      .outputMode("complete").start()
    try {
      ms.addData(
        ev(1, "2024-01-01 00:00:00"), ev(2, "2024-01-01 00:10:00"),
        ev(3, "2024-01-01 00:39:00"),                  // 29 min gap: merges
        ev(4, "2024-01-01 01:30:00"))                  // 51 min gap: new session
      q.processAllAvailable()
      val rows = spark.table("sess").orderBy($"ss").collect()
      assert(rows.map(_.getAs[Long]("count")).toSeq === Seq(3L, 1L))
    } finally q.stop()
  }

  test("flatMapGroupsWithState accumulates per-user state across micro-batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val ms = MemoryStream[Ev]
    val q = Streaming.statefulUserTotals(spark, ms.toDF())
      .writeStream.format("memory").queryName("stateful")
      .outputMode("append").start()
    try {
      ms.addData(Ev(1, ts("2024-01-01 00:01:00"), 7, "click", 2.0),
        Ev(2, ts("2024-01-01 00:02:00"), 7, "click", 3.0))
      q.processAllAvailable()
      ms.addData(Ev(3, ts("2024-01-01 00:03:00"), 7, "view", 5.0))
      q.processAllAvailable()
      val rows = spark.table("stateful")
        .orderBy($"n_events").as[(Long, Long, Double)].collect()
      // batch 1 emitted (7, 2, 5.0); batch 2 carried state -> (7, 3, 10.0)
      assert(rows.toSeq === Seq((7L, 2L, 5.0), (7L, 3L, 10.0)))
    } finally q.stop()
  }

  test("transformWithState totals match flatMapGroupsWithState on the same batches") {
    // Spark 4's successor arbitrary-state API must reproduce the fMGWS
    // operator's output exactly on an identical micro-batch sequence.
    // transformWithState requires the RocksDB state store provider —
    // set for this query only, then restored (other suites/tests use
    // the default HDFS-backed provider).
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val ms = MemoryStream[Ev]
    val q = Streaming.statefulUserTotalsTws(spark, ms.toDF())
      .writeStream.format("memory").queryName("stateful_tws")
      .outputMode("append").start()
    try {
      ms.addData(Ev(1, ts("2024-01-01 00:01:00"), 7, "click", 2.0),
        Ev(2, ts("2024-01-01 00:02:00"), 7, "click", 3.0))
      q.processAllAvailable()
      ms.addData(Ev(3, ts("2024-01-01 00:03:00"), 7, "view", 5.0))
      q.processAllAvailable()
      val rows = spark.table("stateful_tws")
        .orderBy($"n_events").as[(Long, Long, Double)].collect()
      // identical to the fMGWS test's expectation on the same batches:
      // batch 1 emits (7, 2, 5.0); batch 2 carries state -> (7, 3, 10.0)
      assert(rows.toSeq === Seq((7L, 2L, 5.0), (7L, 3L, 10.0)))
    } finally {
      q.stop()
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None    => spark.conf.unset(key)
      }
    }
  }

  test("foreachBatch sink: per-batch parquet appends land exactly once") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val outDir = s"$tmp/fb_sink"
    val ckDir = s"$tmp/fb_ck"
    val ms = MemoryStream[Ev]
    val q = ms.toDF()
      .writeStream
      .option("checkpointLocation", ckDir)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[
          org.apache.spark.sql.Row], batchId: Long) =>
        batch.select($"event_id", $"event_type")
          .write.mode("append").parquet(outDir)
      }
      .start()
    try {
      ms.addData(ev(1, "2024-01-01 00:01:00"), ev(2, "2024-01-01 00:02:00"))
      q.processAllAvailable()
      ms.addData(ev(3, "2024-01-01 00:03:00"))
      q.processAllAvailable()
      val ids = spark.read.parquet(outDir)
        .select($"event_id").as[Long].collect().sorted
      assert(ids.toSeq === Seq(1L, 2L, 3L))
    } finally q.stop()
  }

  test("sliding window late data: dropped by closed windows, counted by still-open overlapping ones") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val ms = MemoryStream[Ev]
    val q = Streaming.slidingStream(ms.toDF())
      .select($"window.start".as("ws"), $"event_type", $"count")
      .writeStream.format("memory").queryName("slide")
      .outputMode("append").start()
    try {
      def clicksAt(w: String) = spark.table("slide")
        .where($"ws" === ts(w) && $"event_type" === "click").collect()
      // clicks at 00:05 and 00:50; 00:50 spans windows starting
      // 00:00 / 00:15 / 00:30 / 00:45
      ms.addData(ev(1, "2024-01-01 00:05:00"), ev(2, "2024-01-01 00:50:00"))
      q.processAllAvailable()
      // advance event time to 01:40 -> watermark 01:30; next batch
      // emits every window ending <= 01:30
      ms.addData(ev(3, "2024-01-01 01:40:00", typ = "view"))
      q.processAllAvailable()
      ms.addData(ev(4, "2024-01-01 01:41:00", typ = "view"))
      q.processAllAvailable()
      val closed = clicksAt("2024-01-01 00:00:00")
      assert(closed.length === 1 && closed.head.getAs[Long]("count") === 2,
        "the [00:00,01:00) window must close with both on-time clicks")
      // LATE click at 00:50, behind the 01:31 watermark: the windows
      // ending before it ([00:00),[00:15),[00:30)) are closed and must
      // drop it; the overlapping [00:45,01:45) window is still open and
      // must absorb it — the slide-boundary-crossing case
      ms.addData(ev(5, "2024-01-01 00:50:00"))
      q.processAllAvailable()
      ms.addData(ev(6, "2024-01-01 02:00:00", typ = "view"))
      q.processAllAvailable()
      ms.addData(ev(7, "2024-01-01 02:01:00", typ = "view"))
      q.processAllAvailable()
      assert(clicksAt("2024-01-01 00:00:00").map(_.getAs[Long]("count")).toSeq
        === Seq(2), "closed window must not re-emit or recount the late click")
      assert(clicksAt("2024-01-01 00:45:00").map(_.getAs[Long]("count")).toSeq
        === Seq(2),
        "still-open overlapping window must count the on-time AND late click")
    } finally q.stop()
  }

  test("batch-equivalent sliding window puts each event in exactly 4 windows") {
    import spark.implicits._
    val n = Tables.events(spark, sf).count()
    val total = Streaming.streamSlidingWindow(spark, sf)
      .agg(sum($"n")).as[Long].head()
    assert(total === 4 * n)
  }

  test("stream-stream interval join pairs purchases within 10 min of a click") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val clicks = MemoryStream[Click]
    val purchases = MemoryStream[Purchase]
    val q = Streaming.intervalJoinStream(clicks.toDF(), purchases.toDF())
      .select($"click_id", $"purchase_id")
      .writeStream.format("memory").queryName("ivj")
      .outputMode("append").start()
    try {
      clicks.addData(
        Click(1, ts("2024-01-01 00:00:00"), 7),
        Click(2, ts("2024-01-01 01:00:00"), 7),
        Click(3, ts("2024-01-01 00:01:00"), 8))
      purchases.addData(
        Purchase(101, ts("2024-01-01 00:05:00"), 7),  // within 10 min of click 1
        Purchase(102, ts("2024-01-01 00:45:00"), 7),  // matches no click
        Purchase(103, ts("2024-01-01 01:09:00"), 7),  // within 10 min of click 2
        Purchase(104, ts("2024-01-01 00:02:00"), 9))  // other user
      q.processAllAvailable()
      val pairs = spark.table("ivj")
        .as[(Long, Long)].collect().toSet
      assert(pairs === Set((1L, 101L), (2L, 103L)))
    } finally q.stop()
  }

  test("left-outer interval join emits NULL-purchase rows only after the watermark closes the window") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val clicks = MemoryStream[Click]
    val purchases = MemoryStream[Purchase]
    val q = Streaming.intervalJoinOuterStream(clicks.toDF(), purchases.toDF())
      .select($"click_id", $"purchase_id")
      .writeStream.format("memory").queryName("ivjo")
      .outputMode("append").start()
    try {
      clicks.addData(
        Click(1, ts("2024-01-01 00:00:00"), 7),   // will match 101
        Click(2, ts("2024-01-01 00:30:00"), 7))   // will never match
      purchases.addData(
        Purchase(101, ts("2024-01-01 00:05:00"), 7))
      q.processAllAvailable()
      val early = spark.table("ivjo").as[(Long, Option[Long])].collect().toMap
      assert(early.get(1L).flatten === Some(101L))
      assert(!early.contains(2L),
        "NULL row must NOT emit while the click's window could still match")
      // advance both watermarks far past click 2's window
      clicks.addData(Click(90, ts("2024-01-01 03:00:00"), 99))
      purchases.addData(Purchase(990, ts("2024-01-01 03:00:00"), 99))
      q.processAllAvailable()
      val late = spark.table("ivjo").as[(Long, Option[Long])].collect().toMap
      assert(late.get(2L) === Some(None),
        "unmatched click must emit a NULL-purchase row once the watermark passes")
    } finally q.stop()
  }

  test("stateful sessionization: session emitted on event-time timeout, state freed") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val ms = MemoryStream[Ev]
    val q = Streaming.statefulSessionStream(spark, ms.toDF())
      .writeStream.format("memory").queryName("sessions")
      .outputMode("append").start()
    try {
      // session A: three events within the 30-min gap
      ms.addData(ev(1, "2024-01-01 10:00:00", user = 1),
        ev(2, "2024-01-01 10:05:00", user = 1),
        ev(3, "2024-01-01 10:10:00", user = 1))
      q.processAllAvailable()
      assert(spark.table("sessions").count() === 0,
        "open session must not emit before the watermark passes end + gap")
      // a much later event advances the watermark to 11:50 (> 10:40
      // timeout); the timeout fires on the NEXT batch after the
      // watermark update
      ms.addData(ev(4, "2024-01-01 12:00:00", user = 2))
      q.processAllAvailable()
      ms.addData(ev(5, "2024-01-01 12:01:00", user = 2))
      q.processAllAvailable()
      val sessions = spark.table("sessions")
        .as[(Long, Timestamp, Timestamp, Long)].collect().toSeq
      assert(sessions === Seq(
        (1L, ts("2024-01-01 10:00:00"), ts("2024-01-01 10:10:00"), 3L)),
        "the closed session must emit exactly once with its full extent")
      // intra-batch gap split: two runs in one batch emit the older
      // run immediately and keep only the newest open
      ms.addData(ev(6, "2024-01-01 13:00:00", user = 3),
        ev(7, "2024-01-01 14:30:00", user = 3))
      q.processAllAvailable()
      val split = spark.table("sessions")
        .filter($"user_id" === 3)
        .as[(Long, Timestamp, Timestamp, Long)].collect().toSeq
      assert(split === Seq(
        (3L, ts("2024-01-01 13:00:00"), ts("2024-01-01 13:00:00"), 1L)),
        "the older gap-run must close immediately; the newest stays open")
    } finally q.stop()
  }

  test("checkpoint recovery: a restarted query resumes from committed offsets, no dupes") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val base = Tables.scratchPath("recover")
    val outDir = s"$base/out"; val ckDir = s"$base/ck"
    val ms = MemoryStream[Ev]
    def startQuery() = ms.toDF()
      .writeStream
      .option("checkpointLocation", ckDir)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[
          org.apache.spark.sql.Row], batchId: Long) =>
        batch.select($"event_id", $"user_id")
          .write.mode("append").parquet(outDir)
      }
      .start()
    val q1 = startQuery()
    try {
      ms.addData(ev(1, "2024-01-01 00:01:00"), ev(2, "2024-01-01 00:02:00"))
      q1.processAllAvailable()
    } finally q1.stop()
    // restart against the SAME checkpoint: batch 0 is committed, so
    // the new query must not reprocess it even though the source
    // still holds the data
    val q2 = startQuery()
    try {
      ms.addData(ev(3, "2024-01-01 00:03:00"))
      q2.processAllAvailable()
      val ids = spark.read.parquet(outDir)
        .select($"event_id").as[Long].collect().sorted.toSeq
      assert(ids === Seq(1L, 2L, 3L),
        "committed batches must not replay after restart (exactly-once sink)")
    } finally q2.stop()
  }

  test("foreachBatch upsert sink: update-mode totals land in parquet, re-delivery is a no-op") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val target = Tables.scratchPath("fb_upsert")
    val ms = MemoryStream[Ev]
    val totals = ms.toDF().groupBy($"user_id")
      .agg(count(lit(1)).as("n_events"), sum($"value").as("sum_value"))
    val sink: (org.apache.spark.sql.DataFrame, Long) => Unit =
      Streaming.upsertBatchSink(spark, target)
    val q = totals.writeStream.outputMode("update").foreachBatch(sink).start()
    def state(): Seq[(Long, Long, Double)] =
      spark.read.parquet(target).orderBy($"user_id")
        .as[(Long, Long, Double)].collect().toSeq
    try {
      ms.addData(ev(1, "2024-01-01 00:00:01", user = 1),
        ev(2, "2024-01-01 00:00:02", user = 1),
        ev(3, "2024-01-01 00:00:03", user = 2))
      q.processAllAvailable()
      assert(state() === Seq((1L, 2L, 2.0), (2L, 1L, 1.0)))
      // trigger 2 updates user 1 (cumulative total) and inserts user 3
      ms.addData(ev(4, "2024-01-01 00:00:04", user = 1),
        ev(5, "2024-01-01 00:00:05", user = 3))
      q.processAllAvailable()
      val merged = state()
      assert(merged === Seq((1L, 3L, 3.0), (2L, 1L, 1.0), (3L, 1L, 1.0)))
      // exactly-once: re-deliver trigger 2's update rows (full per-key
      // state, as update mode emits) — replace-by-key must be a no-op
      val redelivered = Seq((1L, 3L, 3.0), (3L, 1L, 1.0))
        .toDF("user_id", "n_events", "sum_value")
      Streaming.upsertBatchSink(spark, target)(redelivered, 99L)
      assert(state() === merged,
        "re-delivered batch must leave the target unchanged")
    } finally q.stop()
  }

  test("file-source stream: AvailableNow drains a directory once; new files only on restart") {
    import spark.implicits._
    val base = s"$tmp/filestream"
    val in = s"$base/in"; val out = s"$base/out"; val ck = s"$base/ck"
    // file sources discover whole files atomically — the landing-zone
    // ingest pattern (vs MemoryStream's in-JVM rows); AvailableNow
    // drains what exists then stops, the batch-backfill trigger.
    Seq((1L, "a"), (2L, "b")).toDF("id", "v")
      .write.mode("overwrite").parquet(in)
    val schema = spark.read.parquet(in).schema
    def run(): Unit = {
      val q = spark.readStream.schema(schema).parquet(in)
        .writeStream
        .option("checkpointLocation", ck)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .foreachBatch { (b: org.apache.spark.sql.Dataset[
            org.apache.spark.sql.Row], _: Long) =>
          b.write.mode("append").parquet(out)
        }
        .start()
      assert(q.awaitTermination(60000), "stream did not drain in 60s")
    }
    run()
    assert(spark.read.parquet(out).select($"id").as[Long].collect().sorted
      === Seq(1L, 2L))
    // new file lands; the SAME checkpoint must process ONLY the delta
    Seq((3L, "c")).toDF("id", "v").write.mode("append").parquet(in)
    run()
    assert(spark.read.parquet(out).select($"id").as[Long].collect().sorted
      === Seq(1L, 2L, 3L),
      "restart must pick up exactly the new file, no replays")
  }

  test("rate-limited ingest: maxFilesPerTrigger + crash replay stays exactly-once") {
    import spark.implicits._
    val base = s"$tmp/ingest"
    val in = s"$base/in"; val out = s"$base/out"; val ck = s"$base/ck"
    // 6 single-file arrivals in the landing zone (one part file per
    // append), 10 rows each — the batch mirror
    // (stream_file_ingest_restart) models the same 6-file/2-per-
    // trigger fold as an oracle-checked ledger
    (0 until 6).foreach { f =>
      Seq.tabulate(10)(i => (f * 10L + i, s"f$f")).toDF("id", "v")
        .coalesce(1).write.mode("append").parquet(in)
    }
    val schema = spark.read.parquet(in).schema
    val batchSizes = scala.collection.mutable.ArrayBuffer[(Long, Long)]()
    def run(crashAtEpoch: Long): Unit = {
      val q = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 2).parquet(in)
        .writeStream.option("checkpointLocation", ck)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .foreachBatch { (b: org.apache.spark.sql.Dataset[
            org.apache.spark.sql.Row], epochId: Long) =>
          // idempotent sink: replace-by-epoch directory, so a replayed
          // epoch overwrites its own previous (uncommitted) output
          b.write.mode("overwrite").parquet(s"$out/epoch=$epochId")
          batchSizes.synchronized { batchSizes += ((epochId, b.count())) }
          // crash AFTER the sink write: the epoch's output exists but
          // the checkpoint never committed it — the restart MUST
          // replay it, and the sink's idempotence absorbs the replay
          if (epochId == crashAtEpoch)
            throw new RuntimeException(s"injected crash after epoch $epochId")
        }
        .start()
      try { q.awaitTermination(120000); () }
      catch {
        case _: org.apache.spark.sql.streaming.StreamingQueryException => ()
      }
    }
    run(crashAtEpoch = 0) // writes epoch 0 (2 files), dies uncommitted
    run(crashAtEpoch = -1) // replays epoch 0, then drains 1 and 2
    val ids = spark.read.parquet(out).select($"id").as[Long].collect().sorted
    assert(ids === (0L until 60L).toSeq,
      "crash + replay must deliver every row exactly once, no dupes/gaps")
    val sizes = batchSizes.synchronized(batchSizes.toSeq)
    assert(sizes.map(_._2).max <= 20,
      s"maxFilesPerTrigger=2 must cap every batch at 2 files: $sizes")
    assert(sizes.count(_._1 == 0L) == 2,
      s"epoch 0 must run twice (crashed run + replay): $sizes")
    assert(sizes.map(_._1).distinct.size == 3,
      s"6 files / 2 per trigger must make 3 epochs: $sizes")
  }
}

case class Click(click_id: Long, click_ts: Timestamp, user_id: Long)
case class Purchase(purchase_id: Long, purchase_ts: Timestamp, p_user: Long)
