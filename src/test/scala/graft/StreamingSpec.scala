package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import java.sql.Timestamp
import java.nio.file.Files
import scala.jdk.CollectionConverters._

/** Synthetic event row for the MemoryStream specs. Top-level, not nested in
  * the suite: Janino cannot reach an inner class's accessors, so a nested
  * case class makes every encoder projection fall back to interpreter mode
  * (a wall of "Expr codegen error" warnings in the test log). */
case class Ev(event_id: Long, ts: Timestamp, user_id: Long,
              event_type: String, value: Double, props: String)

/** x02–x04: streaming twins equal their batch queries on in-order data, and
  * the watermark actually drops late rows (SURVEY.md §2.5). */
class StreamingSpec extends AnyFunSuite {
  import TestSpark.{spark, sfSmoke}
  import spark.implicits._

  private def ts(min: Long): Timestamp = new Timestamp(min * 60000L)

  private def runStream(mem: MemoryStream[Ev],
                        transform: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame,
                        mode: String, name: String,
                        batches: Seq[Seq[Ev]]): org.apache.spark.sql.DataFrame = {
    val q = transform(mem.toDF).writeStream
      .format("memory").queryName(name).outputMode(mode).start()
    for (b <- batches) { mem.addData(b); q.processAllAvailable() }
    q.stop()
    spark.table(name)
  }

  test("x02 streaming tumbling == q35 batch on in-order replay") {
    val batch = graft.queries.Temporal.q35(spark, sfSmoke).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    val stream = graft.streaming.StreamingOps.x02(spark, sfSmoke).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    assert(stream === batch)
  }

  test("x27 stream-static join == x22 batch join+agg on single-batch replay") {
    val batch = graft.queries.Pipeline.x22(spark, sfSmoke).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    val stream = graft.streaming.StreamingOps.x27(spark, sfSmoke).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(stream === batch)
  }

  test("x29 stream-stream join == batch range join on single-batch replay") {
    val e = graft.engine.Tables.events(spark, sfSmoke)
    val p = e.filter(col("event_type") === "purchase")
      .select(col("event_id").as("p_id"), col("user_id"), col("ts").as("p_ts"))
    val c = e.filter(col("event_type") === "click")
      .select(col("user_id").as("c_uid"), col("ts").as("c_ts"))
    val batch = p.join(c, col("user_id") === col("c_uid") &&
        col("c_ts") >= col("p_ts") - expr("INTERVAL 10 MINUTES") &&
        col("c_ts") < col("p_ts"))
      .groupBy("p_id").agg(count(lit(1)).as("n")).orderBy("p_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val stream = graft.streaming.StreamingOps.x29(spark, sfSmoke).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(stream === batch)
  }

  test("x03 streaming session count == q37 batch sessions per user") {
    val batch = graft.queries.Temporal.q37(spark, sfSmoke)
      .groupBy("user_id").agg(count(lit(1)).as("n_sessions"),
                              sum("n_events").as("n_events"))
      .orderBy("user_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val stream = graft.streaming.StreamingOps.x03(spark, sfSmoke).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(stream === batch)
  }

  test("x04 watermark drops rows later than 10 minutes (update mode)") {
    val mem = MemoryStream[Ev](spark)
    val out = runStream(mem, graft.streaming.StreamingOps.lateDataCounts,
      "update", "x04_test",
      batches = Seq(
        // batch 1: minute 0 and minute 130 → watermark advances to 120, which
        // expires the hour-0 window (end 60 ≤ 120)
        Seq(Ev(1, ts(0), 1, "view", 1.0, "{}"), Ev(2, ts(130), 1, "view", 1.0, "{}")),
        // batch 2: minute 10 lands in the EXPIRED hour-0 window → DROPPED;
        //          minute 125 updates the still-open hour-2 window → counted
        Seq(Ev(3, ts(10), 1, "view", 1.0, "{}"), Ev(4, ts(125), 1, "view", 1.0, "{}"))))
    val byBucket = out.groupBy("bucket_us").agg(max("cnt").as("cnt"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(byBucket(0L) === 1L, "hour-0 window stays at 1: the late minute-10 row was dropped")
    assert(byBucket(7200000000L) === 2L, "hour-2 window got the in-watermark update")
  }

  test("x02 transform drops nothing when data arrives in order (MemoryStream)") {
    val mem = MemoryStream[Ev](spark)
    val evs = (0 until 120 by 7).map(m => Ev(m.toLong, ts(m.toLong), 1L, "view", 1.0, "{}"))
    val out = runStream(mem, graft.streaming.StreamingOps.tumblingWithWatermark,
      "complete", "x02_test", batches = Seq(evs))
    val total = out.agg(sum("cnt")).head().getLong(0)
    assert(total === evs.size.toLong)
  }

  test("x149 chained windows accumulate across batches and flush each hour exactly once") {
    val mem = MemoryStream[Ev](spark)
    val B = 600L // minutes; clear of the epoch-0 initial watermark
    val out = runStream(mem,
      df => graft.streaming.StreamingOps.chainedWindows(df),
      "append", "x149_test",
      batches = Seq(
        // batch 1: hour H gets 3 views in one 10-min window, 1 in another
        Seq(Ev(1, ts(B), 1, "view", 1.0, "{}"),
            Ev(2, ts(B + 2), 2, "view", 1.0, "{}"),
            Ev(3, ts(B + 4), 3, "view", 1.0, "{}"),
            Ev(4, ts(B + 15), 1, "view", 1.0, "{}")),
        // batch 2: one more row in H's third 10-min window (the operator
        // must MERGE it into hour-H state left from batch 1), plus a
        // far-future row that pushes the watermark past H's end so BOTH
        // stateful operators flush H — once
        Seq(Ev(5, ts(B + 25), 2, "view", 1.0, "{}"),
            Ev(6, ts(B + 600), 9, "view", 1.0, "{}"))))
    val got = out
      .select(unix_micros(col("wh.start")).as("h"), col("event_type"),
              col("max_10min"), col("n_events"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    // hour containing B=600min (hour index 10) emitted exactly once:
    // windows (3,1,1) → max 3, total 5. The far-future hour stays in state.
    val hUs = (B / 60) * 3600000000L
    assert(got.toSeq === Seq((hUs, "view", 3L, 5L)))
  }

  test("x19 flatMapGroupsWithState sessions: gap close, timeout close, state kept open") {
    val mem = MemoryStream[Ev](spark)
    // minutes offset from epoch: rows AT the initial watermark (epoch 0) are
    // treated as late by stateful operators, so keep clear of t=0
    val B = 600L
    val out = runStream(mem,
      df => graft.streaming.StreamingOps.customStateSessions(df).toDF(),
      "append", "x19_test",
      batches = Seq(
        // user 1: events at +0,+10 then a 40-min gap to +50 → session {0,10}
        // closes IN-BATCH by gap; session {50...} stays open.
        // user 2: one event at +5 → open.
        Seq(Ev(1, ts(B), 1, "view", 1.0, "{}"), Ev(2, ts(B + 10), 1, "view", 1.0, "{}"),
            Ev(3, ts(B + 50), 1, "view", 1.0, "{}"), Ev(4, ts(B + 5), 2, "view", 1.0, "{}")),
        // far-future event (user 3, +300) → watermark +290; user 1's open
        // session (last +50, timeout +80) and user 2's (timeout +35) both
        // time out and emit. user 3's own session stays open (no timeout yet).
        Seq(Ev(5, ts(B + 300), 3, "view", 1.0, "{}"))))
    val got = out.select("user_id", "start_us", "end_us", "n_events")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val us = (m: Long) => (B + m) * 60000000L
    assert(got === Set(
      (1L, us(0), us(10), 2L),   // closed by gap inside batch 1
      (1L, us(50), us(50), 1L),  // closed by event-time timeout
      (2L, us(5), us(5), 1L)))   // closed by event-time timeout
  }

  test("x19 custom-state sessions == q37 batch sessions once all sessions time out") {
    val mem = MemoryStream[Ev](spark)
    // two users, interleaved, multiple sessions each (minutes)
    val B = 600L // keep clear of the epoch-0 initial watermark
    val plan = Seq((1L, 0L), (2L, 3L), (1L, 20L), (1L, 90L), (2L, 40L),
                   (1L, 100L), (2L, 140L), (1L, 160L))
    val evs = plan.zipWithIndex.map { case ((u, m), i) =>
      Ev(i.toLong, ts(B + m), u, "view", 1.0, "{}") }
    val out = runStream(mem,
      df => graft.streaming.StreamingOps.customStateSessions(df).toDF(),
      "append", "x19_q37_test",
      batches = Seq(evs, Seq(Ev(99, ts(B + 1000), 9, "view", 1.0, "{}"))))
    // batch oracle: q37's session rule (30-min gap) applied by hand
    val expected = Set(
      (1L, 0L, 20L, 2L), (1L, 90L, 100L, 2L), (1L, 160L, 160L, 1L),
      (2L, 3L, 3L, 1L), (2L, 40L, 40L, 1L), (2L, 140L, 140L, 1L))
    val got = out.filter(col("user_id") < 9)
      .select("user_id", "start_us", "end_us", "n_events")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1) / 60000000L - B,
                 r.getLong(2) / 60000000L - B, r.getLong(3))).toSet
    assert(got === expected)
  }

  test("x25 streaming dedup == batch distinct on single-batch replay") {
    val batch = graft.engine.Tables.events(spark, sfSmoke)
      .select("user_id", "event_type").distinct()
      .groupBy("event_type").agg(count(lit(1)).as("n_keys"))
      .orderBy("event_type").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    val stream = graft.streaming.StreamingOps.x25(spark, sfSmoke).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(stream === batch)
  }

  test("x25 dedup within watermark drops; re-emits after state expiry") {
    val mem = MemoryStream[Ev](spark)
    val B = 600L
    val out = runStream(mem, graft.streaming.StreamingOps.streamDedup,
      "append", "x25_test",
      batches = Seq(
        Seq(Ev(1, ts(B), 1, "view", 1.0, "{}")),          // first sighting
        Seq(Ev(2, ts(B + 1), 1, "view", 1.0, "{}")),      // dup in-watermark → dropped
        Seq(Ev(3, ts(B + 100), 2, "view", 1.0, "{}")),    // watermark → B+90, expires key 1
        Seq(Ev(4, ts(B + 95), 1, "view", 1.0, "{}"))))    // state gone → re-emitted
    val counts = out.groupBy("user_id").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(counts === Map(1L -> 2L, 2L -> 1L),
      "key 1: first sighting + post-expiry re-emission; in-watermark dup dropped")
  }

  test("UpsertSink: foreachBatch latest-wins merge, idempotent under batch retry") {
    import graft.streaming.UpsertSink
    val mem = MemoryStream[Ev](spark)
    val path = java.nio.file.Files.createTempDirectory("upsert").toString + "/tbl"
    val q = mem.toDF.writeStream
      .foreachBatch((b: org.apache.spark.sql.DataFrame, id: Long) =>
        UpsertSink.into(path)(b, id))
      .start()
    // batch 0: two versions of (user 1, click) + one (user 2, view)
    mem.addData(Seq(
      Ev(1, ts(10), 1, "click", 1.0, "{}"), Ev(2, ts(20), 1, "click", 2.0, "{}"),
      Ev(3, ts(15), 2, "view", 3.0, "{}")))
    q.processAllAvailable()
    // batch 1: newer (user 1, click) + first (user 2, click)
    val b1 = Seq(Ev(4, ts(30), 1, "click", 9.0, "{}"),
                 Ev(5, ts(5), 2, "click", 7.0, "{}"))
    mem.addData(b1)
    q.processAllAvailable()
    q.stop()
    def state() = UpsertSink.read(spark, path).get
      .select("event_id", "user_id", "event_type").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    val expect = Set((4L, 1L, "click"), (3L, 2L, "view"), (5L, 2L, "click"))
    assert(state() === expect, "newest row per (user, type) must survive")
    // RETRY batch 1 (at-least-once redelivery): re-applying the same batch
    // id with the same data must converge to the identical table
    UpsertSink.into(path)(b1.toDF(), 1L)
    assert(state() === expect, "batch retry must be a no-op")
  }

  test("replays run on RocksDB state by default: rocksdb metrics, bounded state, HDFS parity") {
    import scala.jdk.CollectionConverters._
    import graft.streaming.StreamingOps
    def rows(df: org.apache.spark.sql.DataFrame): Seq[Seq[Any]] =
      df.collect().map(_.toSeq).toSeq
    // RocksDB (the default): built-in session state (x03), custom
    // flatMapGroupsWithState state (x19), and a TypedImperativeAggregate
    // buffer (x91's Misra-Gries sketch) all round-trip the native store
    val rocks = Map(
      "x03" -> rows(StreamingOps.x03(spark, sfSmoke)),
      "x19" -> rows(StreamingOps.x19(spark, sfSmoke)),
      "x91" -> rows(StreamingOps.x91(spark, sfSmoke)))
    // the last replay's state metrics must actually come from RocksDB —
    // provider-specific custom metrics are the proof the conf took effect
    val prog = StreamingOps.lastStateProgress
    assert(prog.nonEmpty, "replay must report state-operator progress")
    val metricKeys = prog.flatMap(_.customMetrics.keySet().asScala)
    assert(metricKeys.exists(_.toLowerCase.contains("rocksdb")),
      s"expected RocksDB custom metrics, saw: ${metricKeys.distinct.take(10)}")
    // bounded state: the x91 sketch holds <= capacity(64) entries per
    // partition-group, never one row per input token
    assert(prog.map(_.numRowsTotal).max <= 64 * 8,
      "sketch state must stay bounded by capacity, not token volume")
    // provider-independence: identical results on the HDFS-backed baseline
    StreamingOps.providerOverride = Some(
      "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider")
    try {
      for ((k, r) <- rocks) {
        val hdfs = k match {
          case "x03" => rows(StreamingOps.x03(spark, sfSmoke))
          case "x19" => rows(StreamingOps.x19(spark, sfSmoke))
          case "x91" => rows(StreamingOps.x91(spark, sfSmoke))
        }
        assert(hdfs === r, s"$k must be provider-independent")
      }
      val hdfsKeys = StreamingOps.lastStateProgress
        .flatMap(_.customMetrics.keySet().asScala)
      assert(!hdfsKeys.exists(_.toLowerCase.contains("rocksdb")),
        "override must actually switch the provider back")
    } finally StreamingOps.providerOverride = None
  }

  test("changelog checkpointing changes the checkpoint mode, never the rows") {
    // Spark's own changelog-checkpointing conf, set on the session (the
    // streaming runner leaves it alone), flips HOW RocksDB persists state
    // to the checkpoint — delta upload + background snapshot compaction
    // instead of full-snapshot-per-commit. Results must be bit-identical:
    // the mode is a durability/IO choice.
    import graft.streaming.StreamingOps
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toString).sorted.toSeq
    val base = Map(
      "x03" -> rows(StreamingOps.x03(spark, sfSmoke)),
      "x19" -> rows(StreamingOps.x19(spark, sfSmoke)),
      "x252" -> rows(StreamingOps.x252(spark, sfSmoke)))
    val chgKey =
      "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled"
    val prevChg = spark.conf.getOption(chgKey)
    spark.conf.set(chgKey, "true")
    try {
      assert(rows(StreamingOps.x03(spark, sfSmoke)) === base("x03"))
      assert(rows(StreamingOps.x19(spark, sfSmoke)) === base("x19"))
      assert(rows(StreamingOps.x252(spark, sfSmoke)) === base("x252"))
    } finally prevChg.fold(spark.conf.unset(chgKey))(spark.conf.set(chgKey, _))
  }

  test("x306 streaming near-dup state persists: a batch-2 twin is flagged against batch 1") {
    import graft.streaming.StreamingOps
    import spark.implicits._
    val mem = MemoryStream[(Long, String)](spark)
    val docs = mem.toDF.toDF("doc_id", "text")
    val q = StreamingOps.neardupHits(docs).toDF.writeStream
      .format("memory").queryName("x306_test").outputMode("append").start()
    // 8+ tokens so rolling_fps yields 5-token-window fingerprints
    val a = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val b = "one two three four five six seven eight nine ten"
    mem.addData(Seq((5L, a), (9L, b)))
    q.processAllAvailable()
    val afterB1 = spark.table("x306_test").count()
    assert(afterB1 === 0, "no bucket is claimed twice in batch 1")
    // batch 2: doc 7 is an exact twin of doc 5 — every bucket collides
    // with batch-1 state, so it must be flagged with partner 5 (the
    // cross-batch property the single-batch oracle cannot witness). Doc 3
    // twins doc 9 but carries a LOWER id: under the id-order convention a
    // lower id is never flagged against a higher one — it silently takes
    // over the bucket claim and emits nothing.
    mem.addData(Seq((7L, a), (3L, b)))
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("x306_test").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(rows === Set((7L, 5L)),
      s"batch-2 twin must flag against the batch-1 claimant only, got $rows")
  }

  test("x134 ListState journey re-sorts by event time — a late event displaces a later step") {
    import graft.streaming.StreamingOps
    val conf = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(conf)
    spark.conf.set(conf, StreamingOps.RocksDbProvider)
    try {
      val mem = MemoryStream[Ev](spark)
      val q = StreamingOps.entryJourneys(mem.toDF).toDF.writeStream
        .format("memory").queryName("x134_test").outputMode("update").start()
      // batch 1: user 1 sees view → click → purchase (event-time order)
      mem.addData(Seq(Ev(10, ts(2), 1, "view", 1.0, "{}"),
                      Ev(11, ts(4), 1, "click", 1.0, "{}"),
                      Ev(12, ts(6), 1, "purchase", 1.0, "{}")))
      q.processAllAvailable()
      // batch 2: a LATE signup at t=1 must displace the purchase from the
      // entry prefix — the journey is event-time ordered, not arrival order
      mem.addData(Seq(Ev(13, ts(1), 1, "signup", 1.0, "{}")))
      q.processAllAvailable()
      q.stop()
      val paths = spark.table("x134_test").collect()
        .map(r => (r.getLong(0), r.getString(1)))
      assert(paths.contains((1L, "view>click>purchase")), s"batch-1 emission, got ${paths.toSeq}")
      assert(paths.last === (1L, "signup>view>click"),
        s"late event must displace the last step, got ${paths.toSeq}")
    } finally {
      prev match {
        case Some(p) => spark.conf.set(conf, p)
        case None => spark.conf.unset(conf)
      }
    }
  }

  test("x114 transformWithState accumulates per-user ValueState across batches") {
    import graft.streaming.StreamingOps
    // the part x114's single-batch oracle cannot witness: the named
    // ValueState handle persists between micro-batches, so a second batch
    // emits LIFETIME totals, not batch-local ones. transformWithState
    // requires the RocksDB provider — pin it for the MemoryStream run.
    val conf = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(conf)
    spark.conf.set(conf, StreamingOps.RocksDbProvider)
    try {
      val mem = MemoryStream[Ev](spark)
      val q = StreamingOps.runningUserTotals(mem.toDF).toDF.writeStream
        .format("memory").queryName("x114_test").outputMode("update").start()
      // batch 1: user 1 twice (min 0, 5), user 2 once (min 3)
      mem.addData(Seq(Ev(1, ts(0), 1, "view", 1.0, "{}"),
                      Ev(2, ts(5), 1, "view", 1.0, "{}"),
                      Ev(3, ts(3), 2, "view", 1.0, "{}")))
      q.processAllAvailable()
      // batch 2: user 1 once more (min 10) — must emit n=3, not n=1
      mem.addData(Seq(Ev(4, ts(10), 1, "view", 1.0, "{}")))
      q.processAllAvailable()
      q.stop()
      val out = spark.table("x114_test")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      assert(out.toSet === Set(
        (1L, 2L, 5L * 60000000L),   // batch 1: user 1 running total
        (2L, 1L, 3L * 60000000L),   // batch 1: user 2
        (1L, 3L, 10L * 60000000L)), // batch 2: ACCUMULATED user-1 total
        s"state must persist across batches, got: ${out.toSeq}")
    } finally {
      prev match {
        case Some(p) => spark.conf.set(conf, p)
        case None => spark.conf.unset(conf)
      }
    }
  }

  test("x114 ValueState TTL evicts dormant keys while recently-touched keys survive") {
    import graft.streaming.StreamingOps
    // Fires the dormant-key GC path the x114 Scaladoc claims: with a
    // processing-time TTL on the ValueState handle, a user untouched for
    // longer than the TTL must READ AS ABSENT (running total restarts),
    // while a user touched within the TTL must keep accumulating.
    //
    // Drive shape: in TimeMode.ProcessingTime the operator's
    // shouldRunAnotherBatch is unconditionally true (processing time
    // always advances), so BOTH processAllAvailable() on a continuous
    // query AND Trigger.AvailableNow's MultiBatchExecutor spin empty
    // cleanup batches forever (measured). The only bounded drive is
    // Trigger.Once's SingleBatchExecutor — exactly one batch per start,
    // termination unconditional. Each phase = addData + Once-run from a
    // shared checkpoint (which also proves TTL state round-trips the
    // checkpoint), with one wall-clock sleep moving the TTL clock past
    // expiry. Margins: TTL 8 s; the dormant key is ≥12 s stale at its
    // re-read; the live key's staleness is only the phase-3 query
    // restart latency (seconds) — far under TTL.
    val conf = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(conf)
    spark.conf.set(conf, StreamingOps.RocksDbProvider)
    try {
      val ckpt = Files.createTempDirectory("x114_ttl_ckpt").toString
      val mem = MemoryStream[Ev](spark)
      val ttl = org.apache.spark.sql.streaming.TTLConfig(
        java.time.Duration.ofSeconds(8))
      // deprecated in favor of AvailableNow, but AvailableNow cannot bound
      // a ProcessingTime-mode stateful query (see drive-shape note above)
      val onceTrigger: Trigger = (Trigger.Once(): @annotation.nowarn("cat=deprecation"))
      var removed = 0L
      def phase(evs: Seq[Ev]): Seq[(Long, Long)] = {
        mem.addData(evs)
        val buf = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
        val q = StreamingOps.runningUserTotals(mem.toDF, ttl).toDF.writeStream
          .outputMode("update")
          .option("checkpointLocation", ckpt)
          .trigger(onceTrigger)
          .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
            val rows = b.collect().map(r => (r.getLong(0), r.getLong(1)))
            buf.synchronized { buf ++= rows }; ()
          }
          .start()
        assert(q.awaitTermination(120000), "TTL phase must terminate")
        removed += q.recentProgress.toSeq.flatMap(_.stateOperators)
          .map(op => op.numRowsRemoved +
            op.customMetrics.entrySet().iterator().asScala
              .filter(_.getKey.toLowerCase.contains("removed"))
              .map(_.getValue.longValue).sum).sum
        buf.synchronized(buf.toSeq)
      }
      // phase 1: both users born
      val p1 = phase(Seq(Ev(1, ts(0), 1, "view", 1.0, "{}"),
                         Ev(2, ts(1), 2, "view", 1.0, "{}")))
      Thread.sleep(12000) // both now well past the 8 s TTL
      // phase 2: refresh ONLY user 1 — expired state reads absent, so the
      // total RESTARTS at n=1 and user 1's TTL clock restarts now; the
      // batch's TTL cleanup also physically evicts user 2's dormant row
      val p2 = phase(Seq(Ev(3, ts(10), 1, "view", 1.0, "{}")))
      // phase 3 immediately: user 1 is only query-restart-latency stale
      // (seconds « TTL) so it accumulates; user 2 (dormant since phase 1,
      // ≥12 s) restarts
      val p3 = phase(Seq(Ev(4, ts(20), 1, "view", 1.0, "{}"),
                         Ev(5, ts(21), 2, "view", 1.0, "{}")))
      assert(p1.toSet === Set((1L, 1L), (2L, 1L)), s"phase 1 emitted $p1")
      assert(p2 === Seq((1L, 1L)),
        s"user 1 must restart at n=1 after TTL expiry, got $p2")
      assert(p3.toSet === Set((1L, 2L), (2L, 1L)),
        s"live user 1 must accumulate to n=2 and dormant user 2 restart, got $p3")
      assert(removed > 0,
        "state store must report evicted rows (numRowsRemoved / TTL metrics)")
    } finally {
      prev match {
        case Some(p) => spark.conf.set(conf, p)
        case None => spark.conf.unset(conf)
      }
    }
  }

  test("x216 MapState accumulates per-entry across batches; untouched entries survive") {
    import graft.streaming.StreamingOps
    // The part x216's single-batch oracle cannot witness: the MapState
    // handle persists BETWEEN micro-batches and updates are PER-ENTRY — a
    // second batch touching only type "view" must increment that entry
    // while the untouched "click" entry re-reads its batch-1 value.
    val conf = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(conf)
    spark.conf.set(conf, StreamingOps.RocksDbProvider)
    try {
      val mem = MemoryStream[Ev](spark)
      val q = StreamingOps.typeCounts(mem.toDF).toDF.writeStream
        .format("memory").queryName("x216_test").outputMode("update").start()
      // batch 1: user 1 → view×2, click×1; user 2 → view×1
      mem.addData(Seq(Ev(1, ts(0), 1, "view", 1.0, "{}"),
                      Ev(2, ts(1), 1, "click", 1.0, "{}"),
                      Ev(3, ts(2), 1, "view", 1.0, "{}"),
                      Ev(4, ts(3), 2, "view", 1.0, "{}")))
      q.processAllAvailable()
      val afterB1 = spark.table("x216_test")
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
      // batch 2: user 1 → view×1 only; user 2 untouched entirely
      mem.addData(Seq(Ev(5, ts(10), 1, "view", 1.0, "{}")))
      q.processAllAvailable()
      q.stop()
      val all = spark.table("x216_test")
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
      // multiset difference: batch 2 re-emits (1, click, 1) VERBATIM (the
      // untouched entry re-read from MapState), which a set-minus would
      // swallow as batch 1's identical row
      val afterB2 = all.diff(afterB1)
      assert(afterB1.toSet === Set((1L, "click", 1L), (1L, "view", 2L), (2L, "view", 1L)))
      assert(afterB2.toSet === Set((1L, "click", 1L), (1L, "view", 3L)) &&
             afterB2.size === 2,
        s"batch 2 must emit user 1's snapshot with view ACCUMULATED to 3 and " +
        s"the untouched click entry re-read as 1, got $afterB2")
      assert(!afterB2.exists(_._1 == 2L), "untouched user 2 must not re-emit")
    } finally {
      prev match {
        case Some(p) => spark.conf.set(conf, p)
        case None => spark.conf.unset(conf)
      }
    }
  }

  test("transformWithState state outlives the query: restart from checkpoint resumes totals") {
    import graft.streaming.StreamingOps
    // THE deployment contract (VERDICT r9 task 2): x114/x134 pin cross-batch
    // state within ONE query run; here the first query instance is STOPPED
    // after batch 1 and a brand-new instance — a second process lifecycle in
    // miniature: new WriteStream, new query id instance, same checkpoint
    // dir — processes batch 2. The post-restart emission must carry the
    // LIFETIME totals (batch-1 state recovered from the checkpointed
    // RocksDB snapshot), equal to the batch oracle over the full history.
    val conf = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(conf)
    spark.conf.set(conf, StreamingOps.RocksDbProvider)
    try {
      val ckpt = Files.createTempDirectory("x114_restart_ckpt").toString
      val mem = MemoryStream[Ev](spark)
      // the memory sink refuses checkpoint recovery by design (it is
      // ephemeral); foreachBatch is the recoverable sink the deployment
      // contract actually uses — each lifecycle collects its own emissions
      def newInstance(buf: scala.collection.mutable.ArrayBuffer[(Long, Long, Long)]) =
        StreamingOps.runningUserTotals(mem.toDF).toDF.writeStream
          .outputMode("update")
          .option("checkpointLocation", ckpt)
          .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
            val rows = b.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
            buf.synchronized { buf ++= rows }; ()
          }
          .start()
      // lifecycle 1: batch 1 — user 1 twice, user 2 once — then STOP.
      val buf1 = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long)]
      val q1 = newInstance(buf1)
      mem.addData(Seq(Ev(1, ts(0), 1, "view", 1.0, "{}"),
                      Ev(2, ts(5), 1, "view", 1.0, "{}"),
                      Ev(3, ts(3), 2, "view", 1.0, "{}")))
      q1.processAllAvailable()
      q1.stop()
      assert(buf1.synchronized(buf1.toSet) === Set(
        (1L, 2L, 5L * 60000000L), (2L, 1L, 3L * 60000000L)))
      // lifecycle 2: a NEW query instance from the same checkpoint; batch 2
      // touches both users once.
      mem.addData(Seq(Ev(4, ts(10), 1, "view", 1.0, "{}"),
                      Ev(5, ts(11), 2, "view", 1.0, "{}")))
      val buf2 = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long)]
      val q2 = newInstance(buf2)
      q2.processAllAvailable()
      q2.stop()
      val out = buf2.synchronized(buf2.toSet)
      // the batch oracle over the FULL history: user 1 n=3, user 2 n=2 —
      // only possible if lifecycle 2 recovered lifecycle 1's state.
      assert(out === Set(
        (1L, 3L, 10L * 60000000L),
        (2L, 2L, 11L * 60000000L)),
        s"post-restart totals must equal the full-history batch oracle, got $out")
    } finally {
      prev match {
        case Some(p) => spark.conf.set(conf, p)
        case None => spark.conf.unset(conf)
      }
    }
  }

  test("no final session sits exactly on the x19 timeout boundary (oracle guard)") {
    // The x19 oracle replicates Spark's event-time timeout as
    // (last_us+gap)//1000 < max_us//1000 - 600000 (strict <). The one case
    // where < vs <= would diverge is EXACT equality — assert the data never
    // produces it, so a refresh fails here instead of flipping the driver
    // compare red silently. (Pattern: ADVICE r2's session-gap guard.)
    import org.apache.spark.sql.functions._
    val spark2 = TestSpark.spark
    for (sf <- Seq("sf0.001", "sf0.01", "sf0.1")) {
      val dir = s"/root/testdata/$sf"
      if (new java.io.File(s"$dir/events.parquet").exists) {
        val e = graft.engine.Tables.events(spark2, dir)
          .select(col("user_id"), expr("unix_micros(ts)").as("us"))
        val mx = e.agg(max(col("us"))).head().getLong(0)
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("user_id").orderBy("us")
        val finals = e
          .withColumn("brk", when(lag(col("us"), 1).over(w).isNull ||
            col("us") - lag(col("us"), 1).over(w) >= 1800000000L, 1).otherwise(0))
          .withColumn("sid", sum(col("brk")).over(
            w.rowsBetween(Long.MinValue, 0)))
          .groupBy("user_id", "sid").agg(max(col("us")).as("last_us"))
        val onBoundary = finals
          .filter(expr("(last_us + 1800000000) DIV 1000") === mx / 1000 - 600000L)
          .count()
        assert(onBoundary === 0,
          s"$sf: $onBoundary sessions at the exact timeout boundary - " +
          "re-derive or retire the x19 oracle before trusting it")
      }
    }
  }

  test("x240 CEP match straddling a micro-batch boundary fires; no double count") {
    import graft.streaming.StreamingOps
    // The part x240's single-batch oracle cannot witness: the carried
    // two-event tail lets a view,click | purchase triple SPLIT across
    // batches fire when the purchase arrives, while an already-counted
    // triple is never re-counted (its view left the 2-slot tail).
    val conf = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(conf)
    spark.conf.set(conf, StreamingOps.RocksDbProvider)
    try {
      val mem = MemoryStream[Ev](spark)
      val q = StreamingOps.cepMatches(mem.toDF).toDF.writeStream
        .format("memory").queryName("x240_test").outputMode("update").start()
      // u1: view,click only (partial — must NOT fire yet)
      // u2: full triple in-batch (fires now; purchase ends up in the tail)
      // u3: view,signup,click,purchase — NOT consecutive, never fires
      // u4: triple whose purchase is 5000 min after the view — span>3d, no fire
      mem.addData(Seq(
        Ev(1, ts(0), 1, "view", 1.0, "{}"),  Ev(2, ts(1), 1, "click", 1.0, "{}"),
        Ev(3, ts(0), 2, "view", 1.0, "{}"),  Ev(4, ts(1), 2, "click", 1.0, "{}"),
        Ev(5, ts(2), 2, "purchase", 1.0, "{}"),
        Ev(6, ts(0), 3, "view", 1.0, "{}"),  Ev(7, ts(1), 3, "signup", 1.0, "{}"),
        Ev(8, ts(2), 3, "click", 1.0, "{}"), Ev(9, ts(3), 3, "purchase", 1.0, "{}"),
        Ev(10, ts(0), 4, "view", 1.0, "{}"), Ev(11, ts(1), 4, "click", 1.0, "{}"),
        Ev(12, ts(5000), 4, "purchase", 1.0, "{}")))
      q.processAllAvailable()
      val row = (r: org.apache.spark.sql.Row) =>
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
      val afterB1 = spark.table("x240_test").collect().map(row).toSeq
      assert(afterB1 === Seq((2L, 1L, 0L, 0L)),
        s"only u2's in-batch triple may fire in batch 1, got $afterB1")
      // batch 2: u1's purchase completes the straddled triple (tail held
      // view,click); u2 gets a lone view — lifetime stats re-emit UNCHANGED
      // (tail was click,purchase: the counted triple cannot re-form)
      mem.addData(Seq(Ev(13, ts(2), 1, "purchase", 1.0, "{}"),
                      Ev(14, ts(10), 2, "view", 1.0, "{}")))
      q.processAllAvailable()
      q.stop()
      val b2 = spark.table("x240_test").collect().map(row).toSeq
        .diff(afterB1) // multiset diff: u2's re-emission equals its b1 row
      assert(b2.toSet === Set((1L, 1L, 0L, 0L), (2L, 1L, 0L, 0L)),
        s"batch 2 must fire u1's straddled match and re-emit u2 once, got $b2")
    } finally {
      prev match {
        case Some(p) => spark.conf.set(conf, p)
        case None => spark.conf.unset(conf)
      }
    }
  }
  test("x247 left-outer null emission is watermark-driven across batches") {
    val mem = MemoryStream[Ev](spark)
    val q = graft.streaming.StreamingOps.leftOuterClicks(mem.toDF)
      .writeStream.format("memory").queryName("x247_mem")
      .outputMode("append").start()
    def rows() = spark.table("x247_mem").collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1)))
      .toSet
    // batch 1: P1 (user 1, matched by a 5-min-earlier click), P2 (user 2,
    // no click). The match emits immediately; the null must NOT (no
    // watermark proof yet that user 2's click can't still arrive).
    mem.addData(Seq(
      Ev(101L, ts(95), 1L, "click", 1.0, ""),
      Ev(102L, ts(100), 1L, "purchase", 1.0, ""),
      Ev(103L, ts(100), 2L, "purchase", 1.0, "")))
    q.processAllAvailable()
    assert(rows() === Set((102L, 1L)))
    // batch 2: both clocks jump to t=200 -> watermark 190 > 100, so P2's
    // null flushes; P3 (t=200, above watermark) stays withheld.
    mem.addData(Seq(
      Ev(104L, ts(200), 3L, "purchase", 1.0, ""),
      Ev(105L, ts(200), 3L, "click", 1.0, "")))
    q.processAllAvailable()
    // one more empty trigger lets the batch-2 watermark act
    mem.addData(Seq.empty[Ev])
    q.processAllAvailable()
    q.stop()
    assert(rows() === Set((102L, 1L), (103L, -1L)))
  }

  test("x261 full-outer emits BOTH null directions, each on its own cutoff") {
    val mem = MemoryStream[Ev](spark)
    val q = graft.streaming.StreamingOps.fullOuterClicks(mem.toDF)
      .writeStream.format("memory").queryName("x261_mem")
      .outputMode("append").start()
    def rows() = spark.table("x261_mem").collect()
      .map(r => (if (r.isNullAt(0)) -1L else r.getLong(0),
                 if (r.isNullAt(1)) -1L else r.getLong(1)))
      .toSet
    // batch 1: u1 click t=95 + purchase t=100 (match, emits inner-style);
    // u2 purchase t=100 (unmatched; null needs WM > 100); u3 click t=150
    // (unmatched; null needs WM > 150+10 — the click side waits one extra
    // range, the property that distinguishes full-outer's two directions)
    mem.addData(Seq(
      Ev(101L, ts(95), 1L, "click", 1.0, ""),
      Ev(102L, ts(100), 1L, "purchase", 1.0, ""),
      Ev(103L, ts(100), 2L, "purchase", 1.0, ""),
      Ev(104L, ts(150), 3L, "click", 1.0, "")))
    q.processAllAvailable()
    assert(rows() === Set((102L, 101L)))
    // batch 2: both clocks to t=120 → WM 110: past the purchase cutoff
    // (110 > 100 ⇒ P2's null flushes) but NOT the click's (110 < 160 ⇒
    // C3 still waits — a left-outer would already have nothing to wait for)
    mem.addData(Seq(
      Ev(105L, ts(120), 4L, "purchase", 1.0, ""),
      Ev(106L, ts(120), 4L, "click", 1.0, "")))
    q.processAllAvailable()
    mem.addData(Seq.empty[Ev])
    q.processAllAvailable()
    assert(rows() === Set((102L, 101L), (103L, -1L)),
      "purchase null must flush at WM 110; the click null must NOT")
    // batch 3: clocks to t=300 → WM 290 > 160: C3's null finally flushes,
    // and batch 2's same-timestamp pair (no match: c_ts < p_ts is strict)
    // flushes in both directions too
    mem.addData(Seq(
      Ev(107L, ts(300), 5L, "purchase", 1.0, ""),
      Ev(108L, ts(300), 5L, "click", 1.0, "")))
    q.processAllAvailable()
    mem.addData(Seq.empty[Ev])
    q.processAllAvailable()
    q.stop()
    assert(rows() === Set((102L, 101L), (103L, -1L), (-1L, 104L),
                          (105L, -1L), (-1L, 106L)))
  }
}
