package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.TransformWithState
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupStateTimeout, ListState, MapState, OutputMode, StatefulProcessor, TTLConfig, TimeMode, TimerValues, Trigger, ValueState}
import org.apache.spark.sql.types._

/** Input row for the custom-state sessionizer (x19). */
case class UserEvent(user_id: Long, ts: java.sql.Timestamp)
/** Keyed state: the user's currently-open session (epoch µs bounds). */
case class OpenSession(start_us: Long, last_us: Long, n: Long)
/** Emitted when a session closes (30-min gap or event-time timeout). */
case class ClosedSession(user_id: Long, start_us: Long, end_us: Long, n_events: Long)
/** x114 keyed state: a user's running (event count, latest epoch-µs). */
case class UserRunning(n: Long, last_us: Long)
/** x306 input: one (LSH band bucket, doc) membership row. */
case class BandRow(bucket: String, doc_id: Long)
/** x306 emission: a doc flagged as near-dup of its bucket's first doc. */
case class DupHit(doc_id: Long, partner: Long)
/** x114 output: the running totals as of the processed batch. */
case class UserTotals(user_id: Long, n_events: Long, last_us: Long)

/** x252 processor: 30-minute-gap sessionization rebuilt on
  * `transformWithState` with EXPLICIT EVENT-TIME TIMERS — the fourth and
  * last piece of the TWS surface (ValueState = x114, ListState = x134,
  * MapState = x216, timers = here). x19 closes idle sessions through
  * `GroupStateTimeout.EventTimeTimeout` (one implicit timeout per key);
  * the TWS timer API is the GENERAL form — any number of named wake-ups
  * per key — and the registration discipline is on the processor: a
  * re-extended session must DELETE its stale timer before arming the new
  * one, or the old wake-up still fires and closes a live session (the
  * bug StreamingSpec's cross-batch case would catch).
  *
  * 100 TB: state is one record + one timer per ACTIVE user, both
  * watermark-GC'd; per batch each key sorts only its own rows. */
class TimerSessionProcessor
    extends StatefulProcessor[Long, UserEvent, ClosedSession] {
  private val gapUs = 30L * 60 * 1000 * 1000
  @transient private var open: ValueState[OpenSession] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    open = getHandle.getValueState[OpenSession](
      "open", Encoders.product[OpenSession], TTLConfig.NONE)

  private def close(uid: Long, s: OpenSession) =
    ClosedSession(uid, s.start_us, s.last_us, s.n)

  override def handleInputRows(key: Long, rows: Iterator[UserEvent],
                               timerValues: TimerValues): Iterator[ClosedSession] = {
    val ts = rows.map(e => e.ts.getTime * 1000L +
      (e.ts.getNanos / 1000) % 1000).toArray.sorted
    val closed = Seq.newBuilder[ClosedSession]
    var cur = if (open.exists()) Some(open.get()) else None
    for (t <- ts) cur match {
      case Some(s) if t - s.last_us < gapUs =>
        cur = Some(s.copy(last_us = math.max(s.last_us, t), n = s.n + 1))
      case Some(s) =>
        closed += close(key, s)
        cur = Some(OpenSession(t, t, 1))
      case None =>
        cur = Some(OpenSession(t, t, 1))
    }
    cur.foreach { s =>
      open.update(s)
      // re-arm: delete every stale wake-up, then register last+gap (ms)
      getHandle.listTimers().foreach(t => getHandle.deleteTimer(t))
      getHandle.registerTimer((s.last_us + gapUs) / 1000)
    }
    closed.result().iterator
  }

  override def handleExpiredTimer(key: Long, timerValues: TimerValues,
      expiredTimerInfo: org.apache.spark.sql.streaming.ExpiredTimerInfo): Iterator[ClosedSession] = {
    val out = (if (open.exists()) Some(open.get()) else None)
      .map(close(key, _)).iterator
    open.clear()
    out
  }
}

/** x114 processor: per-user running totals through the `transformWithState`
  * API — Spark 4's successor to `flatMapGroupsWithState` (x19). State is a
  * NAMED, individually-evolvable `ValueState` handle owned by the operator
  * (vs x19's single opaque state object), TTL-capable, and requires the
  * RocksDB provider — the composable-state surface production pipelines are
  * migrating to. Top-level class: the processor is serialized to executors.
  *
  * 100 TB posture: state is one 16-byte record per DISTINCT user, partitioned
  * across executors in RocksDB (off-heap, block-cache-bounded); per batch
  * each key folds its rows in one pass — no sort, no buffering. The `ttl`
  * parameter is the dormant-key GC path: with a [[TTLConfig]] duration set,
  * a user untouched for longer than the TTL has its ValueState evicted by
  * the store (the 100 TB OOM guard — unbounded distinct users must not mean
  * unbounded state). StreamingSpec fires the eviction for real; the
  * registered x114 replay keeps TTL NONE so the single-batch oracle sees
  * every user. */
class RunningTotalsProcessor(ttl: TTLConfig = TTLConfig.NONE)
    extends StatefulProcessor[Long, UserEvent, UserTotals] {
  @transient private var totals: ValueState[UserRunning] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    totals = getHandle.getValueState[UserRunning](
      "totals", Encoders.product[UserRunning], ttl)

  override def handleInputRows(user: Long, rows: Iterator[UserEvent],
                               timers: TimerValues): Iterator[UserTotals] = {
    var n = 0L
    var last = Long.MinValue
    rows.foreach { e =>
      n += 1
      val us = e.ts.getTime * 1000L + (e.ts.getNanos / 1000) % 1000
      if (us > last) last = us
    }
    val prev = if (totals.exists()) totals.get() else UserRunning(0L, Long.MinValue)
    val merged = UserRunning(prev.n + n, math.max(prev.last_us, last))
    totals.update(merged)
    Iterator.single(UserTotals(user, merged.n, merged.last_us))
  }
}

/** x134 input: an event with the identity/type fields journey ordering
  * needs (x114's [[UserEvent]] plus event_id and event_type). */
case class TypedEvent(user_id: Long, ts: java.sql.Timestamp, event_id: Long,
                      event_type: String)
/** x134 state element: one journey step, ordered by (us, event_id). */
case class JourneyStep(us: Long, event_id: Long, event_type: String)
/** x134 output: the user's entry journey as of the processed batch. */
case class UserJourney(user_id: Long, path: String)

/** x134 processor: each user's ENTRY JOURNEY (first-3-events-by-EVENT-TIME
  * path, x132's statistic) maintained incrementally through a
  * `transformWithState` `ListState` handle — the second state shape of the
  * new API beside x114's `ValueState`. The list is explicitly re-truncated
  * to the 3 event-time-smallest steps on every batch (`put`, not a blind
  * `appendValue`), which is the point: state stays O(3) per user forever,
  * AND a late-arriving earlier event DISPLACES a later step — the journey
  * is event-time ordered, not arrival ordered (StreamingSpec pins exactly
  * that displacement on a two-batch MemoryStream).
  *
  * 100 TB posture: bounded 3-element state per user in RocksDB; per batch
  * each key folds its rows through one sort of ≤ 3 + batch-local steps. An
  * unbounded `appendValue` journey log would be the scale bug this design
  * refuses. */
class EntryJourneyProcessor extends StatefulProcessor[Long, TypedEvent, UserJourney] {
  @transient private var steps: ListState[JourneyStep] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    steps = getHandle.getListState[JourneyStep](
      "entry_steps", Encoders.product[JourneyStep], TTLConfig.NONE)

  override def handleInputRows(user: Long, rows: Iterator[TypedEvent],
                               timers: TimerValues): Iterator[UserJourney] = {
    val incoming = rows.map { e =>
      val us = e.ts.getTime * 1000L + (e.ts.getNanos / 1000) % 1000
      JourneyStep(us, e.event_id, e.event_type)
    }.toSeq
    val kept = (steps.get().toSeq ++ incoming)
      .sortBy(s => (s.us, s.event_id)).take(3)
    steps.put(kept.toArray)
    Iterator.single(UserJourney(user, kept.map(_.event_type).mkString(">")))
  }
}

/** x216 output: one (user, event_type) running count as of the processed
  * batch. */
case class UserTypeCount(user_id: Long, event_type: String, n_events: Long)

/** x216 processor: per-user MAP of event_type → lifetime count through a
  * `transformWithState` `MapState` handle — the THIRD state shape of the
  * new API, completing the triad beside x114's `ValueState` and x134's
  * `ListState`. The keyed-sub-map is the most common production state
  * shape (per-(user, dimension) running counts); the point of `MapState`
  * over a `ValueState[Map[...]]` is PER-ENTRY access: a batch touching one
  * event_type reads and writes only that entry's state-store row, never
  * deserializing the user's whole map — at 100 TB that is the difference
  * between O(touched entries) and O(map size) state I/O per batch.
  * Each batch emits the touched user's full map snapshot (update-mode
  * re-emit, x134's convention), so the single-batch replay equals the
  * plain batch (user, type) count — the driver oracle — while the
  * per-entry update/read-back semantics are pinned on a two-batch
  * MemoryStream in StreamingSpec. */
class TypeCountsProcessor extends StatefulProcessor[Long, TypedEvent, UserTypeCount] {
  @transient private var counts: MapState[String, Long] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    counts = getHandle.getMapState[String, Long](
      "type_counts", Encoders.STRING, Encoders.scalaLong, TTLConfig.NONE)

  override def handleInputRows(user: Long, rows: Iterator[TypedEvent],
                               timers: TimerValues): Iterator[UserTypeCount] = {
    val inc = scala.collection.mutable.LinkedHashMap.empty[String, Long]
    rows.foreach(e => inc(e.event_type) = inc.getOrElse(e.event_type, 0L) + 1L)
    inc.foreach { case (t, n) =>
      val prev = if (counts.containsKey(t)) counts.getValue(t) else 0L
      counts.updateValue(t, prev + n)
    }
    counts.iterator().map { case (t, n) => UserTypeCount(user, t, n) }
      .toSeq.sortBy(_.event_type).iterator
  }
}

/** x240 state: the carried two-event tail (a CEP match can straddle a
  * micro-batch boundary) plus the lifetime match statistics. Tail slots
  * are (type, µs, event_id) with presence flags — fixed O(1) state per
  * user, the pattern-length−1 buffer every CEP runtime keeps. */
case class CepTail(t1: String, us1: Long, id1: Long, has1: Boolean,
                   t2: String, us2: Long, id2: Long, has2: Boolean,
                   n_matches: Long, first_us: Long, last_us: Long)
/** x240 output: a user's lifetime match stats as of the processed batch. */
case class CepMatches(user_id: Long, n_matches: Long,
                      first_start_us: Long, last_start_us: Long)

/** x240 processor: STREAMING CEP — x237's strictly-consecutive
  * view→click→purchase triple detected INCREMENTALLY: per user the
  * `ValueState` carries exactly the last two events (pattern length − 1),
  * so a triple whose purchase arrives three micro-batches after its view
  * still fires, and state is O(1) per user forever — the Flink-CEP
  * partial-match buffer specialized to a fixed pattern. No match is ever
  * double-counted: every triple found in (tail ++ batch) ends in a
  * batch-new event (the tail holds only 2 < 3 events), and a triple
  * counted earlier had its purchase consumed into history. Within a batch
  * rows sort by (event-time µs, event_id) — the x134 convention; ACROSS
  * batches the processor assumes per-user in-order delivery (the standard
  * CEP contract a watermark enforces upstream), which the single-batch
  * replay and the boundary-straddle spec both honor. */
class CepProcessor extends StatefulProcessor[Long, TypedEvent, CepMatches] {
  private val Span = 259200000000L // 3 days in µs
  @transient private var st: ValueState[CepTail] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    st = getHandle.getValueState[CepTail](
      "cep_tail", Encoders.product[CepTail], TTLConfig.NONE)

  override def handleInputRows(user: Long, rows: Iterator[TypedEvent],
                               timers: TimerValues): Iterator[CepMatches] = {
    val incoming = rows.map { e =>
      val us = e.ts.getTime * 1000L + (e.ts.getNanos / 1000) % 1000
      (e.event_type, us, e.event_id)
    }.toSeq.sortBy { case (_, us, id) => (us, id) }
    val prev = if (st.exists()) st.get()
               else CepTail("", 0L, 0L, false, "", 0L, 0L, false,
                            0L, Long.MaxValue, Long.MinValue)
    val tail = (if (prev.has1) Seq((prev.t1, prev.us1, prev.id1)) else Nil) ++
               (if (prev.has2) Seq((prev.t2, prev.us2, prev.id2)) else Nil)
    val seq = tail ++ incoming
    var n = prev.n_matches
    var first = prev.first_us
    var last = prev.last_us
    var i = 0
    while (i + 2 < seq.length) {
      if (seq(i)._1 == "view" && seq(i + 1)._1 == "click" &&
          seq(i + 2)._1 == "purchase" && seq(i + 2)._2 - seq(i)._2 <= Span) {
        n += 1
        if (seq(i)._2 < first) first = seq(i)._2
        if (seq(i)._2 > last) last = seq(i)._2
      }
      i += 1
    }
    val nt = seq.takeRight(2)
    val updated = nt match {
      case Seq(a, b) => CepTail(a._1, a._2, a._3, true, b._1, b._2, b._3, true,
                                n, first, last)
      case Seq(a) => CepTail(a._1, a._2, a._3, true, "", 0L, 0L, false,
                             n, first, last)
      case _ => prev.copy(n_matches = n, first_us = first, last_us = last)
    }
    st.update(updated)
    if (n > 0) Iterator.single(CepMatches(user, n, first, last))
    else Iterator.empty
  }
}

/** Structured Streaming operators x02–x04 (SURVEY.md §2.5): the
  * streaming-proper twins of the batch window queries q35/q37.
  *
  * Transform builders are factored out so ScalaTest can drive the SAME logical
  * plan from a MemoryStream (asserting batch-twin equality and late-data
  * semantics), while the `queries` entries replay the events parquet through a
  * file streaming source with Trigger.AvailableNow into a memory sink — the
  * genuine streaming runtime (watermark tracking, state store, incremental
  * execution), deterministic because all data is in order within one replay.
  *
  * 100 TB posture: all three are keyed-state streaming aggs; state size is
  * bounded by (windows × types) / live sessions, and the watermark GCs state.
  */
object StreamingOps {

  /** x02 transform: tumbling 1h count/sum with a 10-minute watermark. */
  def tumblingWithWatermark(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("cnt"),
           // exact decimal sum internally, double out — matches the q35 batch
           // twin under the output-type protocol (Relational1 Scaladoc)
           graft.engine.OutTypes.money(sum(col("value").cast(DecimalType(18, 2)))).as("sv"))
      .select(unix_micros(col("window.start")).as("bucket_us"),
              col("event_type"), col("cnt"), col("sv"))

  /** x03 transform: 30-minute-gap session windows per user. */
  def sessionWindows(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"), col("n_events"))

  /** x04 transform: tumbling count in Update mode semantics (late rows beyond
    * the watermark are dropped; in-watermark updates re-emit). */
  def lateDataCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour"))
      .agg(count(lit(1)).as("cnt"))
      .select(unix_micros(col("window.start")).as("bucket_us"), col("cnt"))

  /** x25 transform: streaming exact dedup — the streaming twin of q44's
    * batch dedup. `dropDuplicatesWithinWatermark` keeps per-key state only
    * until the watermark passes it (bounded state, the 100 TB requirement);
    * the guarantee is exact dedup WITHIN the watermark horizon — a duplicate
    * arriving after its key's state was GC'd is re-emitted, which the spec
    * asserts explicitly. */
  def streamDedup(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .dropDuplicatesWithinWatermark("user_id", "event_type")
      .select(col("user_id"), col("event_type"))

  /** x19 transform: 30-minute-gap sessionization with CUSTOM keyed state —
    * `flatMapGroupsWithState` instead of `session_window` (x03). This is the
    * escape hatch for session semantics the built-in operator can't express
    * (e.g. emitting the full session record on close, capping session length,
    * side outputs); here it reproduces the same gap rule so the ScalaTest can
    * assert equivalence against the batch oracle (q37).
    *
    * Semantics: state per user = the open session; a batch's events are
    * sorted in-memory (bounded by per-user-per-batch volume), gaps > 30 min
    * close a session and emit it; an event-time timeout 30 min past the last
    * event closes and emits the session once the watermark passes it.
    *
    * 100 TB posture: state is one small case class per ACTIVE user (not per
    * event), partitioned by user across executors, GC'd by the timeout; the
    * per-batch sort is per (user, batch) — never a global sort. */
  def customStateSessions(events: DataFrame): Dataset[ClosedSession] = {
    val spark = events.sparkSession
    import spark.implicits._
    val gapUs = 30L * 60 * 1000 * 1000
    events.select(col("user_id"), col("ts"))
      .withWatermark("ts", "10 minutes")
      .as[UserEvent]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[OpenSession, ClosedSession](
          OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (uid, events, state) =>
          def close(s: OpenSession) = ClosedSession(uid, s.start_us, s.last_us, s.n)
          if (events.isEmpty) {
            // timeout: the watermark passed last+gap with no new events
            val out = state.getOption.map(close).iterator
            state.remove()
            out
          } else {
            val ts = events.map(e => e.ts.getTime * 1000L +
              (e.ts.getNanos / 1000) % 1000).toArray.sorted
            val closed = Seq.newBuilder[ClosedSession]
            var open = state.getOption
            // strict <: session_window is half-open [start, last+gap), so an
            // event at exactly last+gap starts a NEW session (matches q37/x03)
            for (t <- ts) open match {
              case Some(s) if t - s.last_us < gapUs =>
                open = Some(s.copy(last_us = math.max(s.last_us, t), n = s.n + 1))
              case Some(s) =>
                closed += close(s)
                open = Some(OpenSession(t, t, 1))
              case None =>
                open = Some(OpenSession(t, t, 1))
            }
            state.update(open.get)
            state.setTimeoutTimestamp((open.get.last_us + gapUs) / 1000)
            closed.result().iterator
          }
      }
  }

  /** Stages `<dir>/<table>.parquet` for the file-stream source. The source
    * lists the staged dir FLAT, so a symlink to a multi-part parquet
    * DIRECTORY (the 10x soak copies) matches nothing and the replay
    * silently ingests ZERO rows — exactly how the round-7 soak got its
    * nonsense 0.1x streaming "ratios". Link part files individually for
    * directories, the file itself otherwise. */
  private def stageStreamInput(root: String, dir: String,
                               table: String): java.nio.file.Path = {
    val staged = java.nio.file.Paths.get(
      root, dir.replaceAll("[^A-Za-z0-9]", "_"))
    java.nio.file.Files.createDirectories(staged)
    val src = java.nio.file.Paths.get(dir, s"$table.parquet")
    if (java.nio.file.Files.isDirectory(src)) {
      java.nio.file.Files.list(src).forEach { p =>
        if (p.getFileName.toString.endsWith(".parquet")) {
          val l = staged.resolve(p.getFileName.toString)
          if (!java.nio.file.Files.exists(l))
            java.nio.file.Files.createSymbolicLink(l, p)
        }
      }
    } else {
      val link = staged.resolve(s"$table.parquet")
      if (!java.nio.file.Files.exists(link))
        java.nio.file.Files.createSymbolicLink(link, src)
    }
    staged
  }

  /** The events parquet replayed as a genuine stream. The file source wants a
    * directory, so we stage a /tmp dir holding a symlink to the (read-only)
    * events.parquet of the requested scale factor.
    *
    * `readStream` demands an explicit schema, and the harness has shipped
    * `ts` under several parquet encodings across rounds (raw NANOS → BIGINT
    * under `nanosAsLong`; MICROS NTZ after the round-8 regeneration). The
    * `ts` type comes from the [[graft.engine.Tables]] loader's cached file
    * schema (no schema-inference job per replay), and the stream side
    * applies the batch loader's own normalization,
    * [[graft.engine.Tables.normalizeTs]], so the replay sees the µs
    * TimestampType column [[graft.engine.Tables.events]] does. */
  private def eventsStream(spark: SparkSession, dir: String): DataFrame = {
    val staged = stageStreamInput("/tmp/graft_stream", dir, "events")
    val rawType = graft.engine.Tables.fileSchema(spark, dir, "events")("ts").dataType
    val schema = StructType(Seq(
      StructField("event_id", LongType), StructField("ts", rawType),
      StructField("user_id", LongType), StructField("event_type", StringType),
      StructField("value", DoubleType), StructField("props", StringType)))
    graft.engine.Tables.normalizeTs(spark.readStream.schema(schema).parquet(staged.toString))
  }

  /** The documents parquet replayed as a stream (same staging trick as
    * [[eventsStream]]). */
  private def documentsStream(spark: SparkSession, dir: String): DataFrame = {
    val staged = stageStreamInput("/tmp/graft_stream_docs", dir, "documents")
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType),
      StructField("n_chars", LongType)))
    spark.readStream.schema(schema).parquet(staged.toString)
  }

  /** x91: the Misra–Gries `freq_sketch` (a custom TypedImperativeAggregate)
    * running INSIDE a Structured Streaming aggregation — heavy-hitter
    * tracking over a live token stream, with the sketch buffer living in
    * the streaming state store between micro-batches. Demonstrates that
    * the native aggregate is streaming-safe (serialize/deserialize is the
    * state-store round trip).
    *
    * Determinism/oracle: capacity 64 exceeds this corpus's whole
    * vocabulary, and a Misra–Gries summary with NO evictions is exact —
    * so the complete-mode output equals the plain batch top-20 token
    * count (x62's oracle). The spec, not the oracle, covers the lossy
    * regime. 100 TB: state is ≤ capacity entries regardless of vocabulary
    * — the bounded-state property is exactly what a streaming agg needs. */
  def x91(spark: SparkSession, dir: String): DataFrame = {
    val toks = documentsStream(spark, dir)
      .select(explode(split(lower(col("text")), " ")).as("tok"))
      .filter(col("tok") =!= "")
    val sketched = toks.agg(call_function("freq_sketch", col("tok"), lit(64)).as("sk"))
    runToTable(spark, sketched, s"x91_sink_${System.nanoTime()}", "complete")
      .select(explode(col("sk")))
      .select(col("key").as("tok"), col("value").as("cnt"))
      .orderBy(col("cnt").desc, col("tok"))
      .limit(20)
  }

  /** The RocksDB state-store provider — the scale path for streaming state.
    * The default HDFSBackedStateStoreProvider keeps EVERY key's state as
    * deserialized JVM objects on the executor heap (maps doubled during
    * snapshot), which is exactly what dies first on 100 TB-class
    * sessionization: state size is bounded by live keys, not by memory.
    * RocksDB keeps state off-heap in a native LSM with block-cache bounds,
    * so the streaming operators here run under it BY DEFAULT: a session
    * that sets `spark.sql.streaming.stateStore.providerClass` itself keeps
    * its own provider (StreamingSpec's HDFS-backed parity baseline does;
    * identical results, asserted), except that the transformWithState
    * replays (x114 x134 x216 x240 x252) need this one: `runToTable` refuses
    * them under any other session-set provider. */
  private[graft] val RocksDbProvider =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  /** State-operator progress of the last completed replay (all micro-batches,
    * flattened) — lets specs assert bounded state and the provider actually
    * used without re-plumbing the StreamingQuery handle out. */
  @volatile private[graft] var lastStateProgress:
    Seq[org.apache.spark.sql.streaming.StateOperatorProgress] = Seq.empty

  /** Runs a streaming transform to completion (AvailableNow) into a memory
    * sink and returns the result table.
    *
    * GUARD: the x02/x03/x04/x25 DuckDB oracles are sound only because the
    * whole replay is ONE data micro-batch (watermarks advance — and dedup
    * state can expire, late rows drop — only BETWEEN batches). That holds
    * today because each scale factor's events table is a single parquet
    * file; if a data refresh ever makes it a multi-part directory or an
    * admission option splits the replay, the oracles would silently diverge
    * on the driver. Fail loudly here instead.
    *
    * The memory sink's temp view is dropped before returning: the frame
    * holds the sink's rows itself, and a view per replay would keep every
    * replay's rows alive for the life of the session. */
  private def runToTable(spark: SparkSession, streamed: DataFrame,
                         name: String, outputMode: String): DataFrame = {
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    // getOption answers Spark's default too; getAll holds explicit settings only
    val setProvider = spark.conf.getAll.get(providerKey)
    // checked on the streamed plan (no job runs): started, such a replay
    // fails mid-query with STATE_STORE_MULTIPLE_COLUMN_FAMILIES
    setProvider.filter(_ != RocksDbProvider).foreach { p =>
      require(!streamed.queryExecution.logical.exists(_.isInstanceOf[TransformWithState]),
        s"$name runs transformWithState, whose state needs column families: set " +
        s"$providerKey to $RocksDbProvider or leave it unset (the session sets $p)")
    }
    // streaming state stores are per shuffle partition; these replays carry
    // tiny keyed state, so a handful of partitions beats the batch default
    // (measured: 4 < 8 < 2 ≈ 32 on the sf0.1 replay; the value is fixed into
    // the query at start and restored for batch work after)
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    // SPARK_GRAFT_STREAM_PARTITIONS widens the replay at scale without
    // touching the batch default: at 100× the state shuffle itself dominates
    // and 4 partitions serialize it onto 4 of 32 cores (docs/SCALE_100x.md).
    // Results are partition-count-independent (the 4-partition matrix leg
    // pins that); only the cost moves.
    spark.conf.set("spark.sql.shuffle.partitions",
      sys.env.getOrElse("SPARK_GRAFT_STREAM_PARTITIONS", "4"))
    if (setProvider.isEmpty) spark.conf.set(providerKey, RocksDbProvider)
    try {
      val q = streamed.writeStream
        .format("memory").queryName(name)
        .outputMode(outputMode)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      lastStateProgress = q.recentProgress.toSeq.flatMap(_.stateOperators)
      val dataBatches = q.recentProgress.count(_.numInputRows > 0)
      require(dataBatches <= 1,
        s"$name replayed in $dataBatches data micro-batches; the registered " +
        "streaming oracles assume a single-batch replay (see Scaladoc) — " +
        "re-derive or retire the oracle before trusting this result")
      spark.table(name)
    } finally {
      spark.catalog.dropTempView(name)
      spark.conf.set("spark.sql.shuffle.partitions", prev)
      if (setProvider.isEmpty) spark.conf.unset(providerKey)
    }
  }

  /** x02 entry: equals q35 on in-order replay (complete mode, no late data). */
  def x02(spark: SparkSession, dir: String): DataFrame =
    runToTable(spark, tumblingWithWatermark(eventsStream(spark, dir)),
               s"x02_sink_${System.nanoTime()}", "complete")
      .orderBy("bucket_us", "event_type")

  /** x03 entry: per-user session count must equal q37's session count. */
  def x03(spark: SparkSession, dir: String): DataFrame =
    runToTable(spark, sessionWindows(eventsStream(spark, dir)),
               s"x03_sink_${System.nanoTime()}", "complete")
      .groupBy("user_id").agg(count(lit(1)).as("n_sessions"),
                              sum(col("n_events")).as("n_events"))
      .orderBy("user_id")

  /** x04 entry: update-mode machinery on the same replay; MemoryStream tests
    * assert the actual late/out-of-order dropping. */
  def x04(spark: SparkSession, dir: String): DataFrame =
    runToTable(spark, lateDataCounts(eventsStream(spark, dir)),
               s"x04_sink_${System.nanoTime()}", "update")
      .groupBy("bucket_us").agg(max(col("cnt")).as("cnt"))
      .orderBy("bucket_us")

  /** x19 entry: custom-state sessionization over the replay. Only sessions
    * CLOSED by gap or by the final watermark are emitted (Append mode);
    * sessions still open at end-of-stream stay in state — the MemoryStream
    * spec asserts exact equivalence with q37 on controlled batches. */
  def x19(spark: SparkSession, dir: String): DataFrame =
    runToTable(spark, customStateSessions(eventsStream(spark, dir)).toDF(),
               s"x19_sink_${System.nanoTime()}", "append")
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_closed_sessions"), sum(col("n_events")).as("n_events"))
      .orderBy("user_id")

  /** x25 entry: streaming dedup over the replay; the single-batch AvailableNow
    * replay never expires state mid-batch, so the key set equals the batch
    * distinct and only the (deterministic) key columns are emitted. */
  def x25(spark: SparkSession, dir: String): DataFrame =
    runToTable(spark, streamDedup(eventsStream(spark, dir)),
               s"x25_sink_${System.nanoTime()}", "append")
      .groupBy("event_type").agg(count(lit(1)).as("n_keys"))
      .orderBy("event_type")

  /** x306: STREAMING NEAR-DUP DEDUP — x86's banded-MinHash LSH run ONLINE:
    * every arriving document computes its 8 portable MinHash values and 4
    * band buckets MAP-SIDE (the codegen'd `rolling_fps` array folded
    * through `array_min(transform(...))` — no streaming aggregate builds
    * the signature), and per bucket a `flatMapGroupsWithState` keeps ONE
    * long of state — the first-seen doc_id — flagging every later doc
    * that lands in an already-claimed bucket. This is the online
    * ingest-time dedup gate of a corpus pipeline (don't store what you
    * already have), complementing the batch near-dup family (x01/x86) and
    * the exact streaming dedup (x04/x25). Output per flagged doc: the
    * earliest partner over its buckets and how many of its 4 buckets were
    * already claimed.
    *
    * Determinism/oracle: on the single-batch AvailableNow replay the
    * processor folds each bucket's docs in ascending id order, so a doc
    * is flagged iff a LOWER id shares its bucket and the partner is the
    * bucket minimum — exactly the batch banded-LSH first-occurrence
    * statement the DuckDB oracle restates (x86's signature fragments).
    *
    * 100 TB: state is 8 bytes per DISTINCT bucket (RocksDB-bounded, the
    * same key space LSH bucketing bounds in batch); the signature is
    * map-side per doc; each micro-batch shuffles once on bucket. */
  def x306(spark: SparkSession, dir: String): DataFrame =
    runToTable(spark, neardupHits(documentsStream(spark, dir)).toDF,
               s"x306_sink_${System.nanoTime()}", "append")
      .groupBy("doc_id")
      .agg(min(col("partner")).as("partner"),
           count(lit(1)).as("n_buckets"))
      .orderBy("doc_id")

  /** x306's core over ANY streaming (doc_id, text) frame — exposed so
    * StreamingSpec can drive a two-batch MemoryStream through the
    * cross-batch state (a doc arriving a batch later must still be
    * flagged against the batch-1 claimant). */
  private[graft] def neardupHits(docs: DataFrame): Dataset[DupHit] = {
    val spark = docs.sparkSession
    import spark.implicits._
    val P = 2147483647L
    val hs = Seq((1540483477L, 11L), (1103515245L, 12345L), (69069L, 7L),
                 (1664525L, 1013904223L), (22695477L, 1L), (134775813L, 1L),
                 (214013L, 2531011L), (1597334677L, 3L))
    val sigCols = hs.zipWithIndex.map { case ((a, b), j) =>
      array_min(transform(col("fps"), fp => (fp * a + b) % P)).as(s"mh$j") }
    val banded = docs
      .select(col("doc_id"),
              call_function("rolling_fps", col("text")).as("fps"))
      .filter(size(col("fps")) > 0)
      .select(col("doc_id") +: sigCols: _*)
      .select(col("doc_id"), explode(array((0 until 4).map(bI =>
        concat_ws(":", lit(bI),
                  col(s"mh${2 * bI}"), col(s"mh${2 * bI + 1}"))): _*))
        .as("bucket"))
      .as[BandRow]
    banded.groupByKey(_.bucket)
      .flatMapGroupsWithState[Long, DupHit](
          OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (_: String, rows: Iterator[BandRow], state) =>
          // fold ascending so every flagged doc's partner is the bucket
          // minimum among earlier ids — the oracle's first-occurrence rule
          val ds = rows.map(_.doc_id).toArray.sorted
          val out = Seq.newBuilder[DupHit]
          var mn = state.getOption.getOrElse(Long.MaxValue)
          for (d <- ds) {
            if (mn < d) out += DupHit(d, mn)
            if (d < mn) mn = d
          }
          state.update(mn)
          out.result().iterator
      }
  }

  /** x27: STREAM-STATIC join — the enrichment shape of a production pipeline:
    * a live event stream joined per micro-batch against a static (batch-built)
    * dimension, here each user's lifetime event count. Spark re-plans the join
    * every micro-batch; the hinted broadcast ships the dimension to executors
    * once per batch and the stream side never shuffles for the join.
    *
    * 100 TB posture: the static side is the output of a batch aggregation —
    * bounded by |users|, the classic broadcast-able enrichment table. If it
    * outgrew broadcast, the unhinted fallback is a per-batch shuffle join on
    * user_id. This is x22's semantics through the streaming runtime (same
    * oracle): the salting x22 needs for a skewed BATCH shuffle is unnecessary
    * here precisely because the broadcast join never partitions by the hot
    * key.
    *
    * Determinism: complete-mode aggregation over the single-batch replay (the
    * runToTable guard) — the result equals the batch join+agg exactly. */
  def x27(spark: SparkSession, dir: String): DataFrame = {
    val userTotals = graft.engine.Tables.events(spark, dir)
      .groupBy("user_id").agg(count(lit(1)).as("user_events"))
    val joined = eventsStream(spark, dir)
      .join(broadcast(userTotals), "user_id")
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum(col("user_events")).as("sum_user_events"))
    runToTable(spark, joined, s"x27_sink_${System.nanoTime()}", "complete")
      .orderBy("event_type")
  }

  /** x29: STREAM-STREAM join — purchases joined to the same user's clicks in
    * the 10 minutes before the purchase, both sides live streams. The
    * event-time range condition plus both watermarks is what makes this run
    * forever at scale: Spark derives how long each side's state must be kept
    * (10 min + watermark delay) and GCs older rows — without the time bound
    * the join state would grow without limit.
    *
    * Determinism: INNER stream-stream joins emit a match as soon as both rows
    * are present; the watermark only expires state for LATER batches, so the
    * single-batch replay (runToTable guard) emits exactly the batch join.
    * The per-purchase count happens batch-side on the sink table — appending
    * an aggregation AFTER a stream-stream join would emit only
    * watermark-closed groups and drop the stream tail's purchases. */
  def x29(spark: SparkSession, dir: String): DataFrame = {
    val ev = eventsStream(spark, dir)
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("p_id"), col("user_id"), col("ts").as("p_ts"))
      .withWatermark("p_ts", "10 minutes")
    val c = ev.filter(col("event_type") === "click")
      .select(col("user_id").as("c_uid"), col("ts").as("c_ts"))
      .withWatermark("c_ts", "10 minutes")
    val joined = p.join(c,
      col("user_id") === col("c_uid") &&
        col("c_ts") >= col("p_ts") - expr("INTERVAL 10 MINUTES") &&
        col("c_ts") < col("p_ts"))
      .select(col("p_id"))
    runToTable(spark, joined, s"x29_sink_${System.nanoTime()}", "append")
      .groupBy("p_id").agg(count(lit(1)).as("n_clicks_10m"))
      .orderBy("p_id")
  }

  /** x114 transform: the [[RunningTotalsProcessor]] over the keyed event
    * stream. Update mode — each batch re-emits the keys it touched with
    * their post-batch running totals. A non-NONE `ttl` switches the query
    * to ProcessingTime mode (state TTL is processing-time based) and turns
    * on dormant-key eviction. */
  def runningUserTotals(events: DataFrame,
                        ttl: TTLConfig = TTLConfig.NONE): Dataset[UserTotals] = {
    val spark = events.sparkSession
    import spark.implicits._
    val timeMode =
      if (ttl.ttlDuration == null || ttl.ttlDuration.isZero) TimeMode.None()
      else TimeMode.ProcessingTime()
    events.select(col("user_id"), col("ts"))
      .withWatermark("ts", "10 minutes")
      .as[UserEvent]
      .groupByKey(_.user_id)
      .transformWithState(new RunningTotalsProcessor(ttl),
        timeMode, OutputMode.Update())
  }

  /** x114 entry: on the single-batch replay (runToTable guard) every user is
    * emitted exactly once with lifetime totals, so the oracle is the plain
    * batch per-user aggregate. The cross-batch accumulation semantics — the
    * part a single-batch oracle cannot witness — is asserted on a two-batch
    * MemoryStream in StreamingSpec. */
  def x114(spark: SparkSession, dir: String): DataFrame =
    runToTable(spark, runningUserTotals(eventsStream(spark, dir)).toDF(),
               s"x114_sink_${System.nanoTime()}", "update")
      .orderBy("user_id")

  /** x134 transform: the [[EntryJourneyProcessor]] over the keyed event
    * stream. Update mode — each batch re-emits touched users with their
    * post-batch entry journey. */
  def entryJourneys(events: DataFrame): Dataset[UserJourney] = {
    val spark = events.sparkSession
    import spark.implicits._
    events.select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withWatermark("ts", "10 minutes")
      .as[TypedEvent]
      .groupByKey(_.user_id)
      .transformWithState(new EntryJourneyProcessor,
        TimeMode.None(), OutputMode.Update())
  }

  /** x134 entry: on the single-batch replay every user is emitted exactly
    * once with the journey over its full history, so the oracle is x132's
    * per-user prefix path without the top-k. The late-event displacement —
    * what the single-batch oracle cannot witness — is pinned in
    * StreamingSpec. */
  def x134(spark: SparkSession, dir: String): DataFrame =
    runToTable(spark, entryJourneys(eventsStream(spark, dir)).toDF(),
               s"x134_sink_${System.nanoTime()}", "update")
      .orderBy("user_id")

  /** x216 transform: the [[TypeCountsProcessor]] over the keyed event
    * stream. Update mode — each batch re-emits the touched users' full
    * (event_type → lifetime count) map snapshots. */
  def typeCounts(events: DataFrame): Dataset[UserTypeCount] = {
    val spark = events.sparkSession
    import spark.implicits._
    events.select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withWatermark("ts", "10 minutes")
      .as[TypedEvent]
      .groupByKey(_.user_id)
      .transformWithState(new TypeCountsProcessor,
        TimeMode.None(), OutputMode.Update())
  }

  /** x216 entry: on the single-batch replay every user is emitted exactly
    * once with its full lifetime map, so the oracle is the plain batch
    * (user_id, event_type) count. Cross-batch per-entry accumulation — a
    * second batch touching ONE type must increment that entry while
    * re-reading the others untouched — is pinned on a two-batch
    * MemoryStream in StreamingSpec. */
  def x216(spark: SparkSession, dir: String): DataFrame =
    runToTable(spark, typeCounts(eventsStream(spark, dir)).toDF(),
               s"x216_sink_${System.nanoTime()}", "update")
      .orderBy("user_id", "event_type")

  /** x247: STREAM-STREAM LEFT OUTER join — x29's purchases⋈clicks with the
    * unmatched side KEPT: purchases with zero prior-10-minute clicks emit
    * with a null match once the watermark proves no click can still
    * arrive. This is the semantics x29's inner join cannot express and
    * the batch x115 full-outer only fakes offline: null emission is
    * WATERMARK-DRIVEN (an unmatched purchase must wait until
    * watermark ≥ p_ts, when any qualifying click — all with c_ts < p_ts —
    * would be late by definition), which is why the replay's final
    * NO-DATA micro-batch matters: it advances the watermark past the last
    * event and flushes the eligible unmatched rows
    * (`noDataMicroBatches` — the runToTable guard allows it: only DATA
    * batches are counted).
    *
    * Determinism/oracle: matched purchases emit batch-side exactly as
    * x29; unmatched purchases emit iff the FINAL watermark (max event ts
    * − 10 min, both sides share the events clock) passed p_ts — the
    * oracle states exactly that cutoff, so the withheld stream tail is
    * part of the contract, not noise. 100 TB: both join states are
    * GC-bounded by watermark + the 10-minute range — the reason this
    * query runs forever; state is keyed by user, skew-safe at the x22
    * salting threshold. */
  def x247(spark: SparkSession, dir: String): DataFrame =
    runToTable(spark, leftOuterClicks(eventsStream(spark, dir)),
               s"x247_sink_${System.nanoTime()}", "append")
      .groupBy("p_id").agg(count(col("c_uid")).as("n_clicks_10m"))
      .orderBy("p_id")

  /** x247 transform, exposed for the cross-batch StreamingSpec case. */
  private[graft] def leftOuterClicks(ev: DataFrame): DataFrame = {
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("p_id"), col("user_id"),
              col("ts").as("p_ts"))
      .withWatermark("p_ts", "10 minutes")
    val c = ev.filter(col("event_type") === "click")
      .select(col("user_id").as("c_uid"), col("ts").as("c_ts"))
      .withWatermark("c_ts", "10 minutes")
    p.join(c,
      col("user_id") === col("c_uid") &&
        col("c_ts") >= col("p_ts") - expr("INTERVAL 10 MINUTES") &&
        col("c_ts") < col("p_ts"),
      "left_outer")
      .select(col("p_id"), col("c_uid"))
  }

  /** x261: STREAM-STREAM FULL OUTER join — the last stream-stream join mode
    * after x29 (inner) and x247 (left outer): BOTH sides' unmatched rows
    * emit with nulls on watermark proof. The two null directions have
    * DIFFERENT cutoffs, each derived from the join's time-range condition:
    *  - an unmatched purchase emits once watermark ≥ p_ts (any qualifying
    *    click has c_ts < p_ts and would be late) — x247's cutoff verbatim;
    *  - an unmatched click emits once watermark > c_ts + 10 min (any
    *    qualifying purchase has p_ts ≤ c_ts + 10 min and would be late) —
    *    the NEW direction, 10 minutes LATER on the same clock, which is why
    *    full-outer is not two left-outers glued: the click side's state
    *    lives a full range longer before its null can flush.
    * Unmatched clicks fold into the output under sentinel p_id = −1 (an
    * event_id never taken), keeping the output columns null-free for the
    * exact comparator. The oracle states both cutoffs explicitly
    * (per-side min-over-both-watermark-operators max event time,
    * ms-floored, strict <; x19/x247's arithmetic transfers).
    *
    * 100 TB: state on both sides is GC-bounded by watermark + the
    * 10-minute range (the click side holds one extra range); keyed by
    * user, skew-safe at the x22 salting threshold. */
  def x261(spark: SparkSession, dir: String): DataFrame =
    runToTable(spark, fullOuterClicks(eventsStream(spark, dir)),
               s"x261_sink_${System.nanoTime()}", "append")
      .groupBy(coalesce(col("p_id"), lit(-1L)).as("p_id"))
      .agg(count(col("c_id")).as("n_clicks_10m"))
      .orderBy("p_id")

  /** x261 transform, exposed for the cross-batch StreamingSpec case. */
  private[graft] def fullOuterClicks(ev: DataFrame): DataFrame = {
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("p_id"), col("user_id"),
              col("ts").as("p_ts"))
      .withWatermark("p_ts", "10 minutes")
    val c = ev.filter(col("event_type") === "click")
      .select(col("event_id").as("c_id"), col("user_id").as("c_uid"),
              col("ts").as("c_ts"))
      .withWatermark("c_ts", "10 minutes")
    p.join(c,
      col("user_id") === col("c_uid") &&
        col("c_ts") >= col("p_ts") - expr("INTERVAL 10 MINUTES") &&
        col("c_ts") < col("p_ts"),
      "full_outer")
      .select(col("p_id"), col("c_id"))
  }

  /** x252 transform: the [[TimerSessionProcessor]] over the keyed event
    * stream — event-time mode so timers fire off the watermark. */
  def timerSessions(events: DataFrame): Dataset[ClosedSession] = {
    val spark = events.sparkSession
    import spark.implicits._
    events.select(col("user_id"), col("ts"))
      .withWatermark("ts", "10 minutes")
      .as[UserEvent]
      .groupByKey(_.user_id)
      .transformWithState(new TimerSessionProcessor,
        TimeMode.EventTime(), OutputMode.Append())
  }

  /** x252: TIMER-DRIVEN SESSION CLOSE — x19's 30-minute-gap sessionizer
    * rebuilt on `transformWithState` EVENT-TIME TIMERS, the last TWS
    * feature the surface lacked (ValueState/ListState/MapState = x114/
    * x134/x216). Gap-closed sessions emit in the data batch; idle
    * sessions emit when their re-armed last+30min timer fires off the
    * final watermark (the replay's no-data micro-batch — x247's flush
    * device). Per user: closed-session count, events inside them, and the
    * longest closed session. The oracle states the same cutoff rule x19's
    * does (ms-floored watermark, strict <); equivalence of the timer
    * path with the GroupStateTimeout path is StreamingSpec's cross-batch
    * case plus the x19-parity assertion in Round10iSpec. */
  def x252(spark: SparkSession, dir: String): DataFrame =
    runToTable(spark, timerSessions(eventsStream(spark, dir)).toDF(),
               s"x252_sink_${System.nanoTime()}", "append")
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_closed_sessions"),
           sum(col("n_events")).as("n_events"),
           max(col("end_us") - col("start_us")).as("longest_us"))
      .orderBy("user_id")

  /** x240 transform: the [[CepProcessor]] over the keyed event stream —
    * factored out so the MemoryStream spec can drive a boundary-straddling
    * triple across batches (the part the single-batch oracle can't see). */
  def cepMatches(events: DataFrame): Dataset[CepMatches] = {
    val spark = events.sparkSession
    import spark.implicits._
    events.select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withWatermark("ts", "10 minutes")
      .as[TypedEvent]
      .groupByKey(_.user_id)
      .transformWithState(new CepProcessor,
        TimeMode.None(), OutputMode.Update())
  }

  /** x240 entry: on the single-batch replay every user's whole sequence
    * arrives in one handler call (sorted by the x134 (µs, event_id)
    * convention), so the output IS x237's batch answer — the registered
    * oracle is x237's SQL verbatim. The genuinely streaming behavior — a
    * triple split view,click | purchase across batches firing on arrival
    * of the purchase, with O(1) carried state — is pinned in
    * StreamingSpec. */
  def x240(spark: SparkSession, dir: String): DataFrame =
    runToTable(spark, cepMatches(eventsStream(spark, dir)).toDF(),
               s"x240_sink_${System.nanoTime()}", "update")
      .orderBy("user_id")

  /** x149: CHAINED STATEFUL WINDOW AGGREGATIONS — a 10-minute tumbling
    * count per event type re-aggregated to hourly (max, sum) INSIDE the
    * same streaming query: two stateful operators back to back, the
    * multi-stateful-operator pipeline Spark 4 unlocked (`window_time`
    * hands the first window's event-time column to the second window).
    * The pre-Spark-3.5 workaround was two queries glued by a sink — twice
    * the state I/O and no end-to-end exactly-once.
    *
    * Emission semantics (and the oracle): append mode emits a window only
    * once the watermark (max event time − 10 min) passes its end. The
    * AvailableNow replay's trailing no-data batch advances the watermark,
    * which flushes the closed 10-minute windows through BOTH operators in
    * cascade; hour windows whose end exceeds the final watermark stay in
    * state. So the DuckDB twin filters both grains by the SAME watermark:
    * 10-min buckets with end ≤ wm, rolled to hours, hours with end ≤ wm.
    *
    * 100 TB: each operator keeps (window × type)-bounded state and emits
    * once per closed window — state size is a function of watermark delay,
    * not stream length; the second operator's input is the first's
    * AGGREGATE (one row per closed 10-min window per type), so the hourly
    * re-agg shuffles ~1/10⁴ of the event volume. */
  /** The two-stateful-operator chain, factored out so the MemoryStream spec
    * can drive it across batches (cross-batch accumulation + exactly-once
    * flush are what the single-batch oracle cannot witness). */
  def chainedWindows(events: DataFrame): DataFrame =
    events.withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "10 minutes").as("w10"), col("event_type"))
      .agg(count(lit(1)).as("n10"))
      .groupBy(window(window_time(col("w10")), "1 hour").as("wh"),
               col("event_type"))
      .agg(max(col("n10")).as("max_10min"), sum(col("n10")).as("n_events"))

  def x149(spark: SparkSession, dir: String): DataFrame =
    runToTable(spark, chainedWindows(eventsStream(spark, dir)),
               s"x149_sink_${System.nanoTime()}", "append")
      .select(unix_micros(col("wh.start")).as("hour_us"), col("event_type"),
              col("max_10min"), col("n_events"))
      .orderBy("hour_us", "event_type")

  /** x203: STREAMING MODEL SERVING — the fitted Chi-CS model (x06's
    * Estimator artifact) applied to a LIVE stream of examples: fit happens
    * batch-side, then `ChiCSModel.transform` rides the streaming DataFrame
    * as a STATELESS projection (the rule base is a driver-collected ≤ Lⁿ·|C|
    * array broadcast into the scoring closure — the bounded-collect
    * discipline), and one complete-mode aggregation keeps the running
    * confusion matrix. This is the model-serving shape at 100 TB/day: no
    * per-row state, no retraining in the hot path, the only streaming state
    * is the ≤ |classes|² confusion cells.
    *
    * Determinism: single-batch replay (runToTable guard) + the model's
    * q42-identical rounding/tie conventions ⇒ exactly q42's confusion
    * matrix (the same oracle SQL is registered). */
  def x203(spark: SparkSession, dir: String): DataFrame = {
    val train = graft.engine.Tables.lineitem(spark, dir).select(
      col("l_quantity").as("x1"), col("l_discount").as("x2"),
      when(col("l_extendedprice") > 95000, 1).otherwise(0).as("label"))
    val model = new graft.engine.chi.ChiCSClassifier()
      .setFeatureCols(Array("x1", "x2")).setLabelCol("label")
      .setFeatureRanges(Array(1.0, 50.0, 0.0, 0.1))
      .fit(train)
    val staged = stageStreamInput("/tmp/graft_stream_li", dir, "lineitem")
    val schema = graft.engine.Tables.fileSchema(spark, dir, "lineitem")
    val stream = spark.readStream.schema(schema).parquet(staged.toString)
      .select(col("l_quantity").as("x1"), col("l_discount").as("x2"),
              when(col("l_extendedprice") > 95000, 1).otherwise(0).as("label"))
    val confusion = model.transform(stream)
      .groupBy(col("label").cast(LongType).as("actual"),
               col("prediction").cast(LongType).as("predicted"))
      .agg(count(lit(1)).as("n"))
    runToTable(spark, confusion, s"x203_sink_${System.nanoTime()}", "complete")
      .orderBy("actual", "predicted")
  }

}

/** Idempotent latest-wins UPSERT sink for `foreachBatch` — the streaming
  * MERGE INTO pattern on plain parquet (x58's compaction, maintained
  * incrementally by a stream instead of rebuilt by a batch job).
  *
  * Contract: `foreachBatch` guarantees at-least-once delivery with a stable
  * `batchId`; the SINK must make re-delivery harmless. Here every batch
  * merges into the previous committed version and writes an immutable new
  * version directory named BY THE BATCH ID — a retried batch re-derives and
  * overwrites ITS OWN version from the same inputs rather than
  * double-applying, so replays converge to identical state. Readers resolve
  * the highest complete version (`_SUCCESS` present).
  *
  * 100 TB: the merge is one keyed shuffle of |table|+|batch| (the same
  * exchange a MERGE INTO dedup pass costs); versioned-dir commits are how
  * table formats (Delta/Iceberg) structure exactly-once sinks — those add a
  * transaction log where this keeps the minimal parquet-only form. Compaction
  * of old versions is the caller's retention policy. */
object UpsertSink {
  import org.apache.spark.sql.expressions.Window

  private def versions(path: String): Seq[Long] = {
    val d = new java.io.File(path)
    if (!d.exists) Seq.empty
    else d.listFiles.toSeq
      .filter(f => f.isDirectory && f.getName.startsWith("v=") &&
        new java.io.File(f, "_SUCCESS").exists)
      .map(_.getName.stripPrefix("v=").toLong)
  }

  /** The current committed table state (empty schema-less read is the
    * caller's concern before the first commit — returns None then). */
  def read(spark: SparkSession, path: String): Option[DataFrame] =
    versions(path).maxOption.map(v => spark.read.parquet(s"$path/v=$v"))

  /** Latest-wins merge of `batch` into `existing` on (user_id, event_type),
    * newest (ts, event_id) survives — exactly x58's total order. */
  private[graft] def merge(existing: Option[DataFrame], batch: DataFrame): DataFrame = {
    val all = existing.fold(batch)(_.unionByName(batch))
    val w = Window.partitionBy("user_id", "event_type")
      .orderBy(col("ts").desc, col("event_id").desc)
    all.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
  }

  /** The `foreachBatch` body. Usage:
    * `stream.writeStream.foreachBatch(UpsertSink.into(path) _)`. */
  def into(path: String)(batch: DataFrame, batchId: Long): Unit = {
    val spark = batch.sparkSession
    // a retry re-merges against the version BELOW batchId (its own partial
    // prior write is excluded), so the rewrite is a pure function of
    // committed state + batch input
    val base = versions(path).filter(_ < batchId).maxOption
      .map(v => spark.read.parquet(s"$path/v=$v"))
    merge(base, batch).write.mode("overwrite").parquet(s"$path/v=$batchId")
  }
}
