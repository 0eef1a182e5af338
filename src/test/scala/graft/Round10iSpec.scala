package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import java.sql.Timestamp

/** Round-10 ninth batch: x252 timer-driven sessionization. The parity case
  * proves the TWS timer path computes exactly what x19's
  * GroupStateTimeout path computes; the cross-batch case proves the
  * re-arm discipline (a session EXTENDED in a later batch must not be
  * closed by its stale first-batch timer) and that the timer genuinely
  * fires once the watermark passes last+gap.
  */
class Round10iSpec extends AnyFunSuite {
  import TestSpark.{spark, sfSmoke}
  import spark.implicits._

  private def ts(min: Long): Timestamp = new Timestamp(min * 60000L)

  test("x252 ≡ x19 on the single-batch replay (timers ≡ GroupStateTimeout)") {
    // x19 emits (user_id, n_closed_sessions, n_events); x252 adds longest
    val x19 = graft.streaming.StreamingOps.x19(spark, sfSmoke).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val got = graft.streaming.StreamingOps.x252(spark, sfSmoke).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(x19.nonEmpty && got === x19)
  }

  test("x252 timers: stale timer deleted on extension; idle session fires") {
    // transformWithState requires the RocksDB provider — pin it
    val conf = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getAll.get(conf)
    spark.conf.set(conf, graft.streaming.StreamingOps.RocksDbProvider)
    try {
    val mem = MemoryStream[Ev](spark)
    val q = graft.streaming.StreamingOps.timerSessions(mem.toDF).toDF()
      .writeStream.format("memory").queryName("x252_mem")
      .outputMode("append").start()
    def rows() = spark.table("x252_mem").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    // batch 1: user 1 events at t=100,110 (one open session); user 2 at
    // t=100 (another). Nothing closes yet.
    mem.addData(Seq(Ev(1L, ts(100), 1L, "view", 0.0, ""),
                    Ev(2L, ts(110), 1L, "view", 0.0, ""),
                    Ev(3L, ts(100), 2L, "view", 0.0, "")))
    q.processAllAvailable()
    assert(rows().isEmpty)
    // batch 2: user 1 EXTENDS at t=125 (within 30 min of 110 — the stale
    // 110+30 timer must be deleted, not fire); a clock event at t=200
    // pushes the watermark to 190: user 2's 100+30=130 timer fires, and
    // user 1's re-armed 125+30=155 timer fires too. User 3's own session
    // (t=200) stays open.
    mem.addData(Seq(Ev(4L, ts(125), 1L, "view", 0.0, ""),
                    Ev(5L, ts(200), 3L, "view", 0.0, "")))
    q.processAllAvailable()
    mem.addData(Seq.empty[Ev])
    q.processAllAvailable()
    q.stop()
    val us = (m: Long) => m * 60000000L
    assert(rows() === Set(
      (1L, us(100), us(125), 3L), // ONE session: the stale timer did not split it
      (2L, us(100), us(100), 1L)))
    } finally {
      prev match {
        case Some(p) => spark.conf.set(conf, p)
        case None => spark.conf.unset(conf)
      }
    }
  }
}
