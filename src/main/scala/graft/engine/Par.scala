package graft.engine

import java.util.concurrent.Executors
import scala.concurrent.duration.Duration
import scala.concurrent.{Await, ExecutionContext, Future}

/** Concurrent driver-side job submission (optimization guide §2.6): Spark's
  * scheduler happily runs several jobs at once inside one application —
  * actions are only sequential because driver code calls them sequentially.
  * Operators whose construction runs INDEPENDENT eager work (seeded k-means
  * fits, multi-variant estimator fits, eager checkpoints of disjoint
  * sub-chains) submit the pieces through [[all]]/[[two]] so later jobs'
  * tasks back-fill cores freed by earlier jobs' stragglers instead of
  * waiting for a fully-drained scheduler between every fit.
  *
  * Results are UNCHANGED by construction: every thunk is a pure function of
  * its own (deterministic) input — same data, same layout, same seed — and
  * the default FIFO scheduler only interleaves the independent jobs'
  * stages; no thunk reads another's output. Thread-locals (job
  * descriptions/groups) are per-thread, so concurrent thunks cannot clobber
  * each other's labels either.
  */
object Par {
  // unbounded cached pool: thunks block on Spark actions most of their
  // life, so a fixed pool sized to cores would deadlock nested Par calls
  // (an outer thunk waiting on inner fits would hold a slot the inner fit
  // needs). Daemon threads — never block JVM exit.
  private lazy val pool: ExecutionContext =
    ExecutionContext.fromExecutorService(
      Executors.newCachedThreadPool { r =>
        val t = new Thread(r, "graft-par"); t.setDaemon(true); t
      })

  /** Bounded await (VERDICT r15 task 8): `Duration.Inf` meant a hung fit
    * hung the whole operator with no diagnostic. Generous: a concurrent
    * sub-fit that needs an hour is a bug, not a workload. */
  private val timeout: Duration = Duration(3600L, "s")

  /** Await a combined future so the FIRST failure propagates as soon as it
    * happens (awaiting the futures one by one sat on thunk 0 while thunk 3
    * had already failed — the failure surfaced only minutes later). The
    * failed `Future.sequence` carries the thunk's own exception as cause. */
  private def result[T](f: Future[T]): T =
    try Await.result(f, timeout)
    catch {
      case e: java.util.concurrent.TimeoutException =>
        throw new RuntimeException(
          s"Par: concurrent job exceeded $timeout", e)
    }

  /** Run every thunk concurrently; return results in input order. */
  def all[T](thunks: Seq[() => T]): Seq[T] = {
    implicit val ec: ExecutionContext = pool
    result(Future.sequence(thunks.map(t => Future(t()))))
  }

  /** Two heterogeneous thunks concurrently. */
  def two[A, B](a: () => A, b: () => B): (A, B) = {
    implicit val ec: ExecutionContext = pool
    result(Future(a()).zip(Future(b())))
  }
}
