package graft.engine

import java.util.concurrent.Executors
import scala.concurrent.duration.Duration
import scala.concurrent.{Await, ExecutionContext, Future}

import org.apache.spark.SparkContext
import org.apache.spark.sql.SparkSession

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
  * stages; no thunk reads another's output. Job labels are inheritable
  * thread-locals that a cached pool thread would keep from its creator, so
  * each thunk runs under the CALLER's job group, description and tags.
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

  /** One call's thunks. Each thunk's jobs carry a job tag of its own plus
    * the caller's tags (so a nested `Par`'s jobs are cancelled with the
    * thunk that started them); tags add to the thread's job group, never
    * replace it. */
  private final class Batch {
    private val sc: Option[SparkContext] =
      SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession).map(_.sparkContext)
    private val inherited = sc.map(_.getJobTags()).getOrElse(Set.empty[String])
    // the caller's setJobGroup / setJobDescription labels
    private val labels = sc.toSeq.flatMap(c => Seq("spark.jobGroup.id",
      "spark.job.description", "spark.job.interruptOnCancel").map(k => k -> c.getLocalProperty(k)))
    private val tags = scala.collection.mutable.ArrayBuffer.empty[String]

    def fork[T](t: () => T): Future[T] = {
      val tag = s"graft-par-${java.util.UUID.randomUUID()}"
      tags += tag
      Future(sc match {
        case None => t()
        case Some(c) =>
          // set exactly the caller's labels and ours (null unsets a key)
          labels.foreach { case (k, v) => c.setLocalProperty(k, v) }
          c.clearJobTags(); c.addJobTags(inherited + tag)
          try t() finally { c.clearJobTags(); labels.foreach(l => c.setLocalProperty(l._1, null)) }
      })(pool)
    }

    /** Await the combined future so the FIRST failure propagates as soon
      * as it happens (awaiting the futures one by one sat on thunk 0 while
      * thunk 3 had already failed — the failure surfaced only minutes
      * later); the failed `Future.sequence` carries the thunk's own
      * exception as cause. On a failure or the timeout the siblings' jobs
      * are cancelled: nobody reads their results, and they would hold the
      * cores until done. */
    def await[T](f: Future[T]): T =
      try Await.result(f, timeout)
      catch {
        case e: Throwable =>
          sc.foreach(c => tags.foreach(c.cancelJobsWithTag(_, "Par: a sibling failed")))
          e match {
            case _: java.util.concurrent.TimeoutException =>
              throw new RuntimeException(s"Par: concurrent job exceeded $timeout", e)
            case _ => throw e
          }
      }
  }

  /** Run every thunk concurrently; return results in input order. */
  def all[T](thunks: Seq[() => T]): Seq[T] = {
    implicit val ec: ExecutionContext = pool
    val b = new Batch
    b.await(Future.sequence(thunks.map(b.fork(_))))
  }

  /** Two heterogeneous thunks concurrently. */
  def two[A, B](a: () => A, b: () => B): (A, B) = {
    val p = new Batch
    p.await(p.fork(a).zip(p.fork(b)))
  }
}
