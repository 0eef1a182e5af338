package graft.engine

import org.apache.spark.sql.DataFrame

/** Scale-safe intra-query materialization (optimization guide §5; VERDICT
  * r15 task 2).
  *
  * Operators materialize shared intermediates (shingle frames, distinct-
  * vector aggregates, per-round graph frontiers) so N consumers pay one
  * computation. The primitive used through round 15 was
  * `localCheckpoint(eager = true)`, which stores UNREPLICATED blocks on
  * executor-local storage AND truncates lineage — on a multi-node cluster an
  * executor loss therefore kills the whole query (nothing can recompute the
  * lost blocks), which is the wrong default for corpus-scale frames at
  * 100 TB.
  *
  * [[materialize]] keeps the same eager-materialization semantics behind one
  * engine-level switch:
  *
  *   - `local` — `localCheckpoint(true)`. In `local[*]` masters this is
  *     exactly as fault-tolerant as any alternative (executors live in the
  *     driver JVM; losing one loses the session), and it is the fastest
  *     store (deserialized memory blocks, spill to disk). Chosen
  *     automatically when the master is local.
  *   - `reliable` — `checkpoint(eager = true)` into the session's checkpoint
  *     directory. The RDD is written to (shared, replicated) storage, so a
  *     lost executor re-reads the checkpoint files instead of failing the
  *     query — the cluster-safe posture. Chosen automatically on non-local
  *     masters, which must have a checkpoint dir on durable shared storage
  *     (`spark.checkpoint.dir` or `SparkContext.setCheckpointDir`): without
  *     one [[materialize]] throws instead of writing to a node-local temp
  *     dir that other executors cannot read.
  *
  * Deliberately NOT `persist()`: persisted plans register in the session's
  * CacheManager, which matches by logical plan — a second execution of the
  * same query in one session (exactly what the bench's median-of-3 does)
  * would silently reuse the first run's blocks, i.e. result caching across
  * runs. Both checkpoint flavors materialize fresh per invocation.
  */
object Mat {
  /** The store [[materialize]] uses for a master: `local` on a local
    * master, `reliable` on any other one that has a checkpoint dir. */
  private[graft] def mode(isLocal: Boolean, checkpointDir: Option[String]): String =
    if (isLocal) "local"
    else if (checkpointDir.isDefined) "reliable"
    else throw new IllegalStateException(
      "Mat.materialize on a non-local master needs a checkpoint dir on " +
        "shared storage: call SparkContext.setCheckpointDir (or set " +
        "spark.checkpoint.dir) before running graft operators")

  def materialize(df: DataFrame): DataFrame = {
    val sc = df.sparkSession.sparkContext
    mode(sc.isLocal, sc.getCheckpointDir) match {
      case "reliable" => df.checkpoint(true)
      case _ => df.localCheckpoint(true)
    }
  }

  /** `df.materialized` — the operator-body spelling of [[materialize]]. */
  implicit class MatOps(private val df: DataFrame) extends AnyVal {
    def materialized: DataFrame = Mat.materialize(df)
  }
}
