package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{Expression, MonotonicallyIncreasingID, SparkPartitionID}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.window.{WindowExec, WindowGroupLimitExec}
import org.apache.spark.sql.execution.{GlobalLimitExec, LocalTableScanExec, TakeOrderedAndProjectExec}
import org.scalatest.funsuite.AnyFunSuite

/** Registry-wide guards — two structural invariants asserted over EVERY
  * registered query, so a future operator cannot regress them behind a
  * log-only warning, plus two source-tree guards on the engine's
  * configuration surface:
  *
  * 1. SINGLE-PARTITION WINDOWS. `WindowExec` with an empty partition spec
  *    funnels its whole input through one task ("No Partition Defined"
  *    warning) — fine over provably bounded rows, fatal over row-scale data
  *    at 100 TB. The guard: every unpartitioned window in every registered
  *    plan must sit above a BOUNDED subtree — one containing an aggregate
  *    (output ≤ group-key cardinality: vocab, types, priorities, shuffle
  *    partition ids), a global limit / top-k, or a local relation. Corpus-
  *    sized ranks must instead use the two-phase [[graft.engine.Ranks]]
  *    shape (pinned separately in PlanSpec x95).
  *
  * 2. DETERMINISM UNDER RETRY. A failed task is re-executed; any
  *    non-deterministic expression may then produce different output on the
  *    retry, silently breaking the oracle hash compare. The guard: across
  *    every registered query's optimized plan, the ONLY non-deterministic
  *    expressions allowed are `MonotonicallyIncreasingID` and
  *    `SparkPartitionID`, and only in
  *    the keys that route through [[graft.engine.Ranks]] — where the
  *    documented contract (total order + deterministic lineage, see
  *    Ranks.scala) cancels the raw id out of the result. Anything else
  *    (rand, uuid, shuffle, an ML transform smuggling a salted udf) fails
  *    the suite by name.
  *
  * 3. ONE CONFIGURATION. The engine reads exactly the documented
  *    `SPARK_GRAFT_*` deployment settings from the environment, and no
  *    dev main lives among the operator bodies under `graft/queries/`.
  *    Anything a deployer tunes beyond these is a Spark conf they set
  *    directly.
  */
class RegistryGuardSpec extends AnyFunSuite {
  import TestSpark.{spark, sfSmoke}

  /** Build each registered DataFrame ONCE (streaming keys run their stream
    * at construction; x113 performs its one-time bucketed ingest) and keep
    * both plan views. Lazy so suite-filtering does not pay for it. */
  private lazy val plans: Seq[(String, DataFrame)] =
    SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      name -> fn(spark, sfSmoke)
    }

  /** Bounded-row evidence below an unpartitioned window: an aggregate
    * (rows ≤ distinct group keys), a global limit / top-k, or a local
    * relation. Joins/unions of bounded inputs stay bounded, so finding any
    * such node anywhere below the window is sufficient for the sizes these
    * windows see (each input branch here IS the bounded one). */
  private def bounded(p: SparkPlan): Boolean =
    p.find {
      case _: BaseAggregateExec => true
      case _: GlobalLimitExec => true
      case _: TakeOrderedAndProjectExec => true
      case _: LocalTableScanExec => true
      case _ => false
    }.isDefined

  test("no registered query runs an unpartitioned window over unbounded rows") {
    val offenders = plans.flatMap { case (name, df) =>
      val plan = df.queryExecution.sparkPlan
      val unbounded = plan.collect {
        case w: WindowExec if w.partitionSpec.isEmpty && !bounded(w.child) => w
        case w: WindowGroupLimitExec if w.partitionSpec.isEmpty && !bounded(w.child) => w
      }
      if (unbounded.isEmpty) None
      else Some(s"$name: ${unbounded.map(_.nodeName).mkString(",")}")
    }
    assert(offenders.isEmpty,
      s"unpartitioned windows over unbounded input:\n${offenders.mkString("\n")}")
  }

  /** Keys whose plans carry MonotonicallyIncreasingID via the Ranks
    * two-phase rank/prefix-sum (TextOps x36 vocab ids, Stats x89/x95/x99,
    * Curation x130). Each satisfies the Ranks caller contract: parquet
    * lineage (deterministic), total order with unique tiebreak. */
  private val ranksKeys = Set(
    "x36_vocab_build", "x56_encode_tokens", "x89_ks_drift", "x95_rrf_fusion",
    "x99_revenue_pareto", "x130_quantile_normalize", "x259_training_shuffle",
    "x277_shard_packing", "x278_padding_audit", "x295_curriculum_pacing",
    "x307_prefix_cache_order")

  /** x239's skyline prune keys its partition-LOCAL staircase window by
    * spark_partition_id — the one sanctioned use beyond Ranks: the merge
    * theorem skyline(A∪B) = skyline(skyline(A)∪skyline(B)) makes the
    * RESULT provably invariant to the partitioning (Round10eSpec proves it
    * on arbitrary 3-way splits; the 4-partition verify leg exercises it
    * end to end). */
  private val skylineKeys = Set("x239_skyline_suppliers")

  test("no non-deterministic expression outside the documented Ranks keys") {
    val offenders = plans.flatMap { case (name, df) =>
      val plan = df.queryExecution.optimizedPlan
      // innermost non-deterministic nodes (a parent is non-deterministic
      // whenever any child is — collecting leaves names the actual culprit)
      val nonDet: Seq[Expression] = plan.collect { case node =>
        node.expressions.flatMap(_.collect {
          case e if !e.deterministic && e.children.forall(_.deterministic) => e
        })
      }.flatten
      // the Ranks shape carries exactly two non-deterministic primitives:
      // monotonically_increasing_id (local index) and spark_partition_id
      // (the offset key) — both cancelled out of the result by the contract
      val disallowed = nonDet.filterNot(e =>
        ((e.isInstanceOf[MonotonicallyIncreasingID] ||
          e.isInstanceOf[SparkPartitionID]) && ranksKeys.contains(name)) ||
        (e.isInstanceOf[SparkPartitionID] && skylineKeys.contains(name)))
      if (disallowed.isEmpty) None
      else Some(s"$name: ${disallowed.map(_.getClass.getSimpleName).distinct.mkString(",")}")
    }
    assert(offenders.isEmpty,
      s"non-deterministic expressions found:\n${offenders.mkString("\n")}")
  }

  private def mainSources(under: String): Seq[java.io.File] = {
    val root = new java.io.File(under)
    assert(root.isDirectory, s"$under not visible from the test cwd")
    def files(d: java.io.File): Seq[java.io.File] =
      d.listFiles.toSeq.flatMap(f => if (f.isDirectory) files(f) else Seq(f))
    files(root).filter(_.getName.endsWith(".scala"))
  }

  private def read(f: java.io.File): String =
    new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")

  test("the engine reads exactly the five documented SPARK_GRAFT_* env settings") {
    val named = """(?:sys\.env(?:\.\w+)?|System\.getenv)\(\s*"([^"]+)"""".r
    val reads = mainSources("src/main/scala").flatMap { f =>
      read(f).linesIterator.filter(l => l.contains("sys.env") || l.contains("getenv"))
        .map(l => named.findFirstMatchIn(l).fold(s"<unnamed read in ${f.getName}>")(_.group(1)))
    }.toSet
    assert(reads === Set("SPARK_GRAFT_SF_DIR", "SPARK_GRAFT_CPUS",
      "SPARK_GRAFT_DETAIL_OUT", "SPARK_GRAFT_STREAM_PARTITIONS",
      "SPARK_GRAFT_MICRO_RUNS"))
  }

  test("no main lives among the operator bodies under graft/queries") {
    val mains = mainSources("src/main/scala/graft/queries")
      .filter(f => read(f).contains("def main(")).map(_.getName)
    assert(mains.isEmpty, s"dev mains belong in graft.examples: $mains")
  }
}
