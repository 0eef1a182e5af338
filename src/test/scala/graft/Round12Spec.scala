package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** Round-12 specs: the m-chunk map-side Chi ablation (x281) and the
  * theorem-form contracts of the round-12 oracle upgrades. */
class Round12Spec extends AnyFunSuite {
  import TestSpark.{spark, sfSmoke}

  test("x281 m=1 fused rule base IS the global q41 rule base, rule for rule") {
    // the identity theorem: with one chunk, chunk-local weighting and
    // conflict resolution ARE the global computation, so max-RW fusion is
    // a no-op and the fused base must equal q41's (same 6dp output form)
    import spark.implicits._
    val fused = graft.queries.ChiMl.mChunkFusedRb(spark, sfSmoke, 1).toSeq
      .map(r => (r.antecedent(0), r.antecedent(1), r.cls, r.weight))
      .toDF("ra1", "ra2", "rcls", "rw")
      .select(col("ra1").cast("long"), col("ra2").cast("long"),
              col("rcls").cast("long"), round(col("rw"), 6))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toSet
    val global = graft.queries.ChiMl.q41(spark, sfSmoke)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toSet
    assert(fused === global)
  }

  test("x281 report is well-formed at every m and m=1 matches the q43-style readout") {
    val rows = graft.queries.ChiMl.x281(spark, sfSmoke).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.map(_._1).toSeq === Seq(1L, 4L, 16L))
    // ppm values are ratios of counts — bounded by construction
    assert(rows.forall(r => r._2 >= 1 &&
      r._3 >= 0 && r._3 <= 1000000 && r._4 >= 0 && r._4 <= 1000000))
    // chunking never invents antecedents: every chunk's candidates come
    // from that chunk's examples, so the union over chunks is exactly the
    // global candidate set and the fused RB (one rule per antecedent) is
    // bounded by the global distinct-antecedent count — a THEOREM of
    // candidate construction (note the bound is q40's antecedent grid, NOT
    // q41's surviving-rule count: a rule with global RW <= 0 can still win
    // a cleaner chunk, so fused size may exceed q41's)
    val nCandAnts = graft.queries.ChiMl.q40(spark, sfSmoke)
      .select("a1", "a2").distinct().count()
    assert(rows.forall(_._2 <= nCandAnts),
      s"fused RB sizes ${rows.map(_._2).toSeq} vs candidate grid $nCandAnts")
  }

  private def ruleSet(rs: Array[graft.engine.chi.ChiRule]): Set[(Seq[Int], Int, Double)] =
    rs.map(r => (r.antecedent.toSeq, r.cls, r.weight)).toSet

  test("x281's keyed fused bases equal each m's standalone Max fusion, rule for rule") {
    import graft.engine.Mat.MatOps
    import graft.queries.ChiMl
    // one keyed learner over the stacked 16-chunk aggregate must fuse, per
    // m, exactly the base a standalone m-chunk fit fuses
    val gex16 = ChiMl.mChunkGex(spark, sfSmoke, 16).materialized
    val keyed = ChiMl.mChunkBases(gex16, ChiMl.classCounts(gex16), ChiMl.mChunkMaxFused)
    assert(keyed.keySet === Set(1, 4, 16))
    for (m <- Seq(1, 4, 16))
      assert(ruleSet(keyed(m)) === ruleSet(ChiMl.mChunkFusedRb(spark, sfSmoke, m)), s"m=$m")
  }

  test("x308's keyed fused bases equal each m's standalone Ave fusion, rule for rule") {
    import graft.engine.Mat.MatOps
    import graft.queries.ChiMl
    val gex16 = ChiMl.mChunkGex(spark, sfSmoke, 16).materialized
    val keyed = ChiMl.mChunkBases(gex16, ChiMl.classCounts(gex16), ChiMl.mChunkAveFused)
    assert(keyed.keySet === Set(1, 4, 16))
    for (m <- Seq(1, 4, 16)) {
      val gex = ChiMl.mChunkGex(spark, sfSmoke, m)
      val alone = ChiMl.mChunkAveFusedRbFrom(ChiMl.mChunkPartialRb(gex, ChiMl.classCounts(gex)))
        .collect().map(r => (Seq(r.getAs[Int]("ra1"), r.getAs[Int]("ra2")),
                             r.getAs[Int]("rcls"), r.getAs[Double]("rw"))).toSet
      assert(ruleSet(keyed(m)) === alone, s"m=$m")
    }
  }

  test("x281 at sf0.001 runs all three mapper counts in at most 12 Spark jobs") {
    // one learner, one scorer and one confusion aggregate serve every m
    // (three concurrent per-m chains launch 21); the first call warms the
    // JVM's lineitem schema, whose inference is a job of its own
    graft.queries.ChiMl.x281(spark, sfSmoke).collect()
    val jobs = JobCount.launched(spark, "round12-x281-jobs") {
      graft.queries.ChiMl.x281(spark, sfSmoke).collect()
    }
    assert(jobs <= 12, s"x281 launched $jobs Spark jobs")
  }

  private val sf01 = "/root/testdata/sf0.01"

  test("x284 drop rule: dropped = {v | ∃ kept u<v in-cell with cos≥τ}, keepers survive") {
    val out = graft.queries.Clustering.x284(spark, sf01).collect()
    assert(out.nonEmpty, "sf0.01 must surface within-cell near-dups")
    val dropped = out.map(_.getLong(0)).toSet
    val keepers = out.map(r => r.getLong(2)).toSet
    // every row: keeper precedes the drop, similarity clears the threshold
    assert(out.forall(r => r.getLong(2) < r.getLong(0) &&
                           r.getLong(3) >= 400000L))
    // keepers themselves may only be dropped by an EARLIER twin — but the
    // named keeper being dropped while its dependent survives would break
    // idempotence; assert the weaker sound form: a dropped keeper implies
    // that keeper's own keeper is even earlier (chain terminates at a
    // survivor), and no vector names itself
    assert(dropped.intersect(keepers).forall { k =>
      out.find(_.getLong(0) == k).get.getLong(2) < k })
    assert(out.forall(r => r.getLong(0) != r.getLong(2)))
  }

  test("x285 winner/prod cell IS x281's m=1 report (same chain, same fallback)") {
    val abl = graft.queries.ChiMl.x285(spark, sfSmoke).collect()
      .map(r => ((r.getString(0), r.getString(1)),
                 (r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(abl.keySet === Set(("winner", "prod"), ("winner", "min"),
                              ("additive", "prod"), ("additive", "min")))
    assert(abl.values.forall { case (n, a, g) =>
      n >= 1 && a >= 0 && a <= 1000000 && g >= 0 && g <= 1000000 })
    val m1 = graft.queries.ChiMl.x281(spark, sfSmoke)
      .filter(col("m") === 1).collect().head
    assert(abl(("winner", "prod")) ===
      ((m1.getLong(1), m1.getLong(2), m1.getLong(3))))
  }

  test("x286 schedule: dense steps, Bresenham flag, per-source ranks dense from 1") {
    val out = graft.queries.Organize.x286(spark, sfSmoke).collect()
    assert(out.map(_.getLong(0)).toSeq === (1L to out.length).toSeq)
    assert(out.forall(_.getBoolean(6)), "quota_ok must hold on every step")
    // vt non-decreasing along the schedule
    assert(out.map(_.getLong(1)).sliding(2).forall(p => p(0) <= p.last))
    // within the prefix each source's k is exactly 1..count(source)
    out.groupBy(_.getString(2)).foreach { case (_, rows) =>
      assert(rows.map(_.getLong(3)).sorted.toSeq === (1L to rows.length).toSeq)
    }
  }

  test("x287 predictions are non-edges with AA bounded by the cn·term envelope") {
    val out = graft.queries.Graphs.x287(spark, sfSmoke).collect()
    assert(out.nonEmpty)
    val edges = graft.engine.Tables.lineitem(spark, sfSmoke)
      .select(col("l_orderkey").as("o"), col("l_partkey").as("p")).distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).values.flatMap { g =>
        val ps = g.map(_._2).sorted
        for (i <- ps.indices; j <- i + 1 until ps.length) yield (ps(i), ps(j))
      }.toSet
    assert(out.forall(r => !edges.contains((r.getLong(0), r.getLong(1)))),
      "a predicted link must not already be co-ordered")
    // deg ∈ [2, 256] ⇒ each AA term ∈ [10⁶/ln 256, 10⁶/ln 2]; support ≥ 2
    assert(out.forall { r =>
      val cn = r.getLong(2); val aa = r.getLong(3)
      cn >= 2 && aa >= cn * 180337L && aa <= cn * 1442695L })
  }

  test("x288 two-hop lattice rollup equals the flat doc→dataset rollup") {
    val out = graft.queries.Governance.x288(spark, sfSmoke).collect()
    val flat = graft.engine.Tables.documents(spark, sfSmoke)
      .select(col("doc_id"), col("source"),
              expr("CAST(substring(source, 4) AS BIGINT) % 4").as("r"),
              expr("(doc_id DIV 25) % 5").as("ds"))
      .collect().groupBy(_.getLong(3))
    assert(out.nonEmpty)
    out.foreach { row =>
      val ds = row.getLong(0)
      val docs = flat(ds)
      val effRank = docs.map(_.getLong(2)).max
      val worst = docs.filter(_.getLong(2) == effRank).map(_.getString(1)).min
      assert(row.getLong(3) === effRank, s"dataset $ds eff_rank")
      assert(row.getString(6) === worst, s"dataset $ds worst_source")
      assert(row.getLong(7) === docs.count(_.getLong(2) == effRank).toLong)
      assert(row.getBoolean(8) === (effRank > ds % 4))
    }
  }

  test("x290 PPR: conservation flag, positive masses, total order") {
    val out = graft.queries.Graphs.x290(spark, sfSmoke).collect()
    assert(out.nonEmpty && out.length <= 20)
    assert(out.forall(_.getBoolean(2)), "mass_conserved must hold")
    assert(out.forall(_.getLong(1) > 0))
    val masses = out.map(_.getLong(1)).toSeq
    assert(masses === masses.sortBy(-_), "descending mass order")
  }

  test("x291 encoding is the exact complement mean, recomputed from raw rows") {
    val raw = graft.engine.Tables.orders(spark, sfSmoke)
      .select(col("o_orderpriority"),
              expr("((o_orderkey % 100000000) * 2654435761 + 97564181)" +
                   " % 2147483647 % 5").as("fold"),
              when(col("o_totalprice") > 150000, 1L).otherwise(0L).as("pos"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val out = graft.queries.Features.x291(spark, sfSmoke).collect()
    val nAll = raw.length.toLong
    val posAll = raw.map(_._3).sum
    out.foreach { r =>
      val (cat, fold) = (r.getString(0), r.getLong(1))
      val inCat = raw.filter(_._1 == cat)
      val inFold = inCat.filter(_._2 == fold)
      val (nTot, posTot) = (inCat.length.toLong, inCat.map(_._3).sum)
      val (nF, posF) = (inFold.length.toLong, inFold.map(_._3).sum)
      assert(r.getLong(2) === nF)
      val expected =
        if (nTot > nF) (posTot - posF) * 1000000L / (nTot - nF)
        else (posAll - posF) * 1000000L / (nAll - nF)
      assert(r.getLong(3) === expected, s"oof_ppm for ($cat, $fold)")
      assert(r.getBoolean(4) === (nTot == nF))
    }
  }

  test("x292 maintained view matches a JVM recompute and flags all-green") {
    val out = graft.queries.Organize4.x292(spark, sfSmoke).collect()
    assert(out.nonEmpty)
    assert(out.forall(_.getBoolean(3)), "ivm_ok must hold on every segment")
    val seg = graft.engine.Tables.orders(spark, sfSmoke)
      .join(graft.engine.Tables.customer(spark, sfSmoke),
            col("o_custkey") === col("c_custkey"))
      .groupBy("c_mktsegment").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    out.foreach(r => assert(r.getLong(1) === seg(r.getString(0))))
  }

  test("x293 mix: Hamilton exactness and weight monotone in surprisal") {
    val out = graft.queries.Wrangle.x293(spark, sfSmoke).collect()
    assert(out.map(_.getLong(4)).sum === 1000000L)
    assert(out.forall(_.getBoolean(5)))
    assert(out.forall(_.getBoolean(6)))
    val bySurp = out.sortBy(r => (r.getLong(2), r.getString(0)))
    assert(bySurp.map(_.getLong(3)).toSeq ===
      bySurp.map(_.getLong(3)).sortBy(identity).toSeq,
      "exp upweighting must be monotone in surprisal")
  }

  test("x294 support equals a JVM first-occurrence recount") {
    val firsts = graft.engine.Tables.events(spark, sfSmoke)
      .groupBy("user_id", "event_type").agg(min(col("ts")).as("t0"))
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getTimestamp(2).getTime))
    val byUser = firsts.toSeq.groupBy(_._1)
    val expected = byUser.values.toSeq.flatMap { ts =>
      for (x <- ts; y <- ts if x._2 != y._2 && x._3 < y._3)
        yield (x._2, y._2)
    }.groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    val out = graft.queries.Analytics.x294(spark, sfSmoke).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      assert(r.getLong(2) === expected((r.getString(0), r.getString(1))))
      assert(r.getLong(4) === r.getLong(2) * 1000000L / r.getLong(3))
    }
    assert(out.length === expected.size)
  }

  test("x295 pacing: coverage + completion flags, bucket arithmetic consistent") {
    val out = graft.queries.Curation.x295(spark, sfSmoke).collect()
    assert(out.nonEmpty)
    assert(out.forall(_.getBoolean(4)) && out.forall(_.getBoolean(5)))
    val n = graft.engine.Tables.documents(spark, sfSmoke).count()
    assert(out.map(_.getLong(1)).sum === n)
    out.foreach { r =>
      assert(r.getLong(2) <= r.getLong(3))
      assert(r.getLong(2) / 1000L === r.getLong(0))
      assert(r.getLong(3) / 1000L === r.getLong(0))
      assert(r.getLong(3) <= 10000L)
    }
  }

  test("x296 context fill: rank-ordered greedy, exact running totals, dup-free") {
    val out = graft.queries.Clustering.x296(spark, sfSmoke).collect()
    assert(out.nonEmpty)
    out.groupBy(_.getString(0)).foreach { case (_, rows) =>
      val sorted = rows.sortBy(_.getLong(1))
      assert(sorted.map(_.getLong(1)).toSeq === (1L to sorted.length).toSeq)
      // scores non-increasing down the ranking
      val sc = sorted.map(_.getLong(3)).toSeq
      assert(sc === sc.sortBy(-_))
      // running total is the exact prefix sum; admission is the 512 cut
      var cum = 0L
      sorted.foreach { r =>
        cum += r.getLong(4)
        assert(r.getLong(5) === cum)
        assert(r.getBoolean(6) === (cum <= 512L))
      }
      // no document admitted twice within a query
      val ids = sorted.map(_.getLong(2))
      assert(ids.distinct.length === ids.length)
    }
  }

  test("x297 minimax fit equals a classic JVM pool-adjacent-violators replay") {
    val out = graft.queries.StatProtocol.x297(spark, sfSmoke).collect()
    assert(out.nonEmpty)
    assert(out.forall(_.getBoolean(5)), "fit must be monotone")
    // classic PAVA on the same (n, pos) bins, rational compares
    val binsSorted = out.sortBy(_.getLong(0))
    var stack = List.empty[(Long, Long, Int)] // (n, pos, width)
    binsSorted.foreach { r =>
      var top = (r.getLong(1), r.getLong(2), 1)
      while (stack.nonEmpty &&
             stack.head._2 * top._1 >= top._2 * stack.head._1) {
        val h = stack.head; stack = stack.tail
        top = (h._1 + top._1, h._2 + top._2, h._3 + top._3)
      }
      stack = top :: stack
    }
    val fits = stack.reverse.flatMap { case (n, pos, w) =>
      Seq.fill(w)(pos * 1000000L / n) }
    assert(binsSorted.map(_.getLong(4)).toSeq === fits,
      "minimax closed form must equal PAVA's pooled means (floored)")
  }

  test("x289 allocation: Hamilton exactness, isqrt bracketing, Cauchy–Schwarz flag") {
    val out = graft.queries.StatProtocol.x289(spark, sfSmoke).collect()
    assert(out.map(_.getLong(4)).sum === 100L)
    assert(out.forall(_.getBoolean(5)))
    assert(out.forall(_.getBoolean(6)))
    assert(out.forall { r =>
      val v = r.getLong(2); val w = r.getLong(3)
      w * w <= v && v < (w + 1) * (w + 1) })
  }
}
