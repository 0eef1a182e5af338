package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** Round-14 operator contracts: x308 Ave fusion. */
class Round14Spec extends AnyFunSuite {
  import TestSpark.{spark, sfSmoke}

  test("x308 m=1 degeneracy: Ave report == Max report when there is one chunk") {
    // With a single chunk there is nothing to average or maximize over —
    // both reducers emit the mapper's resolved RB (Ave modulo its micro
    // quantization of rw, which the ppm-grain report absorbs).
    val ave = graft.queries.ChiMl.x308(spark, sfSmoke)
      .filter(col("m") === 1).collect().map(_.toSeq).toSeq
    val max = graft.queries.ChiMl.x281(spark, sfSmoke)
      .filter(col("m") === 1).collect().map(_.toSeq).toSeq
    assert(ave === max)
  }

  test("x308 golden report at sf0.001 (pins the Ave arithmetic in JVM)") {
    // hand-recorded from the oracle-green round-14 run: any drift in the
    // quantization, lcm-scaled comparison, or scoring shows here first
    val rows = graft.queries.ChiMl.x308(spark, sfSmoke).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSeq
    assert(rows === Seq(
      (1L, 9L, 485000L, 522229L),
      (4L, 9L, 686833L, 466946L),
      (16L, 9L, 671833L, 473106L)))
  }

  test("x308 planted conflict: Ave flips the consequent Max picks") {
    import spark.implicits._
    // One antecedent cell (grid-point vector x1=1.0, x2=0.0 → memberships
    // are exactly 1, so weights reduce to cost·multiplicity), three
    // chunks: chunks 0 and 1 learn class 1 (chunk-local rw ≈ 0.746 and
    // 0.068), chunk 2 learns class 0 (rw ≈ 0.679). Max keeps the single
    // most optimistic rule → class 1 (0.746); Ave averages class 1 to
    // ≈ 0.407, below class 0's 0.679 → class 0. The planted conflict is
    // the operator's reason to exist.
    val gex = Seq(
      (0, 1.0, 0.0, 0, 0, 1, 9L), (0, 1.0, 0.0, 0, 0, 0, 1L),
      (1, 1.0, 0.0, 0, 0, 1, 6L), (1, 1.0, 0.0, 0, 0, 0, 4L),
      (2, 1.0, 0.0, 0, 0, 1, 2L), (2, 1.0, 0.0, 0, 0, 0, 8L)
    ).toDF("chunk", "x1", "x2", "a1", "a2", "cls", "mcnt").withColumn("mappers", lit(3))
    val partial = graft.queries.ChiMl.mChunkPartialRb(gex, graft.queries.ChiMl.classCounts(gex))
    val maxRb = graft.queries.ChiMl.mChunkMaxFused(partial)(3).toSeq
      .map(r => (r.antecedent(0), r.antecedent(1), r.cls, r.weight))
      .toDF("ra1", "ra2", "rcls", "rw").collect()
    val aveRb = graft.queries.ChiMl.mChunkAveFusedRbFrom(partial).collect()
    assert(maxRb.length === 1 && aveRb.length === 1)
    assert(maxRb.head.getAs[Int]("rcls") === 1)
    assert(aveRb.head.getAs[Int]("rcls") === 0)
    // Ave's winning weight is chunk 2's rw quantized to micro-units
    assert(math.abs(aveRb.head.getAs[Double]("rw") - 0.679012) < 1e-6)
  }

  test("x309 fp flag: planted duplicate passage flagged; over-flag-only vs gram truth") {
    import spark.implicits._
    val passage = (1 to 15).map(i => s"tok$i").mkString(" ")
    val docs = Seq(
      (1L, s"alpha $passage omega"),
      (2L, s"beta gamma $passage"),
      (3L, "entirely unrelated words " + (1 to 12).map(i => s"u$i").mkString(" "))
    ).toDF("doc_id", "text")
    val flagged = graft.queries.LlmExt2.x309FpFlagged(docs, 13)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // the 15-token shared passage has three 13-token windows per doc,
    // at offsets 1..3 in doc 1 and 2..4 in doc 2 (0-based window starts)
    val expected = Set((1L, 1L), (1L, 2L), (1L, 3L),
                       (2L, 2L), (2L, 3L), (2L, 4L))
    // completeness (the theorem direction): every gram-duplicated window
    // is fp-flagged. The fp side may only ADD positions on a collision —
    // none occurs on this corpus, so equality holds exactly here.
    assert(flagged === expected)
  }

  test("x309 registered key: fp_ok true on every row at sf0.001") {
    val rows = graft.queries.LlmExt2.x309(spark, sfSmoke).collect()
    assert(rows.forall(_.getAs[Boolean]("fp_ok")))
  }

  test("x311 production-k SemDeDup: scaled k, per-row contract, determinism") {
    val rows = graft.queries.Clustering.x311(spark, sfSmoke).collect()
    // 500 vectors at sf0.001 → k = max(8, 500/25) = 20, hash-pinned
    assert(rows.nonEmpty && rows.forall(_.getAs[Long]("k") === 20L))
    // per-row contract (x284's, at the scaled k): keeper is an EARLIER
    // vector, similarity at or above the 0.40 drop threshold, cell id
    // within the scaled centroid range
    rows.foreach { r =>
      assert(r.getAs[Long]("keeper") < r.getAs[Long]("vec_id"))
      assert(r.getAs[Long]("cos_micro") >= 400000L)
      assert(r.getAs[Long]("cell") >= 0L && r.getAs[Long]("cell") < 20L)
    }
    // determinism: the chain at the same k reproduces the same drop set
    // (idempotence on survivors then follows from the x284 argument —
    // Round12Spec — unchanged by the cell count)
    val again = graft.queries.Clustering.semDedupAt(spark, sfSmoke, 20)
      .collect().map(_.getAs[Long]("vec_id")).toSet
    assert(again === rows.map(_.getAs[Long]("vec_id")).toSet)
  }

  test("x312 secret scan: every planted credential caught, no natural false positives here") {
    val rows = graft.queries.TextOps.x312(spark, sfSmoke).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Boolean]("all_planted_caught"))
      assert(r.getAs[Long]("caught_planted") === r.getAs[Long]("n_planted"))
      // the synthetic corpus has no natural >= 16-char alnum tokens, so
      // every flagged token IS a planted one (on a real corpus the delta
      // is the natural secret mass the audit exists to report)
      assert(r.getAs[Long]("n_flagged_tokens") === r.getAs[Long]("n_planted"))
    }
    assert(rows.map(_.getAs[Long]("n_planted")).sum > 0)
  }

  test("x313 FIM transform: exact thirds replay and conservation at sf0.001") {
    val rows = graft.queries.Organize.x313(spark, sfSmoke).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Long]("conserve_ok") === 1L)
      // tokens_out = tokens_in + 3 sentinels per FIM doc, summed
      assert(r.getAs[Long]("tokens_out") ===
        r.getAs[Long]("tokens_in") + 3L * r.getAs[Long]("n_fim_docs"))
      // source = doc_id mod 20 on this corpus, so a source's docs share
      // parity: every source is either ALL-FIM (middle ≈ 1/3 of its
      // mass — ⌊2n/3⌋−⌊n/3⌋ is within ±1 of n/3 per doc) or NO-FIM
      // (middle exactly 0)
      val frac = r.getAs[Long]("mid_frac_ppm")
      val allFim = r.getAs[Long]("n_fim_docs") === r.getAs[Long]("n_docs")
      if (allFim)
        assert(frac > 300000L && frac < 366667L,
          s"all-FIM source mid fraction $frac ppm outside the ~1/3 band")
      else {
        assert(r.getAs[Long]("n_fim_docs") === 0L,
          "sources on this corpus must be parity-pure")
        assert(frac === 0L && r.getAs[Long]("middle_tokens") === 0L)
      }
    }
    // hand replay on one shape: n=7 → a=2, b=4 → P=2, M=2, S=3 tokens
    assert((7L / 3, 14L / 3) === (2L, 4L))
  }

  test("x314 epoch allocation: exact JVM water-filling replay + theorems") {
    val rows = graft.queries.Organize.x314(spark, sfSmoke).collect()
      .map(r => (r.getAs[String]("source"), r.getAs[Long]("t"),
                 r.getAs[Long]("cap"), r.getAs[Long]("alloc"),
                 r.getAs[Boolean]("capped"), r.getAs[Boolean]("conserve_ok")))
      .sortBy(_._1)
    assert(rows.nonEmpty && rows.forall(_._6), "conservation flag must hold")
    rows.foreach { case (_, t, cap, alloc, capped, _) =>
      assert(cap === 11L * t / 10L)
      assert(alloc <= cap && alloc >= 0L)
      assert(capped === (alloc === cap))
    }
    // plain-Scala replay of the 24-round fold from the same (source, t)
    val ts = rows.map { case (s, t, _, _, _, _) => (s, t) }
    val b = 5L * ts.map(_._2).sum / 4L
    val caps = ts.map { case (s, t) => s -> 11L * t / 10L }.toMap
    var alloc = ts.map { case (s, _) => s -> 0L }.toMap
    for (_ <- 1 to 24) {
      val unc = ts.collect { case (s, _) if alloc(s) < caps(s) => s }
      if (unc.nonEmpty) {
        val share = (b - alloc.values.sum) / unc.size
        alloc = alloc.map { case (s, a) =>
          s -> (if (alloc(s) < caps(s))
                  a + math.max(0L, math.min(share, caps(s) - a))
                else a)
        }
      }
    }
    rows.foreach { case (s, _, _, a, _, _) => assert(a === alloc(s), s) }
  }
}
