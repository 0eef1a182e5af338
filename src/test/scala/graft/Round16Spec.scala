package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** Round-16 optimization contracts: every device this round introduced is
  * pinned by an equivalence or behavior test so a later change can't
  * silently regress it. */
class Round16Spec extends AnyFunSuite {
  import TestSpark.{spark, sfSmoke}

  // ---------------------------------------------------------------- Par

  test("Par.all propagates a failing thunk promptly, with its own cause") {
    val t0 = System.nanoTime()
    val e = intercept[Exception] {
      graft.engine.Par.all(Seq(
        () => { Thread.sleep(20000); 1 },
        () => throw new IllegalStateException("boom-r16")))
    }
    val waited = (System.nanoTime() - t0) / 1e9
    // the failure must surface as soon as it happens, not after the slow
    // sibling finishes (the r15 form awaited thunk 0 first)
    assert(waited < 10.0, s"failure took $waited s to surface")
    def causes(t: Throwable): Seq[Throwable] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).take(5).toSeq
    assert(causes(e).exists(_.getMessage == "boom-r16"))
  }

  test("Par.two returns both results") {
    assert(graft.engine.Par.two(() => 1, () => "a") === ((1, "a")))
  }

  test("Par.all cancels the siblings' jobs on the first failure") {
    import scala.concurrent.{Await, Promise}
    import scala.concurrent.duration._
    val sc = spark.sparkContext
    val sleepS = 30L
    val sibling = Promise[Array[Int]]()
    val t0 = System.nanoTime()
    val e = intercept[Exception] {
      graft.engine.Par.all(Seq(
        () => sibling.complete(scala.util.Try(sc.parallelize(1 to 2, 2).map { i =>
          // sleeps out its time unless the job is cancelled
          val tc = org.apache.spark.TaskContext.get()
          val end = System.nanoTime() + sleepS * 1000000000L
          while (System.nanoTime() < end && !tc.isInterrupted()) Thread.sleep(50)
          i
        }.collect())),
        () => {
          // fail once the sibling's job is running
          val deadline = System.nanoTime() + 10000000000L
          while (sc.statusTracker.getActiveJobIds().isEmpty && System.nanoTime() < deadline)
            Thread.sleep(20)
          throw new IllegalStateException("boom-cancel")
        }))
    }
    assert(e.getMessage == "boom-cancel", e)
    val failedS = (System.nanoTime() - t0) / 1e9
    assert(failedS < 10.0, s"failure took $failedS s to surface")
    // the sibling's job is cancelled, not left to sleep out its 30 s
    val outcome = scala.util.Try(Await.ready(sibling.future, 10.seconds))
    assert(outcome.isSuccess, "the sibling's job was left running")
    assert(sibling.future.value.get.isFailure, "the sibling's job must be cancelled")
  }

  test("Par thunks run under the caller's current job group, not a pool thread's stale one") {
    val sc = spark.sparkContext
    def groupSeenUnder(g: String): Seq[String] = {
      sc.setJobGroup(g, s"desc-$g")
      try graft.engine.Par.all(Seq(() => sc.getLocalProperty("spark.jobGroup.id"),
                                   () => sc.getLocalProperty("spark.job.description")))
      finally sc.clearJobGroup()
    }
    assert(groupSeenUnder("g1") === Seq("g1", "desc-g1"))
    // the same (cached) pool threads serve the second call
    assert(groupSeenUnder("g2") === Seq("g2", "desc-g2"))
  }

  // ---------------------------------------------------------------- Mat

  test("Mat.materialize preserves rows and schema (local mode)") {
    import spark.implicits._
    val df = Seq((1L, "a"), (2L, "b")).toDF("k", "v")
    val m = graft.engine.Mat.materialize(df)
    assert(m.schema === df.schema)
    assert(m.collect().sortBy(_.getLong(0)).toSeq ===
      df.collect().sortBy(_.getLong(0)).toSeq)
  }

  test("Mat mode: local master -> local, cluster master -> reliable, and no checkpoint dir fails fast") {
    import graft.engine.Mat.mode
    assert(mode(isLocal = true, checkpointDir = None) === "local")
    assert(mode(isLocal = true, checkpointDir = Some("hdfs:///ckpt")) === "local")
    assert(mode(isLocal = false, checkpointDir = Some("hdfs:///ckpt")) === "reliable")
    val e = intercept[IllegalStateException](mode(isLocal = false, checkpointDir = None))
    assert(e.getMessage.contains("SparkContext.setCheckpointDir"))
  }

  test("a second run of the Chi keys compiles no generated code") {
    // The engine re-runs the same plans per fold and call: every repeat
    // must hit Spark's codegen cache. This key set needs more than Spark's
    // default 100 entries, and the literals a plan is built from (x281's
    // cost vector, per-m rule counts and majority class) must come out in
    // the same order on every run.
    import org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
    val keys = Seq("q39_ml_fuzzy_membership", "q40_ml_chi_rulegen", "q41_ml_chi_rule_weights",
      "q42_ml_chi_classify", "q43_ml_metrics", "x281_chi_mchunk_ablation")
    def runAll(): Unit = keys.foreach(k => SparkEntry.queries(k)(spark, sfSmoke).collect())
    runAll()
    val compiled = METRIC_COMPILATION_TIME.getCount
    runAll()
    assert(METRIC_COMPILATION_TIME.getCount - compiled === 0L,
      "the second run recompiled generated classes")
  }

  test("no bare localCheckpoint in operator bodies (engine helper only)") {
    val root = new java.io.File("src/main/scala/graft")
    assume(root.isDirectory, "source tree not visible from test cwd")
    def files(d: java.io.File): Seq[java.io.File] =
      d.listFiles.toSeq.flatMap(f => if (f.isDirectory) files(f) else Seq(f))
    val offenders = files(root)
      .filter(_.getName.endsWith(".scala"))
      .filterNot(f => f.getPath.contains("/examples/") ||
        f.getName == "Mat.scala")
      .filter { f =>
        val src = new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
        src.linesIterator.exists(l =>
          l.contains(".localCheckpoint(") && !l.trim.startsWith("*") &&
            !l.trim.startsWith("//"))
      }
    assert(offenders.isEmpty,
      s"operator bodies must use Mat.materialize: ${offenders.map(_.getName)}")
  }

  // ---------------------------------------------------------- lcp_count

  test("lcp_count equals the zip_with/aggregate fold on corpus pairs and edges") {
    import spark.implicits._
    val pairs = Seq(
      (Seq("a", "b", "c"), Seq("a", "b", "c")),      // identical
      (Seq("a", "b", "c"), Seq("a", "b")),           // prefix, shorter right
      (Seq("a", "b"), Seq("a", "b", "c")),           // prefix, shorter left
      (Seq("a", "x", "c"), Seq("a", "y", "c")),      // mismatch mid, match later
      (Seq("x"), Seq("y")),                          // no match
      (Seq.empty[String], Seq("a")),                 // empty side
      (Seq.empty[String], Seq.empty[String])         // both empty
    ).toDF("a", "b")
    val corpus = graft.engine.Tables.documents(spark, sfSmoke)
      .select(filter(split(lower(col("text")), " "), t => t =!= "").as("a"))
      .withColumn("b", reverse(col("a")))
      .limit(200)
    for (df <- Seq(pairs, corpus)) {
      val hof = aggregate(zip_with(col("a"), col("b"), (x, y) => x === y),
        struct(lit(0L).as("n"), lit(true).as("go")),
        (acc, m) => struct(
          when(acc("go") && m, acc("n") + 1L).otherwise(acc("n")).as("n"),
          (acc("go") && m).as("go")),
        acc => acc("n"))
      val rows = df.select(
        call_function("lcp_count", col("a"), col("b")).as("native"),
        hof.as("hof")).collect()
      rows.foreach(r => assert(r.getLong(0) === r.getLong(1),
        s"lcp mismatch: $r"))
    }
  }

  // ------------------------------------- sorted_intersect_count (x119)

  test("sorted_intersect_count equals size(array_intersect) on sorted input") {
    import spark.implicits._
    // edge cases, sorted through the same sort_array the product site uses:
    // duplicates (distinct-count semantics), disjoint, empty sides, null
    // elements (match iff both sides hold one, counted once)
    val cases = Seq(
      (Seq[java.lang.Long](1L, 2L, 3L), Seq[java.lang.Long](2L, 3L, 4L)),
      (Seq[java.lang.Long](1L, 1L, 2L), Seq[java.lang.Long](1L, 1L, 1L)),
      (Seq[java.lang.Long](5L), Seq[java.lang.Long](7L)),
      (Seq.empty[java.lang.Long], Seq[java.lang.Long](1L)),
      (Seq.empty[java.lang.Long], Seq.empty[java.lang.Long]),
      (Seq[java.lang.Long](null, 1L, 2L), Seq[java.lang.Long](null, 2L)),
      (Seq[java.lang.Long](null, 1L), Seq[java.lang.Long](2L, 3L))
    ).toDF("ra", "rb")
      .select(sort_array(col("ra")).as("a"), sort_array(col("rb")).as("b"))
    // the real x119 grain: adjacency arrays of the part co-purchase graph,
    // self-joined so every row compares two genuine sorted neighbor lists
    val li = graft.engine.Tables.lineitem(spark, sfSmoke)
      .select("l_orderkey", "l_partkey")
    val edges = li.as("x").join(li.as("y"),
        col("x.l_orderkey") === col("y.l_orderkey") &&
          col("x.l_partkey") < col("y.l_partkey"))
      .select(col("x.l_partkey").as("u"), col("y.l_partkey").as("v"))
      .distinct()
    val adj = edges.groupBy("u")
      .agg(sort_array(collect_list(col("v"))).as("nbrs"))
    val corpus = adj.select(col("nbrs").as("a")).limit(60)
      .crossJoin(adj.select(col("nbrs").as("b")).limit(60))
    for (df <- Seq(cases, corpus)) {
      val rows = df.select(
        call_function("sorted_intersect_count", col("a"), col("b"))
          .as("native"),
        size(array_intersect(col("a"), col("b"))).cast("long").as("ref"))
        .collect()
      assert(rows.nonEmpty)
      rows.foreach(r => assert(r.getLong(0) === r.getLong(1),
        s"intersect-count mismatch: $r"))
    }
  }

  // ------------------------------------------------- dedup confirm prune

  test("bandedPairs pruneConfirm=true is row-identical to the unpruned form") {
    val docs = graft.engine.Tables.documents(spark, sfSmoke)
    val shSets = graft.queries.LlmExt2.shingleSets(docs)
    val sigs = graft.queries.LlmExt2.minhashSigs(shSets, 4)
    for (bands <- Seq(3, 4)) {
      val base = graft.queries.LlmExt2
        .bandedPairs(shSets, sigs, bands)
        .collect().map(_.toSeq).sortBy(_.toString)
      val pruned = graft.queries.LlmExt2
        .bandedPairs(shSets, sigs, bands, pruneConfirm = true)
        .collect().map(_.toSeq).sortBy(_.toString)
      assert(pruned === base, s"bands=$bands")
    }
    val exBase = graft.queries.LlmExt2.exactJaccardPairsFrom(shSets)
      .collect().map(_.toSeq).sortBy(_.toString)
    val exPruned = graft.queries.LlmExt2
      .exactJaccardPairsFrom(shSets, pruneConfirm = true)
      .collect().map(_.toSeq).sortBy(_.toString)
    assert(exPruned === exBase)
  }

  // ----------------------------------------------------------- x225 BPE

  test("x225 gram aggregate matches the separate pair/symbol aggregates") {
    import spark.implicits._
    import org.apache.spark.sql.types._
    val toks = graft.engine.Tables.documents(spark, sfSmoke)
      .select(explode(filter(split(lower(col("text")), " "), t => t =!= ""))
        .as("tok"))
    // r15 formulation (the oracle's shape): separate winner + alphabet
    val pairs = toks
      .select(explode(when(length(col("tok")) >= 2,
        transform(sequence(lit(1), least(length(col("tok")) - 1, lit(32))),
          i => col("tok").substr(i, lit(2))))
        .otherwise(array().cast(ArrayType(StringType)))).as("pair"))
      .groupBy("pair").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("pair")).limit(1).collect()(0)
    val nsym = toks
      .select(explode(transform(
        sequence(lit(1), least(length(col("tok")), lit(64))),
        i => col("tok").substr(i, lit(1)))).as("sym"))
      .agg(countDistinct(col("sym"))).collect()(0).getLong(0)
    // r16 single collected aggregate, folded driver-side like x225 does
    val rows = graft.queries.Mining.x225GramAgg(toks).collect()
    val (p2, s1) = rows.map(r => (r.getString(0), r.getLong(1)))
      .partition(_._1.length == 2)
    val win = p2.minBy { case (p, c) => (-c, p) }
    assert(win._1 === pairs.getString(0))
    assert(win._2 === pairs.getLong(1))
    assert(s1.length.toLong === nsym)
  }
}
