package perfbench

import scala.util.Random

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Per-layer figures of a traced run. */
object Layers {

  /** Parent every job, stage and task of a traced pass, and every streaming
    * micro-batch, to the call whose window holds its start, and sum the
    * layer metrics over the pass. Returns the pass totals and one JSON-ready
    * record per call. */
  def attribute(t: Tracer, streams: StreamTracer, done: Seq[Main.Sample], cores: Int)
      : (Map[String, Double], Seq[Map[String, Any]]) = t.synchronized { streams.synchronized {
    def phase(s: Main.Sample, n: String) = s.spans.find(_.name == n)
    def callOf(time: Long) = done.indexWhere(s => s.spans.head.contains(time))
    val jobCall = t.jobs.map(j => j.id -> callOf(j.start)).toMap
    val stageJob = t.jobs.flatMap(j => j.stages.map(_ -> j.id)).reverse.toMap
    val stageSubmit = t.stages.map(s => s.id -> s.submit).toMap
    val taskCall = t.tasks.map(k => stageJob.get(k.stage).flatMap(jobCall.get).getOrElse(-1))

    val perCall = done.indices.map { i =>
      val s = done(i)
      val jobs = t.jobs.filter(j => jobCall(j.id) == i)
      val stageIds = jobs.flatMap(_.stages).toSet
      val stages = t.stages.filter(st => stageIds(st.id))
      val tasks = t.tasks.indices.filter(taskCall(_) == i).map(t.tasks)
      val body = phase(s, "body")
      def ms(n: String) = phase(s, n).map(_.ms.toDouble).getOrElse(0.0)
      val taskRun = tasks.map(_.runMs).sum.toDouble
      val batches = streams.batches.filter(b => callOf(b.start) == i).toSeq
      def dur(k: String) = batches.map(_.durations.getOrElse(k, 0L)).sum.toDouble
      // state held at the end of each query: its last batch's figures
      val lastOfQuery = batches.groupBy(_.query).values.map(_.maxBy(_.start)).toSeq
      val m = Map[String, Double](
        "queries.body_ms" -> ms("body"),
        "queries.body_jobs" -> jobs.count(j => body.exists(_.contains(j.start))).toDouble,
        "catalyst.optimize_ms" -> ms("optimize"),
        "catalyst.plan_ms" -> ms("plan"),
        "scheduler.jobs" -> jobs.size.toDouble,
        "scheduler.stages" -> stages.size.toDouble,
        "scheduler.tasks" -> tasks.size.toDouble,
        "scheduler.task_wait_ms" -> tasks.map(k =>
          math.max(0L, k.launch - stageSubmit.getOrElse(k.stage, k.launch))).sum.toDouble,
        "exec.wall_ms" -> ms("exec"),
        "exec.task_run_ms" -> taskRun,
        "exec.task_deser_ms" -> tasks.map(_.deserMs).sum.toDouble,
        "exec.gc_ms" -> tasks.map(_.gcMs).sum.toDouble,
        "exec.result_bytes" -> tasks.map(_.resultBytes).sum.toDouble,
        "shuffle.write_bytes" -> tasks.map(_.shuffleWrite).sum.toDouble,
        "shuffle.read_bytes" -> tasks.map(_.shuffleRead).sum.toDouble,
        "shuffle.spill_bytes" -> tasks.map(_.spill).sum.toDouble,
        "shuffle.fetch_wait_ms" -> tasks.map(_.fetchWaitMs).sum.toDouble,
        "mat.jobs" -> jobs.count(_.mat).toDouble,
        "mat.ms" -> jobs.filter(_.mat).map(j => (j.end - j.start).toDouble).sum,
        "par.max_concurrent_jobs" -> maxOverlap(jobs.map(j => (j.start, j.end)).toSeq).toDouble,
        "stream.batches" -> batches.size.toDouble,
        "stream.trigger_ms" -> dur("triggerExecution"),
        "stream.planning_ms" -> dur("queryPlanning"),
        "stream.add_batch_ms" -> dur("addBatch"),
        "stream.wal_commit_ms" -> dur("walCommit"),
        "stream.state_rows" -> lastOfQuery.map(_.stateRows).sum.toDouble,
        "stream.state_commit_ms" -> batches.map(_.stateCommitMs).sum.toDouble,
        "stream.state_memory_bytes" -> lastOfQuery.map(_.stateMemoryBytes).sum.toDouble)
      val record = Map[String, Any](
        "call" -> s.name, "pass" -> s.pass, "ms" -> s.ms,
        "spans" -> s.spans.map(p => Map("id" -> p.id, "parent" -> p.parent,
          "name" -> p.name, "start" -> p.start, "end" -> p.end)),
        "jobs" -> jobs.map(j => Map("id" -> j.id, "start" -> j.start, "end" -> j.end,
          "mat" -> j.mat, "stages" -> j.stages.filter(x => stages.exists(_.id == x)))),
        "stages" -> stages.map(st => Map("id" -> st.id, "submit" -> st.submit,
          "complete" -> st.complete, "tasks" -> st.tasks)),
        "batches" -> batches.map(b => Map("query" -> b.query, "start" -> b.start,
          "end" -> (b.start + b.durations.getOrElse("triggerExecution", 0L)))),
        "metrics" -> m)
      (m, record)
    }
    val keys = perCall.head._1.keys
    val totals = keys.map { k =>
      k -> (if (k == "par.max_concurrent_jobs") perCall.map(_._1(k)).max
            else perCall.map(_._1(k)).sum)
    }.toMap
    val callMs = done.map(_.ms).sum
    (totals + ("exec.core_busy_ratio" -> totals("exec.task_run_ms") / (callMs * cores)),
     perCall.map(_._2))
  }}

  /** The Chi layer from the traced samples: the direct fit and score, and
    * the stage keys' call times. */
  def chi(traced: Seq[Main.Sample]): Map[String, Double] = {
    val stages = Workloads.chiStages.flatMap { case (short, metric) =>
      val ms = traced.filter(_.name.startsWith(short + "_")).map(_.ms)
      if (ms.isEmpty) None else Some(s"chi.stage.$metric" -> Main.median(ms))
    }
    val fits = traced.map(_.extras).filter(_.contains("fit_ms"))
    val fit =
      if (fits.isEmpty) Map.empty[String, Double]
      else {
        val transformMs = Main.median(fits.map(_("transform_ms")))
        Map("chi.fit_ms" -> Main.median(fits.map(_("fit_ms"))),
            "chi.transform_ms" -> transformMs,
            "chi.rules" -> fits.head("rules"),
            "chi.score_rows_per_s" -> fits.head("scored_rows") / (transformMs / 1e3))
      }
    stages.toMap ++ fit
  }

  private def maxOverlap(iv: Seq[(Long, Long)]): Int = {
    val ev = iv.flatMap { case (s, e) => Seq((s, 1), (math.max(s, e), -1)) }
      .sortBy { case (t, d) => (t, d) }
    ev.scanLeft(0)(_ + _._2).max
  }

  private def timeMs(reps: Int)(f: => Unit): Double =
    Main.median((0 until reps).map { _ =>
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e6
    })

  /** `format("keel")` write then read of the Chi training frame. */
  def keelRoundTrip(spark: SparkSession, dir: String, work: String): Map[String, Double] = {
    val train = Workloads.chiTrain(spark, dir).localCheckpoint(true)
    val n = train.count().toDouble
    val path = s"$work/keel/train"
    val w = timeMs(3) { train.write.format("keel").mode("overwrite").save(path) }
    var read = 0L
    val r = timeMs(3) { read = spark.read.format("keel").load(path).collect().length.toLong }
    require(read == n, s"KEEL round trip read $read rows of $n")
    Map("keel.write_rows_per_s" -> n / (w / 1e3), "keel.read_rows_per_s" -> n / (r / 1e3))
  }

  /** Each native SQL kernel over seed-generated rows, and the builtin
    * formulation it replaces where one exists. The cached input is crossed
    * with a small range so each query evaluates the kernel `reps` times per
    * input row and the fixed per-query cost is amortized; the figure is per
    * evaluation, including the scan of the cached row. */
  def exprKernels(spark: SparkSession, seed: Long): Map[String, Double] = {
    import spark.implicits._
    val rnd = new Random(seed)
    val n = 10000
    val vocab = "a agg batch big column customer data fast filter group hash join key"
      .split(" ")
    def text() = Seq.fill(10 + rnd.nextInt(60))(vocab(rnd.nextInt(vocab.length))).mkString(" ")
    def vec() = Array.fill(64)(rnd.nextGaussian().toFloat)
    def ids() = Array.fill(5 + rnd.nextInt(40))(rnd.nextInt(200).toLong).sorted
    val rows = (0 until n).map { i =>
      (i.toLong, vec(), vec(), text(), text(), ids(), ids(), rnd.nextDouble(),
       Array.fill(8)(rnd.nextInt(16)))
    }
    rows.toDF("id", "a", "b", "t1", "t2", "s1", "s2", "score", "codes")
      .withColumn("qd", transform(col("a"), x => x.cast(DoubleType)))
      .withColumn("w1", split(col("t1"), " "))
      .withColumn("w2", split(col("t2"), " "))
      .cache().createOrReplaceTempView("kin")
    spark.table("kin").count()
    val books = Seq.fill(8, 16, 8)(rnd.nextGaussian()).map(_.map(_.map(d =>
      s"CAST($d AS DOUBLE)").mkString("array(", ",", ")")).mkString("array(", ",", ")"))
      .mkString("array(", ",", ")")
    val codes = (0 until 8).map(m => s"codes[$m]").mkString(", ")
    // (metric, select list, evaluations per input row)
    val probes = Seq(
      ("fvec_dot.ns_per_row", "sum(fvec_dot(a, b))", 40),
      ("fvec_l2sq.ns_per_row", "sum(fvec_l2sq(a, b))", 40),
      ("pq_adc.ns_per_row", s"sum(pq_adc(qd, $books, $codes))", 40),
      ("shingles.ns_per_row", "sum(size(shingles(t1, 5)))", 10),
      ("rolling_fps.ns_per_row", "sum(size(rolling_fps(t1)))", 10),
      ("lcp_count.ns_per_row", "sum(lcp_count(w1, w2))", 40),
      ("sorted_intersect_count.ns_per_row", "sum(sorted_intersect_count(s1, s2))", 40),
      ("token_stats.ns_per_row", "sum(token_stats(t1).n_tokens), sum(token_stats(t1).sum_clnc)", 10),
      ("topk_pairs.ns_per_row", "topk_pairs(score, id, 10)", 40),
      ("freq_sketch.ns_per_row", "freq_sketch(CAST(id % 997 AS STRING), 64)", 40),
      ("sorted_intersect_count.builtin_ns_per_row", "sum(size(array_intersect(s1, s2)))", 40),
      ("fvec_dot.builtin_ns_per_row",
        "sum(aggregate(zip_with(a, b, (x, y) -> CAST(x AS DOUBLE) * y), 0D, (s, x) -> s + x))", 40))
    val out = probes.map { case (metric, select, reps) =>
      val sql = s"SELECT $select FROM kin CROSS JOIN (SELECT id AS rep FROM range($reps))"
      spark.sql(sql).collect() // compile once before timing
      val ms = timeMs(3) { spark.sql(sql).collect() }
      s"expr.$metric" -> ms * 1e6 / (n.toLong * reps)
    }.toMap
    spark.catalog.uncacheTable("kin")
    out
  }
}
