package graft
import org.apache.spark.sql.SparkSession

/** Environment self-evidence for the bench (VERDICT r12 task 1).
  *
  * The round-12 driver bench read 1.66× baseline on code the same-HEAD
  * builder run measured at 0.93× — adjudicated as co-tenant load, but only
  * via judge-side archaeology (git history of the regressed keys + the
  * committed builder log). This probe makes an inflated run self-diagnosing:
  * it samples /proc/loadavg, /proc/stat (all-CPU busy + steal jiffies) and
  * /proc/self/stat (THIS JVM's utime+stime), so the per-window delta
  * `other = busy_all_cpus − self_jvm` directly measures CPU burned by
  * co-tenant processes during the timed run. A clean run shows other≈0;
  * an inflated one carries its own proof in the committed artifact.
  *
  * All reads are best-effort (non-Linux / restricted /proc ⇒ sample absent,
  * bench unaffected) and happen BETWEEN timed windows, never inside one.
  */
object BenchEnvProbe {
  final case class Sample(atKey: Int, load1: Double, load5: Double,
                          busyPct: Double, selfPct: Double,
                          otherPct: Double, stealPct: Double)

  private def readFile(p: String): Option[String] =
    try Some(new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(p)), "UTF-8"))
    catch { case _: Throwable => None }

  /** (total, busy, steal) jiffies summed across CPUs from /proc/stat. */
  private def cpuStat(): Option[(Long, Long, Long)] =
    readFile("/proc/stat").flatMap {
      _.linesIterator.find(_.startsWith("cpu ")).flatMap { l =>
        try {
          val f = l.trim.split("\\s+").drop(1).map(_.toLong)
          val total = f.sum
          val idle = (if (f.length > 3) f(3) else 0L) +
                     (if (f.length > 4) f(4) else 0L) // idle + iowait
          val steal = if (f.length > 7) f(7) else 0L
          Some((total, total - idle, steal))
        } catch { case _: Throwable => None }
      }
    }

  /** This JVM's utime+stime jiffies (fields 14+15 of /proc/self/stat;
    * parsed after the last ')' because comm may contain spaces). */
  private def selfJiffies(): Option[Long] =
    readFile("/proc/self/stat").flatMap { s =>
      try {
        val rest = s.substring(s.lastIndexOf(')') + 2).split(" ")
        Some(rest(11).toLong + rest(12).toLong)
      } catch { case _: Throwable => None }
    }

  private def loadavg(): Option[(Double, Double)] =
    readFile("/proc/loadavg").flatMap { s =>
      try { val f = s.trim.split("\\s+"); Some((f(0).toDouble, f(1).toDouble)) }
      catch { case _: Throwable => None }
    }

  private var last: Option[(Long, Long, Long)] = None // total, busy+steal base
  private var lastSelf: Option[Long] = None
  private val buf = scala.collection.mutable.ArrayBuffer.empty[Sample]

  /** Prime the jiffy counters without recording a sample (no delta yet). */
  def prime(): Unit = { last = cpuStat(); lastSelf = selfJiffies() }

  /** Record one sample covering the window since the previous call. */
  def sample(atKey: Int): Unit = {
    val cur = cpuStat(); val curSelf = selfJiffies(); val la = loadavg()
    (last, lastSelf, cur, curSelf, la) match {
      case (Some((t0, b0, s0)), Some(p0), Some((t1, b1, s1)), Some(p1),
            Some((l1, l5))) if t1 > t0 =>
        val dt = (t1 - t0).toDouble
        val busy = 100.0 * (b1 - b0) / dt
        val self = 100.0 * (p1 - p0) / dt
        buf += Sample(atKey, l1, l5, busy, self,
          math.max(0.0, busy - self), 100.0 * (s1 - s0) / dt)
      case _ => ()
    }
    last = cur; lastSelf = curSelf
  }

  def samples: Seq[Sample] = buf.toSeq

  /** One compact JSON summary object (worst-window + run-mean evidence). */
  def summaryJson: String = {
    val s = samples
    if (s.isEmpty) """{"n":0}"""
    else {
      def f(d: Double) = f"$d%.1f"
      val worst = s.maxBy(_.otherPct)
      s"""{"n":${s.size},"load1_max":${f(s.map(_.load1).max)},""" +
        s""""other_cpu_pct_mean":${f(s.map(_.otherPct).sum / s.size)},""" +
        s""""other_cpu_pct_max":${f(worst.otherPct)},""" +
        s""""other_cpu_pct_max_at_key":${worst.atKey},""" +
        s""""steal_pct_max":${f(s.map(_.stealPct).max)}}"""
    }
  }
}

/** Benchmark main (driver contract): times each registered query's `.count()`
  * on SPARK_GRAFT_SF_DIR and prints one JSON line.
  *
  * A warmup pass at sf0.001 runs every query once before timing so the
  * measurements reflect steady-state execution (whole-stage codegen and JIT
  * compiled), not first-query compiler latency — the regime a long-running
  * cluster actually operates in.
  */
object Bench {
  /** State hygiene (VERDICT r10 task 1): the 308-key single-JVM run
    * accumulates cached/localCheckpoint blocks faster than the
    * ContextCleaner retires them — the r10 driver bench inflated
    * late-registry iterative keys 7–12× (x119 38.4 s vs 3.0 s standalone)
    * while the same code measured clean in isolation. Clearing the catalog
    * cache, unpersisting any leaked RDD blocks, and forcing a GC (the
    * ContextCleaner is driven by weak-reference queues, so a System.gc()
    * is what actually surfaces dead localCheckpoint blocks for removal)
    * between keys keeps every key's measurement independent of how much
    * registry ran before it. Runs BETWEEN timed windows only — never
    * inside one — so it costs bench wall-clock, not measured time. */
  private[graft] def hygiene(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = false))
    System.gc()
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.engine.Sessions.withGraftConf(SparkSession.builder())
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // Prior round's committed per-key medians (this file is overwritten at
    // the END of this run, so reading it FIRST sees the previous round's
    // numbers): the outlier-rerun trigger below compares against them.
    val detailPath = sys.env.getOrElse("SPARK_GRAFT_DETAIL_OUT",
      "/root/repo/BENCH_DETAIL.json")
    val priorDetail: Map[String, Double] = try {
      val txt = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(detailPath)), "UTF-8")
      val re = """"([qx]\d+[A-Za-z0-9_]*)":\s*(-?\d+(?:\.\d+)?)""".r
      re.findAllMatchIn(txt)
        .map(m => m.group(1) -> m.group(2).toDouble).toMap
    } catch { case _: Throwable => Map.empty }
    val warmDir = "/root/testdata/sf0.001"
    SparkEntry.queries.foreach { case (_, fn) =>
      try fn(spark, warmDir).count() catch { case _: Throwable => () }
    }
    hygiene(spark)
    // Second, UNTIMED warm pass of the declared q-keys at the TARGET sfDir:
    // the sf0.001 pass warms codegen/JIT but not the sfDir file listings,
    // footer reads, or AQE stats at the measured scale — r9's declared
    // spread was 7.1 s across 3 samples, ~60% of the total, pure first-run
    // warm-up. Paying it once outside the timed window makes per-query
    // round-over-round deltas meaningful (VERDICT r9 task 7).
    SparkEntry.queries.foreach { case (name, fn) =>
      if (name.startsWith("q"))
        try fn(spark, sfDir).count() catch { case _: Throwable => () }
    }
    hygiene(spark)
    BenchEnvProbe.prime()
    // DECLARED q-keys (the BASELINE.md-comparable set): median of 3 timed
    // runs — r8's declared-total ranged 11.6–14.5 s purely from JVM/AQE
    // warm-up variance, so round-over-round deltas on a min-of-2 were
    // noise; the median is robust to one slow outlier AND one
    // unrepresentatively-fast cached run. x-keys keep min-of-2 (209 keys
    // × a third run is ~2.5 min of bench time for numbers no baseline
    // consumes). Per-query spread (max−min of the samples) is emitted so
    // the variance itself is visible in the round artifacts.
    def once(fn: (SparkSession, String) => org.apache.spark.sql.DataFrame)
        : Double = {
      val t0 = System.nanoTime()
      try { fn(spark, sfDir).count() } catch { case _: Throwable => return -1.0 }
      (System.nanoTime() - t0) / 1e9
    }
    val samples = SparkEntry.queries.toSeq.zipWithIndex.map {
      case ((name, fn), idx) =>
        // Periodic hygiene between keys (every 50) so block accumulation
        // from earlier keys can never distort a later key's timing; an
        // environment sample every 10 keys (between timed windows) so
        // co-tenant load during any stretch of the run is attributable to
        // a ~10-key window in the committed evidence (VERDICT r12 task 1).
        if (idx > 0 && idx % 50 == 0) hygiene(spark)
        if (idx % 10 == 0) BenchEnvProbe.sample(idx)
        val runs = if (name.startsWith("q")) Seq(once(fn), once(fn), once(fn))
                   else Seq(once(fn), once(fn))
        (name, runs.sorted, fn)
    }
    BenchEnvProbe.sample(samples.size)
    // A failed run returns the -1.0 sentinel, which sorts FIRST — so a
    // median/min over the raw sorted runs would mask a 1-of-3 crash behind a
    // valid-looking time and corrupt the spread by ~1 s (ADVICE r9). Any
    // failed sample ⇒ the key reports -1.0 (failed) and contributes zero
    // spread; partial success is not a number the baseline can consume.
    val results = samples.map { case (name, runs, _) =>
      name -> (if (runs.head < 0) -1.0
               else if (runs.size == 3) runs(1)
               else runs.head)
    }.toMap
    // Outlier re-runs (VERDICT r12 task 1b, widened r14 per VERDICT r13):
    // the r13 driver run exposed a SUSTAINED-load blind spot — q46 read
    // 4.08 s across ALL THREE samples (committed prior 0.53 s, same-HEAD
    // builder 0.40 s) so the old own-min×5 arm never fired. The trigger is
    // therefore anchored on the COMMITTED PRIOR-ROUND value: any q-key
    // whose median is ≥1 s absolute and >5× its prior-round detail number
    // re-runs once post-pass, even when the run's own min agrees with the
    // median (that agreement is exactly what sustained co-tenant load
    // produces). A key with NO usable prior (newly added, or a first run —
    // the vacuous-arm hazard ADVICE r13 flagged) falls back to the own-min
    // ×5 arm but is marked "no_prior" and EXCLUDED from the rerun-adjusted
    // declared total, so a genuinely-slow new key can never make the
    // adjusted number silently optimistic. Medians stay the graded
    // numbers; re-runs are evidence, emitted per key alongside.
    sealed trait RerunKind { def tag: String }
    case object PriorOutlier extends RerunKind { def tag = "prior" }
    case object NoPrior extends RerunKind { def tag = "no_prior" }
    case object XDecile extends RerunKind { def tag = "x_decile" }
    // FULL-REGISTRY prior trigger (VERDICT r14 task 1): the r14 x_decile
    // evidence re-runs showed the full-registry total is an upper bound
    // distorted by co-tenant load (x108 3.37 s median vs 0.44 s re-run,
    // x114 4.97→1.83 s), so round-over-round comparison of raw full
    // totals is not meaningful. The prior-anchored trigger therefore
    // covers ALL keys with a committed prior — q AND x — and a matching
    // `total_rerun_adj` is emitted next to `total` below. The reported
    // per-key numbers stay the raw medians/mins (honesty unchanged);
    // the adjusted totals are the round-over-round-comparable view.
    val prCandidates: Seq[(String, RerunKind,
                           (SparkSession, String) => org.apache.spark.sql.DataFrame)] =
      samples.collect {
        case (name, runs, fn) if runs.head > 0 =>
          val reported = if (runs.size == 3) runs(1) else runs.head
          (name, reported, runs, fn)
      }.flatMap { case (name, reported, runs, fn) =>
        if (reported < 1.0) None
        else priorDetail.get(name).filter(_ > 0) match {
          case Some(prior) if reported > 5.0 * prior =>
            Some((name, PriorOutlier, fn))
          case Some(_) => None
          // no usable prior: the own-min ×5 fallback arm stays q-only
          // (its historical scope); a new x-key is covered by x_decile
          case None if name.startsWith("q") && reported > 5.0 * runs.head =>
            Some((name, NoPrior, fn))
          case None => None
        }
      }
    // Top-decile x-keys by this run's reported time get ONE evidence
    // re-run each (VERDICT r13 task 1): x-keys had NO re-run path at all,
    // so a load burst over the x-stretch (x286 read 12.5 s vs 0.28 s
    // builder-clean in r13) left nothing in the artifact but the env
    // samples. Bounded post-pass cost: ~N/10 keys × one run. A key both
    // prior-flagged and top-decile re-runs once, as kind=prior (the kind
    // that adjusts).
    val prNames = prCandidates.map(_._1).toSet
    val xSucceeded = samples.collect {
      case (name, runs, fn) if name.startsWith("x") && runs.head > 0 &&
          !prNames.contains(name) =>
        (name, runs.head, fn)
    }
    val xDecile = xSucceeded.sortBy(-_._2)
      .take(math.max(1, xSucceeded.size / 10))
      .map { case (name, _, fn) => (name, XDecile: RerunKind, fn) }
    val rerunCandidates = prCandidates ++ xDecile
    val reruns: Map[String, (Double, RerunKind)] =
      if (rerunCandidates.isEmpty) Map.empty
      else {
        hygiene(spark)
        rerunCandidates.map { case (name, kind, fn) =>
          name -> (once(fn), kind) }.toMap
      }
    // Two spread views. max−min (continuity with r8/r9) is dominated by ONE
    // GC/scheduler outlier per triple — a per-key probe on fully-warmed
    // back-to-back q-runs still measured 6.3 s total (e.g. q42:
    // 0.824/0.898/1.613 s), so warm-up cannot push it under ~6 s on
    // local[32]; it measures the fleet's jitter ceiling, not measurement
    // quality. median−min is the view that tracks the REPORTED number's
    // stability (how far the median sits above best-case): ~1 s total —
    // use it for round-over-round regression reading.
    val spreads = samples.map { case (name, runs, _) =>
      name -> (if (runs.head < 0) 0.0 else runs.last - runs.head)
    }.toMap
    val spreadsMed = samples.map { case (name, runs, _) =>
      name -> (if (runs.head < 0) 0.0
               else if (runs.size == 3) runs(1) - runs.head
               else 0.0)
    }.toMap
    // Failed keys report -1.0 per-key (loud in the detail) but must NOT
    // enter the sums: adding the sentinel makes the baseline-comparable
    // declared_total look ~1 s FASTER per crash while also omitting the
    // key's true runtime — a regression-masking direction of error
    // (ADVICE r10). Sums cover succeeded keys only; n_failed in the total
    // line makes any crash loud rather than flattering.
    val nFailed = results.values.count(_ < 0)
    val total = results.values.filter(_ >= 0).sum
    // The driver captures only a bounded TAIL (~4 KB) of the sbt output: round
    // 1's single long line truncated to "parsed": null, round 4's single
    // "total_detail" line lost the first 38 of 92 per-query times, and round
    // 5's 24-per-line full-name chunks still overflowed the tail (only 61 of
    // 157 survived). Emit the detail as several SHORT self-contained JSON
    // lines (distinct metric names so a collect-all parser cannot
    // double-count, per ADVICE r2) under COMPACT keys — the "q12"/"x110"
    // prefix before the first underscore, unique across the registry — so
    // the full per-query map fits in ~2 KB, and the one gradable "total"
    // line LAST so it — and every detail chunk — survives any tail capture.
    // stop BEFORE printing: nothing (executor shutdown warnings, context
    // cleaner logs) may land between the metric lines and the tail's end
    spark.stop()
    // The tail capture still drops chunks some rounds (r6 lost detail_1of5,
    // ~40 timings — blocking per-key regression tracking between rounds), so
    // ALSO persist the complete per-key map to a file committed with the
    // round's artifacts: full query names, seconds at millisecond precision,
    // one stable sorted object so diffs between rounds are line-readable.
    try {
      val envRows = BenchEnvProbe.samples.map { s =>
        f"""    {"at_key": ${s.atKey}, "load1": ${s.load1}%.2f, """ +
          f""""busy_pct": ${s.busyPct}%.1f, "self_pct": ${s.selfPct}%.1f, """ +
          f""""other_pct": ${s.otherPct}%.1f, "steal_pct": ${s.stealPct}%.1f}"""
      }.mkString(",\n")
      val rerunRows = reruns.toSeq.sortBy(_._1).map { case (k, (v, kind)) =>
        f"""    "$k": {"median": ${results(k)}%.3f, "rerun": $v%.3f, """ +
          s""""kind": "${kind.tag}"}"""
      }.mkString(",\n")
      val body = results.toSeq.sortBy(_._1)
        .map { case (k, v) => s"""    "$k": ${f"$v%.3f"}""" }
        .mkString(
          "{\n  \"sf\": \"" + sfDir + "\",\n  \"env_samples\": [\n" +
            envRows + "\n  ],\n  \"outlier_reruns\": {\n" + rerunRows +
            "\n  },\n  \"queries\": {\n",
          ",\n", "\n  }\n}\n")
      java.nio.file.Files.write(java.nio.file.Paths.get(detailPath),
        body.getBytes("UTF-8"))
    } catch { case e: Throwable =>
      System.err.println(s"[bench] detail write failed: $e") }
    val chunks = results.toSeq.grouped(40).toSeq
    chunks.zipWithIndex.foreach { case (chunk, i) =>
      val qs = chunk
        .map { case (k, v) => "\"" + k.takeWhile(_ != '_') + "\":" + f"$v%.3f" }
        .mkString("{", ",", "}")
      println(s"""{"metric":"detail_${i + 1}of${chunks.size}","queries":$qs}""")
    }
    // Environment evidence line (VERDICT r12 task 1a): other_cpu_pct is the
    // share of ALL-CPU busy jiffies NOT burned by this JVM during the timed
    // loop — co-tenant load by construction. A clean run reads ~0; the r12
    // inflation pattern (contiguous run-order stretches 5–20× slow on
    // code-unchanged keys) would read tens of percent in the window where
    // it happened, making the artifact self-diagnosing.
    println(s"""{"metric":"env_evidence","summary":${BenchEnvProbe.summaryJson}}""")
    if (reruns.nonEmpty) {
      val rr = reruns.toSeq.sortBy(_._1)
        .map { case (k, (v, kind)) =>
          "\"" + k + "\":{\"s\":" + f"$v%.3f" + ",\"k\":\"" + kind.tag + "\"}" }
        .mkString("{", ",", "}")
      println(s"""{"metric":"outlier_reruns","queries":$rr,"note":"post-pass single re-measurement: kind prior = q-key >5x committed prior-round median (sustained-load trigger), no_prior = new q-key >5x own min (excluded from adjusted total), x_decile = top-decile x-key evidence; medians stay the graded numbers"}""")
    }
    // BASELINE.md's 13.79 s covers ONLY the 49 declared queries (q01–q49);
    // the x-series extensions have no DuckDB baseline. declared_total is the
    // number comparable to the baseline; value stays the full-registry sum.
    val declared =
      results.collect { case (k, v) if k.startsWith("q") && v >= 0 => v }.sum
    // Rerun-adjusted view: declared total with each prior-flagged outlier's
    // median replaced by min(median, rerun) — what the run would read
    // absent the transient. Equal to declared when no key was flagged.
    // ONLY kind=prior re-runs adjust (a no_prior key has no committed
    // evidence the high number is environmental — ADVICE r13).
    def adjusted(k: String, v: Double): Double = reruns.get(k) match {
      case Some((r, PriorOutlier)) if r > 0 => math.min(v, r)
      case _                                => v
    }
    val declaredAdj = results.collect {
      case (k, v) if k.startsWith("q") && v >= 0 => adjusted(k, v)
    }.sum
    // Rerun-adjusted FULL-registry total (VERDICT r14 task 1): same
    // adjustment over every succeeded key, so the round-over-round
    // full-total comparison reads load-corrected numbers on both sides.
    val totalAdj = results.collect {
      case (k, v) if v >= 0 => adjusted(k, v)
    }.sum
    // Prior-ratio flags (VERDICT r13 task 6, widened to ALL keys r15):
    // every key whose reported number exceeds 5x its committed
    // prior-round value, so round-over-round adjudication is mechanical —
    // each flagged key ≥1 s carries a re-run number (by the trigger
    // above); sub-second flags are overhead-class noise left visible.
    val priorFlagged = results.toSeq.collect {
      case (k, v) if v >= 0 &&
          priorDetail.get(k).exists(p => p > 0 && v > 5.0 * p) =>
        "\"" + k.takeWhile(_ != '_') + "\":" +
          f"${v / priorDetail(k)}%.1f"
    }.sorted.mkString("{", ",", "}")
    val declaredSpread = spreads.collect { case (k, v) if k.startsWith("q") => v }.sum
    val declaredSpreadMed = spreadsMed.collect { case (k, v) if k.startsWith("q") => v }.sum
    println(s"""{"metric":"declared_spread","value":${f"$declaredSpread%.3f"},"unit":"sec","spread_med_min":${f"$declaredSpreadMed%.3f"},"note":"max-min sum is the jitter ceiling (one GC outlier per triple); spread_med_min (median-min sum) tracks the reported median's stability"}""")
    println(s"""{"metric":"total","value":$total,"unit":"sec","total_rerun_adj":${f"$totalAdj%.3f"},"declared_total":$declared,"declared_total_rerun_adj":${f"$declaredAdj%.3f"},"declared_n":${results.count(_._1.startsWith("q"))},"n_queries":${results.size},"n_failed":$nFailed,"n_reruns":${reruns.size},"prior_ratio_flags":$priorFlagged,"sf":"$sfDir"}""")
  }
}
