package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.perfbench.Drain
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** The benchmark's JVM side. `run.py` builds the inputs and calls it in one
  * of two modes:
  *
  *  - `oracle --out F`: write, per workload, each call's name and the DuckDB
  *    oracle SQL of its key (from `SparkEntry.oracleSql`);
  *  - `run --workload W --data D --orders F --seconds N --trace 0|1
  *    --work DIR --seed S --out F`: set up, warm up, then drive the
  *    workload's calls in a closed loop (one client, each call waits for its
  *    full result) and write the raw samples as JSON.
  *
  * A call is timed from the operator body to the last collected row; the
  * checksum of the rows and the between-call hygiene happen outside that
  * window. */
object Main {
  val Cores = 4

  def main(args: Array[String]): Unit = {
    val opts = args.drop(1).grouped(2).collect {
      case Array(k, v) => k.stripPrefix("--") -> v
    }.toMap
    args.headOption match {
      case Some("oracle") => dumpOracle(opts("out"))
      case Some("run") => run(opts)
      case other => sys.error(s"unknown mode $other")
    }
  }

  private val json = new ObjectMapper().registerModule(DefaultScalaModule)
  private def write(path: String, value: Any): Unit =
    json.writeValue(new java.io.File(path), value)

  def dumpOracle(out: String): Unit = {
    val sql = graft.SparkEntry.oracleSql
    write(out, Workloads.names.map { w =>
      w -> Workloads(w, "").map(c => Seq(c.name, c.oracleKey, sql(c.oracleKey)))
    }.toMap)
  }

  def newSession(work: String): SparkSession = {
    val s = graft.engine.Sessions.withGraftConf(SparkSession.builder())
      .master(s"local[$Cores]")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.local.dir", s"$work/spark-local")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def nowMs(): Long = System.currentTimeMillis()
  private def msSince(t0: Long): Double = (System.nanoTime() - t0) / 1e6

  /** One executed call: phase spans in wall-clock ms plus the result check. */
  final case class Sample(name: String, pass: Int, traced: Boolean, ms: Double,
                          spans: Seq[Span], rows: Long, checksum: String,
                          error: String, extras: Map[String, Double])

  def run(o: Map[String, String]): Unit = {
    val workload = o("workload")
    val dir = o("data")
    val work = o("work")
    val calls = Workloads(workload, work)
    val seconds = o("seconds").toDouble
    val trace = o("trace") == "1"
    val seed = o("seed").toLong
    val orders: Seq[Seq[Int]] = new String(Files.readAllBytes(Paths.get(o("orders"))), "UTF-8")
      .linesIterator.filter(_.trim.nonEmpty).map(_.trim.split(" ").map(_.toInt).toSeq).toSeq

    // ---- set-up: three session starts (the median is reported), then the
    // workload's warm-up passes at the target scale on the last session
    val sessionS = ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    for (_ <- 0 until 3) {
      if (spark != null) {
        spark.stop()
        SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
      }
      val t0 = System.nanoTime()
      spark = newSession(work)
      spark.read.parquet(s"$dir/region.parquet").collect()
      sessionS += msSince(t0) / 1e3
    }
    lazy val lineitemRows = spark.read.parquet(s"$dir/lineitem.parquet").count().toDouble
    val heap = ManagementFactory.getMemoryMXBean
    var heapPeak = 0L
    // a warm-up call (pass -1) is only run: no full GC before it and no
    // checksum after it, which would cost set-up time and warm nothing
    def hygiene(warm: Boolean): Unit = {
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
      if (!warm) {
        System.gc()
        heapPeak = math.max(heapPeak, heap.getHeapMemoryUsage.getUsed)
      }
    }
    def exec(c: Call, pass: Int, traced: Boolean): Sample = {
      val warm = pass < 0
      hygiene(warm)
      val spans = ArrayBuffer.empty[Span]
      def span(name: String)(f: => Unit): Unit = {
        val s = nowMs(); f; spans += Span(spans.size + 1, 0, name, s, nowMs())
      }
      val wall0 = nowMs()
      // the /proc reads of Cpu.jit stay outside the process CPU window
      val jit0 = Cpu.jit(); val cpu0 = Cpu.process()
      val t0 = System.nanoTime()
      var rows: Array[Row] = null
      var df: DataFrame = null
      val err = try {
        span("body") { df = c.body(spark, dir) }
        span("optimize") { df.queryExecution.optimizedPlan }
        span("plan") { df.queryExecution.executedPlan }
        span("exec") { rows = df.collect() }
        null
      } catch { case e: Throwable => s"${e.getClass.getName}: ${e.getMessage}".take(300) }
      val ms = msSince(t0)
      val cpuMs = (Cpu.process() - cpu0) * 1e3
      val jitMs = (Cpu.jit() - jit0) * 1e3
      val callSpan = Span(0, -1, c.name, wall0, nowMs())
      val (n, sum, error) =
        if (err != null) (-1L, "", err)
        else if (warm) (rows.length.toLong, "", null)
        else try { val (n, sum) = Canon.checksum(df.schema, rows); (n, sum, null) }
        catch { case e: Exception => (-1L, "", s"checksum: $e") }
      val extras =
        if (error == null && (c eq Workloads.chiFitTransform))
          Map("fit_ms" -> Workloads.lastFitMs, "rules" -> Workloads.lastRules.toDouble,
              "transform_ms" -> (ms - Workloads.lastFitMs),
              "scored_rows" -> lineitemRows)
        else Map.empty[String, Double]
      Sample(c.name, pass, traced, ms, callSpan +: spans.toSeq, n, sum, error,
        extras ++ Map("cpu_ms" -> cpuMs, "jit_ms" -> jitMs))
    }

    // wall seconds of every pass, warm-up and timed, hygiene and checks included
    val passWallS = ArrayBuffer.empty[Double]
    // classes the JVM loads and Spark's codegen compiles per pass: a call
    // whose generated code misses Spark's codegen cache compiles it again
    val passDiag = ArrayBuffer.empty[Map[String, Double]]
    val classes = ManagementFactory.getClassLoadingMXBean
    val codegen = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
    def passWall[A](f: => A): A = {
      val c0 = classes.getTotalLoadedClassCount; val g0 = codegen.getCount
      val t0 = System.nanoTime(); val a = f; passWallS += msSince(t0) / 1e3
      passDiag += Map("classes" -> (classes.getTotalLoadedClassCount - c0).toDouble,
                      "janino" -> (codegen.getCount - g0).toDouble)
      a
    }
    for (_ <- 0 until Workloads.warmPasses(workload))
      passWall(calls.foreach(c => exec(c, -1, traced = false)))
    val warmS = passWallS.sum

    // ---- timed passes, closed loop. A traced run interleaves untraced and
    // traced passes, so it measures its own overhead.
    val tracer = new Tracer
    val streamTracer = new StreamTracer
    val samples = ArrayBuffer.empty[Sample]
    val traceJson = ArrayBuffer.empty[Any]
    val layerPasses = ArrayBuffer.empty[Map[String, Double]]
    graft.BenchEnvProbe.prime()
    val tRun = System.nanoTime()
    var pass = 0
    val minPasses = Workloads.timedPasses(workload) max (if (trace) 3 else 1)
    while (pass < minPasses || msSince(tRun) / 1e3 < seconds) {
      // after the first pass: traced, untraced, untraced, traced, ...; the
      // pairing cancels the drift of a still-warming JVM out of the
      // overhead estimate
      val traced = trace && pass > 0 && Set(0, 3)((pass - 1) % 4)
      if (traced) {
        tracer.clear(); spark.sparkContext.addSparkListener(tracer)
        streamTracer.clear(); spark.streams.addListener(streamTracer)
      }
      val done = passWall(orders(pass % orders.size).map(i => exec(calls(i), pass, traced)))
      samples ++= done
      if (traced) {
        Drain(spark.sparkContext)
        spark.sparkContext.removeSparkListener(tracer)
        spark.streams.removeListener(streamTracer)
        val (layers, perCall) = Layers.attribute(tracer, streamTracer, done, Cores)
        layerPasses += layers
        traceJson ++= perCall
      }
      graft.BenchEnvProbe.sample(pass)
      pass += 1
    }

    val layerProbes: Map[String, Double] =
      if (!trace) Map.empty
      else workload match {
        case "chi_cs" =>
          Layers.chi(samples.filter(_.traced).toSeq) ++
            Layers.keelRoundTrip(spark, dir, work)
        case "declared" => Layers.exprKernels(spark, seed)
        case _ => Map.empty
      }
    if (trace)
      write(s"$work/trace-$workload-$seed.json", traceJson.toSeq)

    val out = Map(
      "workload" -> workload,
      "session_s" -> sessionS.toSeq,
      "warm_s" -> warmS,
      "pass_wall_s" -> passWallS.toSeq,
      "pass_diag" -> passDiag.drop(Workloads.warmPasses(workload)).toSeq,
      "heap_live_peak_mb" -> heapPeak / 1048576.0,
      "calls" -> samples.toSeq.map(s => Map(
        "key" -> s.name, "pass" -> s.pass, "traced" -> s.traced, "ms" -> s.ms,
        "rows" -> s.rows, "checksum" -> s.checksum, "error" -> s.error,
        "cpu_ms" -> s.extras("cpu_ms"), "jit_ms" -> s.extras("jit_ms"))),
      "layers" -> (if (layerPasses.isEmpty) Map.empty[String, Double]
                   else layerPasses.head.keys.map(k =>
                     k -> median(layerPasses.map(_(k)).toSeq)).toMap ++ layerProbes),
      "env" -> graft.BenchEnvProbe.summaryJson)
    write(o("out"), out)
    spark.stop()
  }

  /** CPU seconds of this JVM: every thread, and its JIT compiler threads
    * alone (utime + stime from /proc in 1/100 s ticks, so Linux only; the
    * JVM is started with a fixed set of compiler threads, so none exits
    * and takes its time with it). */
  object Cpu {
    private val os = ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    def process(): Double = os.getProcessCpuTime / 1e9
    def jit(): Double = {
      val tasks = new java.io.File("/proc/self/task").listFiles()
      if (tasks == null) 0.0
      else tasks.iterator.map { t =>
        try {
          val comm = new String(Files.readAllBytes(t.toPath.resolve("comm")), "UTF-8")
          if (!comm.contains("CompilerThre")) 0.0
          else {
            val stat = new String(Files.readAllBytes(t.toPath.resolve("stat")), "UTF-8")
            val f = stat.substring(stat.lastIndexOf(')') + 2).split(" ")
            (f(11).toLong + f(12).toLong) / 100.0
          }
        } catch { case _: java.io.IOException => 0.0 }
      }.sum
    }
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
}
