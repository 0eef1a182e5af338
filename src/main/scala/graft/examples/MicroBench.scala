package graft.examples

/** Targeted per-key timing harness for optimization work: warms each key at
  * sf0.001, then times `runs` back-to-back executions at the target sf and
  * prints min/median/all, with Bench's between-run hygiene before each.
  * Not part of the driver contract (Bench.scala is); this exists so a single
  * operator's before/after can be measured in seconds instead of re-running
  * the full 366-key bench.
  *
  * Usage: sbt "runMain graft.examples.MicroBench x305 x188 ..."
  * Env: SPARK_GRAFT_SF_DIR (default sf0.1), SPARK_GRAFT_CPUS (default 32),
  *      SPARK_GRAFT_MICRO_RUNS (default 4).
  */
object MicroBench {
  def main(args: Array[String]): Unit = {
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val runs = sys.env.getOrElse("SPARK_GRAFT_MICRO_RUNS", "4").toInt
    val spark = graft.engine.Sessions.local(cpus, cpus)
    val names =
      if (args.nonEmpty)
        args.toSeq.map(a => graft.SparkEntry.queries.keys
          .find(_.startsWith(a))
          .getOrElse(sys.error(s"no key matches prefix $a")))
      else Seq("x44_token_entropy", "x35_text_repetition", "x47_quality_gate")
    for (n <- names; fn = graft.SparkEntry.queries(n)) {
      fn(spark, "/root/testdata/sf0.001").count() // warm codegen/JIT
      val ts = (1 to runs).map { _ =>
        graft.Bench.hygiene(spark)
        val t0 = System.nanoTime(); fn(spark, dir).count()
        (System.nanoTime() - t0) / 1e9
      }
      val sorted = ts.sorted
      val med = sorted(sorted.size / 2)
      println(f"[micro] $n%-34s min=${ts.min}%.2f med=$med%.2f  runs=${ts.map(t => f"$t%.2f").mkString(",")}")
    }
    spark.stop()
  }
}
