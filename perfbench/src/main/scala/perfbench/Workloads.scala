package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import graft.engine.chi.ChiCSClassifier

/** One timed call: `body` builds the result frame (running whatever eager
  * jobs the operator needs); the harness then plans and collects it.
  * `oracleKey` names the registry key whose oracle SQL defines the expected
  * result. */
final case class Call(name: String, oracleKey: String,
                      body: (SparkSession, String) => DataFrame)

object Workloads {
  /** The registry call of a key given by its short id (`q12`, `x281`). */
  private def id(short: String): Call =
    graft.SparkEntry.queries.keys.filter(_.startsWith(short + "_")).toSeq match {
      case Seq(k) => Call(k, k, graft.SparkEntry.queries(k))
      case ks => throw new IllegalArgumentException(s"$short matches $ks")
    }

  /** Fit and score split out of the direct Chi call, for the trace. */
  @volatile var lastFitMs = 0.0
  @volatile var lastRules = 0

  /** x06's training frame: two features, label `l_extendedprice > 95000`. */
  def chiTrain(spark: SparkSession, dir: String): DataFrame =
    graft.engine.Tables.lineitem(spark, dir).select(
      col("l_quantity").as("x1"), col("l_discount").as("x2"),
      when(col("l_extendedprice") > 95000, 1).otherwise(0).as("label"))

  /** [P1]'s estimator called directly, as x06 registers it, with declared
    * feature ranges. The score is reduced to the confusion matrix, so every
    * row is classified and the result is x06's oracle result. */
  val chiFitTransform: Call = Call("chi_fit_transform", "x06_chi_estimator_fit",
    (spark, dir) => {
      val df = chiTrain(spark, dir)
      val t0 = System.nanoTime()
      val model = new ChiCSClassifier()
        .setFeatureCols(Array("x1", "x2")).setLabelCol("label")
        .setFeatureRanges(Array(1.0, 50.0, 0.0, 0.1))
        .fit(df)
      lastFitMs = (System.nanoTime() - t0) / 1e6
      lastRules = model.rules.length
      model.transform(df)
        .groupBy(col("label").cast(LongType).as("actual"),
                 col("prediction").cast(LongType).as("predicted"))
        .agg(count(lit(1)).as("n"))
    })

  /** Stage keys of the Chi pipeline and the per-layer name of each. */
  val chiStages: Seq[(String, String)] = Seq(
    "q39" -> "fuzzy_db_ms", "q40" -> "rulegen_ms", "q41" -> "weights_ms",
    "q42" -> "classify_ms", "q43" -> "metrics_ms")

  /** The calls of a workload; `work` is the directory the streaming calls
    * stage their input in. */
  def apply(name: String, work: String): Seq[Call] = name match {
    case "declared" =>
      Seq("q01", "q04", "q12", "q19", "q26", "q32", "q46").map(id) :+
        Streams.tumbling(work)
    case "chi_cs" =>
      chiStages.map(s => id(s._1)) ++ Seq(chiFitTransform, id("x281"))
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  /** Warm-up passes before timing. The JVM never settles within a run
    * (each pass has Spark's codegen compile its classes again, and the JIT
    * compiles after it), so a pass's CPU keeps falling; warming up moves the
    * timed passes to where it falls more slowly. A `declared` pass is short,
    * so it gets two; a `chi_cs` pass costs about 10 s, so it gets one. */
  def warmPasses(name: String): Int = if (name == "declared") 2 else 1

  /** Timed passes at least, whatever the window: `pass_cpu_s` is the median
    * over them, which leaves out the first, least warmed, pass. */
  def timedPasses(name: String): Int = 3

  val names: Seq[String] = Seq("declared", "chi_cs")
}
