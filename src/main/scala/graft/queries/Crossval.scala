package graft.queries

import graft.engine.Mat.MatOps
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** x198/x200: the reference paper's evaluation protocol — k-fold
  * cross-validation and the training-size learning curve — each run as ONE
  * Spark plan with the model id as just another grouping key.
  *
  * Fold assignment is a pure projection — the x20 split-hash discipline with
  * a nonlinear twist: the example key is reduced mod 1e8 (so the Fibonacci
  * multiply can never overflow int64), multiplied by 2654435761, then taken
  * mod the PRIME 1000000007 before mod 5. The prime step matters: 5 divides
  * every power-of-ten modulus, so a direct `(k·c) % 10^j % 5` collapses to
  * `k % 5` (linear — consecutive lineitems would stripe across folds in
  * lockstep); the prime double-mod decorrelates fold from key order while
  * staying exactly reproducible on any engine with int64 arithmetic.
  *
  * 100 TB shape: the ONLY row-scale work is one partial+final aggregation to
  * (fold, x1, x2, a1, a2, cls, multiplicity) — ChiMl.vectorGex's
  * distinct-vector compression, here keyed by fold too (≤ 5× the vector
  * count, still ≪ rows). Every train/test fan-out happens on that bounded
  * aggregate (a broadcast join with a ≤5-row model list), so k-fold CV and
  * the 4-tier learning curve each cost ONE shuffle over the fact table — not
  * k training scans. The ≤ 5 rule bases are collected to the driver and the
  * held-out rows are scored row-locally against their model's base.
  */
object Crossval {
  private val K = 5

  /** Deterministic, engine-portable, key-order-decorrelated fold id. */
  private[queries] def foldExpr: Column =
    (((col("l_orderkey") % 100000000L) * lit(8L) + col("l_linenumber"))
       * lit(2654435761L) % lit(1000000007L)) % lit(K)

  /** The one row-scale shuffle: distinct vectors WITH fold, multiplicity.
    * Eagerly localCheckpointed (the Features.scala:353 idiom): the bounded
    * ≤ 5·|vectors| aggregate feeds 4+ consumers whose differing column
    * pruning defeats ReusedExchange — without the checkpoint the plan
    * re-scans the fact table once per consumer (measured: 8 scans). */
  private def gexAll(spark: SparkSession, dir: String): DataFrame =
    ChiMl.vectorGex(spark, dir, "fold" -> foldExpr).materialized

  /** Train one Chi-CS model per distinct `model` key in `trainG` and score
    * it on the matching rows of `testG` — ChiMl's R3–R10 chain with `model`
    * as the rule-base, cost-vector and scoring key.
    *
    * trainG: (model, x1, x2, a1, a2, cls, mcnt); testG: (model, x1, x2,
    * cls, m). Returns (model, n_train, n_test, tp, tn, fp, fn, accuracy,
    * gm), one row per model. */
  private def evalModels(trainG: DataFrame, testG: DataFrame): DataFrame = {
    val key = Seq("model")
    val rb = ChiMl.ruleBaseFrom(trainG, ChiMl.costOf(trainG, key), rbKey = key)
    val win = ChiMl.classify(testG, ChiMl.held(rb, col("model")), Some("model"))
    val nTrain = trainG.groupBy("model").agg(sum("mcnt").as("n_train"))
    ChiMl.binaryConfusion(win, "cls", "rcls", col("m"), key)
      .join(broadcast(nTrain), key)
      .select(Seq(col("model"), col("n_train"),
                  (col("tp") + col("tn") + col("fp") + col("fn")).as("n_test"),
                  col("tp"), col("tn"), col("fp"), col("fn")) ++ ChiMl.accuracyGm: _*)
  }

  /** x198: 5-FOLD CROSS-VALIDATION — every fold's rule base trained on the
    * other four folds and scored on its own held-out fold (FSS 2015 §5). */
  def x198(spark: SparkSession, dir: String): DataFrame = {
    val gex = gexAll(spark, dir)
    val models = spark.range(K).select(col("id").cast(IntegerType).as("model"))
    // 4-of-5 fan-out over the bounded aggregate, re-compressed per model
    val trainG = gex.join(broadcast(models), col("fold") =!= col("model"))
      .groupBy("model", "x1", "x2", "a1", "a2", "cls")
      .agg(sum("mcnt").as("mcnt"))
    val testG = ChiMl.scoringGrid(
      gex.withColumn("model", col("fold").cast(IntegerType)), Seq("model"))
    evalModels(trainG, testG)
      .select(col("model").cast(LongType).as("fold"),
              col("n_test"), col("tp"), col("tn"), col("fp"), col("fn"),
              col("accuracy"), col("gm"))
      .orderBy("fold")
  }

  /** x200: LEARNING CURVE — sample-efficiency of the rule base: tier t
    * trains on folds 1..t (nested training sets, 20/40/60/80 % of the data)
    * and every tier scores the SAME held-out fold 0, so the accuracy/GM
    * trajectory isolates training-set size as the only moving part — the
    * paper family's "how much data does the FRBCS need" ablation. The
    * curve's diagnostic read: GM flat across tiers ⇒ the 18-candidate rule
    * space saturates early (more data sharpens weights, not structure). */
  def x200(spark: SparkSession, dir: String): DataFrame = {
    val gex = gexAll(spark, dir)
    val tiers = spark.range(1, K.toLong).select(col("id").cast(IntegerType).as("model"))
    val trainG = gex.join(broadcast(tiers),
        col("fold") >= 1 && col("fold") <= col("model"))
      .groupBy("model", "x1", "x2", "a1", "a2", "cls")
      .agg(sum("mcnt").as("mcnt"))
    val testG = ChiMl.scoringGrid(
      gex.filter(col("fold") === 0).crossJoin(broadcast(tiers)), Seq("model"))
    evalModels(trainG, testG)
      .select(col("model").cast(LongType).as("tier"),
              col("n_train"), col("n_test"),
              col("tp"), col("tn"), col("fp"), col("fn"),
              col("accuracy"), col("gm"))
      .orderBy("tier")
  }
}
