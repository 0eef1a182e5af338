package graft.queries

import graft.engine.Mat.MatOps
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.engine.Tables
import graft.engine.chi.{ChiCSModel, ChiCore, ChiRule}
import graft.engine.chi.ChiCore.TriPartition

/** q38–q43: the reference's entire ML surface (Chi-FRBCS-BigDataCS operators
  * R2–R10, SURVEY.md §2.1/§2.3) as oracle-checked DataFrame queries.
  *
  * Derived classification task over lineitem: attributes x1=l_quantity
  * (range [1,50]), x2=l_discount ([0,0.1]), binary label
  * pos := l_extendedprice > 95000 (≈9.6 % minority → cost IR ≈ 9.3).
  *
  * Learning and scoring are the estimator's ([[ChiCore.learnRules]],
  * [[ChiCore.winningRule]]), adapted here to the two-feature frames.
  *
  * 100 TB posture: the class counts (≤ |C| rows per cost key) are collected
  * and priced on the driver; the learner's only shuffle is the
  * antecedent-keyed aggregation, which sums every class and seeds the
  * candidates in one pass and resolves conflicts on its own partitioning —
  * the reference's single-reducer merge becomes a partial+final agg.
  * Per-term weights are rounded to 12dp and summed as DECIMAL(38,12):
  * exact, order-independent, shuffle-safe (SURVEY.md §7.4.2). The resolved
  * rule base is collected to the driver and scoring is a row-local
  * projection over it: no window, no exchange.
  */
object ChiMl {
  private[queries] val P1 = TriPartition(1.0, 50.0)  // l_quantity
  private[queries] val P2 = TriPartition(0.0, 0.1)   // l_discount

  /** Labeled, fuzzy-labeled training view: one row per lineitem with
    * (x1, x2, cls, a1, a2) where a_i is the argmax membership label. */
  private[queries] def labeled(spark: SparkSession, dir: String): DataFrame =
    // deliberately NOT fanned out: the argmax + partial agg pipeline on a
    // single scan task beats paying a sort+shuffle of every row (measured)
    Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_linenumber"),
              col("l_quantity").as("x1"), col("l_discount").as("x2"),
              when(col("l_extendedprice") > 95000, 1).otherwise(0).as("cls"))
      .withColumn("a1", ChiCore.argmaxLabel(ChiCore.memberships(col("x1"), P1)))
      .withColumn("a2", ChiCore.argmaxLabel(ChiCore.memberships(col("x2"), P2)))

  /** Match degree of (x1, x2) against labels (ra1, ra2) under the t-norm.
    * PRODUCT is [P1]'s t-norm (and every key's but one); MINIMUM is the
    * other classical FRBCS conjunction, ablated by x285. */
  private def matchDegree(tnormMin: Boolean): Column = {
    val m1 = ChiCore.membershipAt(col("x1"), col("ra1"), P1)
    val m2 = ChiCore.membershipAt(col("x2"), col("ra2"), P2)
    if (tnormMin) least(m1, m2) else m1 * m2
  }

  /** The distinct-feature-vector training aggregate every fit consumes:
    * (key…, x1, x2, a1, a2, cls, mcnt), each `key` a (name, column) of the
    * example. Identical examples weigh identically, so the fit works
    * |vectors|·|candidates| decimal terms instead of |rows|·|candidates|;
    * callers that read it more than once (a fit plus its scoring grid, two
    * fits) pass ONE materialized copy so the corpus is scanned once. */
  private[queries] def vectorGex(spark: SparkSession, dir: String,
                                 key: (String, Column)*): DataFrame =
    key.foldLeft(labeled(spark, dir)) { case (d, (k, c)) => d.withColumn(k, c) }
      .groupBy((key.map(_._1) ++ Seq("x1", "x2", "a1", "a2", "cls")).map(col): _*)
      .agg(count(lit(1)).as("mcnt"))

  /** The two-feature adapter onto the shared CS-PCF learner
    * ([[ChiCore.learnRules]], R3–R7): one rule base per distinct `rbKey`
    * value of `gex` (key columns ++ x1, x2, a1, a2, cls, mcnt), each
    * example weighed by the `cost` factor on the learner's (…, __cls):
    * [[costOf]] / [[costCase]] for the CS variant, [[unitCost]] for the
    * BASE Chi-FRBCS (plain PCF). Global keys pass no `rbKey`, the m-chunk
    * mappers (x281/x308) key the rule base by (mappers, chunk) but keep
    * the cost vector global, cross-validation keys both by `model`.
    * Returns (rbKey…, ra1, ra2, rcls, rw). The learner's terms and its
    * seeds each read `gex`, and an unmaterialized frame is computed once
    * per read: a `gex` that scans the corpus is passed materialized. */
  private[queries] def ruleBaseFrom(gex: DataFrame,
                                    cost: Column,
                                    tnormMin: Boolean = false,
                                    rbKey: Seq[String] = Nil): DataFrame = {
    val agg = gex
      .withColumn("__ant", array(col("a1"), col("a2")))
      .withColumnRenamed("cls", "__cls").withColumnRenamed("mcnt", "__m")
    ChiCore.learnRules(agg, Seq("x1", "x2"), Seq(P1, P2), cost, Seq(0, 1), tnormMin,
                       key = rbKey)
      .select(rbKey.map(col) ++ Seq(col("__ant")(0).as("ra1"), col("__ant")(1).as("ra2"),
                                    col("__cls").as("rcls"), col("rw")): _*)
  }

  /** The BASE Chi-FRBCS cost factor: every example weighs 1. */
  private[queries] val unitCost: Column = lit(1.0)

  /** Class counts collected to the driver: per cost-key value (in key
    * order), its (cls, n) pairs in class order. */
  private[graft] type ClassCounts = Seq[(Seq[Any], Seq[(Int, Long)])]

  /** The class counts of `gex` per `costKey` value, in one collect of
    * ≤ |keys|·|C| rows. */
  private[graft] def classCounts(gex: DataFrame, costKey: Seq[String] = Nil): ClassCounts = {
    val k = costKey.size
    gex.groupBy((costKey :+ "cls").map(col): _*).agg(sum(col("mcnt"))).collect()
      .groupBy(r => (0 until k).map(r.get)).toSeq.sortBy(_._1.mkString(","))
      .map { case (kv, rows) => kv -> rows.toSeq.map(r => r.getInt(k) -> r.getLong(k + 1)).sorted }
  }

  /** The R3 cost vector of collected class counts as a literal CASE on
    * the learner's (costKey…, __cls), priced by [[ChiCore.imbalanceCosts]],
    * the estimator's own formula. Branches are emitted in key and class
    * order, so equal counts give the same expression (and the same
    * generated code) on every call. */
  private def costCase(counts: ClassCounts, costKey: Seq[String] = Nil): Column =
    counts.foldLeft(when(lit(false), 0.0)) { case (acc, (kv, cs)) =>
      val at = costKey.zip(kv).map { case (c, v) => col(c) === lit(v) }
      ChiCore.imbalanceCosts(cs).toSeq.sorted.foldLeft(acc) { case (a, (c, v)) =>
        a.when((at :+ (col("__cls") === c)).reduce(_ && _), v)
      }
    }.otherwise(1.0)

  /** The R3 cost vector of `gex` per `costKey` value. */
  private[queries] def costOf(gex: DataFrame, costKey: Seq[String] = Nil): Column =
    costCase(classCounts(gex, costKey), costKey)

  /** The no-match fallback class: the majority class of collected class
    * counts, summed over their keys (tie → lowest class). Empty counts
    * score no row, so any class serves them. */
  private def majority(counts: ClassCounts): Int =
    counts.flatMap(_._2).groupMapReduce(_._1)(_._2)(_ + _)
      .minByOption { case (c, n) => (-n, c) }.fold(0)(_._1)

  /** A (…, ra1, ra2, rcls, rw) rule-base frame collected to the driver,
    * one array per value of the integer `key`. */
  private[queries] def held(rb: DataFrame, key: Column = lit(0)): Map[Int, Array[ChiRule]] =
    rb.select(key, col("ra1"), col("ra2"), col("rcls"), col("rw"))
      .collect()
      .groupBy(_.getInt(0))
      .map { case (k, rs) =>
        k -> rs.map(r => ChiRule(Array(r.getInt(1), r.getInt(2)), r.getInt(3), r.getDouble(4)))
      }

  /** The scoring grain: (key…, x1, x2, cls, m) — one row per distinct
    * feature vector and class, with its multiplicity. */
  private[queries] def scoringGrid(gex: DataFrame, key: Seq[String] = Nil): DataFrame =
    gex.groupBy((key ++ Seq("x1", "x2", "cls")).map(col): _*)
      .agg(sum(col("mcnt")).as("m"))

  /** The winning-rule classifier (R9) of the two-feature keys: every row
    * of a scoring grid (key…, x1, x2, cls, m) gains its winner (ra1, ra2,
    * rcls, score) from [[ChiCore.winningRule]] over `bases(key)`, in
    * the total order score desc, rcls, ra1, ra2. Rows whose rule base is
    * empty drop out, as under the oracle SQL's cross join with it. */
  private[queries] def classify(grid: DataFrame, bases: Map[Int, Array[ChiRule]],
                                key: Option[String] = None,
                                tnormMin: Boolean = false): DataFrame = {
    val live = bases.collect { case (k, rs) if rs.nonEmpty => k }.toSeq
    grid.filter(key.fold(lit(live.nonEmpty))(col(_).isin(live: _*)))
      .withColumn("__win", ChiCore.winningRule(grid.sparkSession, bases, Array(P1, P2),
        Seq(col("x1"), col("x2")), tnormMin, key.fold(lit(0))(col)))
      .select(col("*"), col("__win.ant")(0).as("ra1"), col("__win.ant")(1).as("ra2"),
              col("__win.cls").as("rcls"), col("__win.score").as("score"))
      .drop("__win")
  }

  /** The global CS (or base) rule base fitted on `vg` — a materialized
    * [[vectorGex]] — applied to the same vectors: (x1, x2, cls, m, ra1, ra2,
    * rcls, score), one row per distinct (x1, x2, cls). */
  private def classified(vg: DataFrame, costSensitive: Boolean = true): DataFrame =
    classify(scoringGrid(vg), held(ruleBaseFrom(vg, if (costSensitive) costOf(vg) else unitCost)))

  /** THE binary confusion aggregate (R10): tp/tn/fp/fn as sums of `mass`
    * over the 0/1 `actual` and `predicted` columns, grouped by `by`, plus
    * the tpr and tnr columns. */
  private[queries] def binaryConfusion(df: DataFrame, actual: String, predicted: String,
                                       mass: Column, by: Seq[String] = Nil): DataFrame = {
    def cell(a: Int, p: Int): Column =
      sum(when(col(actual) === a && col(predicted) === p, mass).otherwise(0L))
    df.groupBy(by.map(col): _*)
      .agg(cell(1, 1).as("tp"), cell(0, 0).as("tn"), cell(0, 1).as("fp"), cell(1, 0).as("fn"))
      .withColumn("tpr", col("tp") * lit(1.0) / (col("tp") + col("fn")))
      .withColumn("tnr", col("tn") * lit(1.0) / (col("tn") + col("fp")))
  }

  /** The no-match fallback: `win` gains `pred`, the winner's class where
    * its `evidence` column is positive, else the `majority` class. */
  private def predictOrMajority(win: DataFrame, majority: Int, evidence: String): DataFrame =
    win.withColumn("pred", when(col(evidence) > 0, col("rcls")).otherwise(majority))

  /** 6-dp accuracy and GM of a [[binaryConfusion]] row. */
  private[queries] val accuracyGm: Seq[Column] = Seq(
    round((col("tp") + col("tn")) * lit(1.0) /
          (col("tp") + col("tn") + col("fp") + col("fn")), 6).as("accuracy"),
    round(sqrt(col("tpr") * col("tnr")), 6).as("gm"))

  /** Accuracy and GM in bit-stable integer micro-units of a
    * [[binaryConfusion]] row (the ablation reports' shape). */
  private val ppmMetrics: Seq[Column] = Seq(
    round((col("tp") + col("tn")) * lit(1000000.0) /
          (col("tp") + col("tn") + col("fp") + col("fn")), 0).cast(LongType).as("acc_ppm"),
    round(sqrt(col("tpr") * col("tnr")) * 1000000, 0).cast(LongType).as("gm_ppm"))

  /** q38: class counts + cost vector (R3), priced on the driver by the
    * learner's own [[ChiCore.imbalanceCosts]]. */
  def q38(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val counts = labeled(spark, dir).groupBy("cls").agg(count(lit(1))).collect()
      .map(r => r.getInt(0) -> r.getLong(1)).sortBy(_._1).toSeq
    val costs = ChiCore.imbalanceCosts(counts)
    counts.map { case (c, n) => (c.toLong, n, costs(c)) }.toDF("cls", "n", "cost")
      .select(col("cls"), col("n"), round(col("cost"), 6).as("cost"))
  }

  /** q39: raw 3-label membership values of the two attributes (R2). */
  def q39(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir).filter(col("l_orderkey") < 100)
      .select(col("l_orderkey"), col("l_linenumber"),
              col("l_quantity").as("x1"), col("l_discount").as("x2"))
    val q = ChiCore.memberships(col("x1"), P1)
    val d = ChiCore.memberships(col("x2"), P2)
    li.select(col("l_orderkey"), col("l_linenumber").cast(LongType).as("l_linenumber"),
              round(q(0), 6).as("q_lo"), round(q(1), 6).as("q_mid"), round(q(2), 6).as("q_hi"),
              round(d(0), 6).as("d_lo"), round(d(1), 6).as("d_mid"), round(d(2), 6).as("d_hi"),
              col("x1"), col("x2"))
      .orderBy("l_orderkey", "l_linenumber", "x1", "x2")
      .drop("x1", "x2")
  }

  /** q40: candidate rule generation — argmax antecedent per example (R4). */
  def q40(spark: SparkSession, dir: String): DataFrame =
    labeled(spark, dir)
      .groupBy("a1", "a2", "cls").agg(count(lit(1)).as("n"))
      .select(col("a1").cast(LongType).as("a1"), col("a2").cast(LongType).as("a2"),
              col("cls").cast(LongType).as("cls"), col("n"))
      .orderBy("a1", "a2", "cls")

  /** q41: the final rule base with CS-PCF weights (R5–R7). */
  private def ruleBaseOut(rb: DataFrame): DataFrame =
    rb.select(col("ra1").cast(LongType).as("a1"), col("ra2").cast(LongType).as("a2"),
              col("rcls").cast(LongType).as("cls"), round(col("rw"), 6).as("rw"))
      .orderBy("a1", "a2")

  private def confusionOut(cl: DataFrame): DataFrame =
    cl.groupBy(col("cls").cast(LongType).as("actual"),
               col("rcls").cast(LongType).as("predicted"))
      .agg(sum(col("m")).as("n"))
      .orderBy("actual", "predicted")

  def q41(spark: SparkSession, dir: String): DataFrame = {
    val vg = vectorGex(spark, dir).materialized
    ruleBaseOut(ruleBaseFrom(vg, costOf(vg)))
  }

  /** q42: winning-rule classification → confusion matrix (R9/R10). */
  def q42(spark: SparkSession, dir: String): DataFrame =
    confusionOut(classified(vectorGex(spark, dir).materialized))

  /** x51: the BASE (non-cost-sensitive) Chi-FRBCS rule base — q41's chain
    * with unit costs. Same plan shape; the learned weights differ wherever
    * the cost vector tipped a conflict toward the minority class. */
  def x51(spark: SparkSession, dir: String): DataFrame =
    ruleBaseOut(ruleBaseFrom(vectorGex(spark, dir).materialized, unitCost))

  /** x52: base-variant confusion matrix — q42 without cost weighting; read
    * against q42 it quantifies what cost-sensitivity buys on the minority
    * class (the reference family's own CS-vs-base comparison). */
  def x52(spark: SparkSession, dir: String): DataFrame =
    confusionOut(classified(vectorGex(spark, dir).materialized, costSensitive = false))

  /** q43: accuracy / TPR / TNR / GM / AUC from the confusion matrix (R10). */
  def q43(spark: SparkSession, dir: String): DataFrame = {
    val cm = binaryConfusion(classified(vectorGex(spark, dir).materialized),
                             "cls", "rcls", col("m"))
    val Seq(accuracy, gm) = accuracyGm
    val fpr: Column = col("fp") * lit(1.0) / (col("fp") + col("tn"))
    cm.select(accuracy, round(col("tpr"), 6).as("tpr"), round(col("tnr"), 6).as("tnr"), gm,
              round((lit(1) + col("tpr") - fpr) / lit(2), 6).as("auc"))
  }

  /** x201: PER-RULE COVERAGE — the FRBCS model card: for every rule in the
    * CS rule base, the example mass it WINS (fires as the argmax rule), how
    * much of that mass it classifies correctly, its precision, and its share
    * of the corpus — the explainability view that tells a rule-base author
    * which of the ≤9 rules do the work and which are dead weight. Rules that
    * never win stay in the report with zero mass (left join from the rule
    * base), because "this rule never fires" is the finding.
    *
    * 100 TB: the win assignment rides the q42 distinct-vector device (the
    * only row-scale work is the vector compression; each vector is scored
    * row-locally, no window); the coverage rollup groups ≤|vectors| rows
    * by ≤9 rules. */
  def x201(spark: SparkSession, dir: String): DataFrame = {
    // one corpus scan: the rule base and the winners share one aggregate
    val vg = vectorGex(spark, dir).materialized
    val rb = ruleBaseFrom(vg, costOf(vg))
      .select(col("ra1").as("ba1"), col("ra2").as("ba2"),
              col("rcls").as("bcls"), col("rw").as("brw"))
    val winAgg = classified(vg)
      .groupBy("ra1", "ra2", "rcls")
      .agg(sum(col("m")).as("n_won"),
           sum(when(col("cls") === col("rcls"), col("m")).otherwise(0L)).as("n_correct"))
    val total = Window.partitionBy() // over the ≤9-row joined aggregate
    rb.join(winAgg,
        col("ba1") === col("ra1") && col("ba2") === col("ra2") &&
        col("bcls") === col("rcls"), "left")
      .select(col("ba1").cast(LongType).as("a1"), col("ba2").cast(LongType).as("a2"),
              col("bcls").cast(LongType).as("cls"), round(col("brw"), 6).as("rw"),
              coalesce(col("n_won"), lit(0L)).as("n_won"),
              coalesce(col("n_correct"), lit(0L)).as("n_correct"))
      .withColumn("rule_precision",
        when(col("n_won") > 0, round(col("n_correct") * lit(1.0) / col("n_won"), 6)))
      .withColumn("win_share",
        round(col("n_won") * lit(1.0) / sum(col("n_won")).over(total), 6))
      .orderBy("a1", "a2")
  }

  /** x202: CONFIDENCE CALIBRATION of the winning rule's ACTIVATION —
    * reliability table: the matching degree μ₁·μ₂ ∈ [0,1] of each example
    * against its winning rule, bucketed into deciles, per bucket the
    * example mass, the mean activation, and the empirical accuracy. Read as
    * "when the example matches its firing rule at degree 0.8–0.9, how often
    * is the verdict right?" — the calibration story behind q43's single
    * headline number. (Calibrating on the rw-weighted SCORE would be
    * useless here: rule weights are ~0.001–0.03, so every score lands in
    * decile 0; activation is the [0,1]-scaled confidence the fuzzy
    * semantics actually define. The WINNER is still chosen by score — the
    * classifier's real decision rule.)
    *
    * 100 TB: same distinct-vector chassis; the bucket rollup is ≤10 keys.
    * Mean activation is the exact-integer trick at 6 dp (the report's own
    * precision): SUM(round(act,6)·1e6·m) is an exact BIGINT that cannot
    * overflow below ~9×10¹² examples, and the mean divides two exact
    * integers once — no float accumulation order to disagree across
    * engines. (×1e12 would be exacter but overflows int64 at ~9M rows.) */
  def x202(spark: SparkSession, dir: String): DataFrame = {
    val win = classified(vectorGex(spark, dir).materialized)
      .withColumn("act", round(matchDegree(tnormMin = false), 12))
      .withColumn("bucket",
        least(floor(col("act") * 10).cast(LongType), lit(9L)))
      .withColumn("act_p6", round(col("act") * 1e6, 0).cast(LongType))
    win.groupBy("bucket")
      .agg(sum(col("m")).as("n"),
           sum(col("act_p6") * col("m")).as("sp6"),
           sum(when(col("cls") === col("rcls"), col("m")).otherwise(0L)).as("n_correct"))
      .select(col("bucket"), col("n"),
              round(col("sp6") * lit(1.0) / (col("n") * lit(1e6)), 6).as("mean_activation"),
              col("n_correct"),
              round(col("n_correct") * lit(1.0) / col("n"), 6).as("accuracy"))
      .orderBy("bucket")
  }

  /** x199: McNEMAR'S PAIRED TEST, CS vs base classifier — the reference
    * family's own protocol for claiming one classifier beats another on THE
    * SAME examples (paired, not two independent accuracy runs): the
    * continuity-corrected statistic (|b−c|−1)²/(b+c) over the discordant
    * counts b = CS-only-correct mass, c = base-only-correct mass, with the
    * 1-df 95 % critical value (3.841) applied as a literal so the verdict
    * is engine-portable. Read with x52/q42 it answers "does the cost vector
    * SIGNIFICANTLY change classification, or just shuffle ties?".
    *
    * 100 TB: both classifications are per DISTINCT feature vector with
    * multiplicity (the q42 device), so the pairing join is bounded by
    * |vectors| — broadcast — and each example's (cs, base) verdict pair is
    * weighted by its multiplicity in one final 1-row aggregate. */
  def x199(spark: SparkSession, dir: String): DataFrame = {
    // one corpus scan: both fits and both scorings share one aggregate
    val vg = vectorGex(spark, dir).materialized
    val cs = classified(vg)
      .select(col("x1"), col("x2"), col("cls").as("actual"),
              col("rcls").as("pred_cs"), col("m"))
    val base = classified(vg, costSensitive = false)
      .select(col("x1").as("bx1"), col("x2").as("bx2"),
              col("cls").as("bactual"), col("rcls").as("pred_base"))
    // (x1, x2, actual) is the classification grain on both sides → 1:1 join
    val csOk = col("pred_cs") === col("actual")
    val baseOk = col("pred_base") === col("bactual")
    val agg = cs.join(broadcast(base),
        col("x1") === col("bx1") && col("x2") === col("bx2") &&
        col("actual") === col("bactual"))
      .agg(sum(when(csOk && baseOk, col("m")).otherwise(0L)).as("n11"),
           sum(when(csOk && !baseOk, col("m")).otherwise(0L)).as("n10"),
           sum(when(!csOk && baseOk, col("m")).otherwise(0L)).as("n01"),
           sum(when(!csOk && !baseOk, col("m")).otherwise(0L)).as("n00"))
    val b = col("n10"); val c = col("n01")
    val num = (abs(b - c) - 1) * (abs(b - c) - 1)
    // zero-discordance guard: when the two classifiers never disagree
    // (b+c = 0) the statistic is undefined — emit NULL on both engines
    // (Spark double division would yield NaN, DuckDB NULL; the guard
    // makes the agreement explicit instead of data-dependent).
    val defined = (b + c) > 0
    agg.select(col("n11"), col("n10"), col("n01"), col("n00"),
      when(defined, round(num * lit(1.0) / (b + c), 6)).as("chi2_stat"),
      when(defined, num * lit(1.0) / (b + c) > 3.841).as("significant_95"))
  }

  /** x272: DECILE LIFT & GAINS TABLE — the model-eval readout every scored
    * campaign/ranking review reads: test examples ordered by the
    * classifier's winning-rule score, cut into 10 exact population deciles,
    * each reporting size, positives, positive rate, cumulative capture of
    * all positives, and lift vs the base rate (all ppm — exact integer
    * floor division; lift is defined as ppm-rate over ppm-base-rate, so no
    * term ever exceeds rate·10⁶ ≤ 10¹² and the arithmetic stays exact
    * BIGINT to ~9·10¹² examples without HUGEINT).
    *
    * Decile assignment is EXACT under ties and group multiplicity: scoring
    * happens at the distinct-feature-vector grain (the q42 device — the
    * classification grain, GRID-bounded at ≤ \|x1 grid\|·\|x2 grid\|·2
    * rows regardless of data size), each group occupies the row interval
    * [cum+1, cum+m] under the total order (score DESC, x1, x2, cls), and
    * its overlap with each decile interval [⌊(d−1)N/10⌋+1, ⌊dN/10⌋] is
    * computed by interval intersection — a group straddling a boundary
    * splits exactly, no per-row rank ever materializes.
    *
    * 100 TB: the data-sized work is ONE groupBy to the grid-bounded grain
    * (map-side combinable); ranking, spans and decile cells all live on
    * that bounded frame (the unpartitioned windows sit over aggregate
    * output — hundreds of rows). A per-row global sort (the ntile idiom)
    * would shuffle every example; this never ranks rows at all. */
  def x272(spark: SparkSession, dir: String): DataFrame = {
    val best = classified(vectorGex(spark, dir).materialized)
      .select(col("x1"), col("x2"), col("cls"), col("m"), col("score"))
    val ord = Window.orderBy(col("score").desc, col("x1"), col("x2"), col("cls"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val spans = best
      .withColumn("lo", coalesce(sum(col("m")).over(ord), lit(0L)) + lit(1L))
      .withColumn("hi", col("lo") + col("m") - lit(1L))
    val tot = best.agg(sum(col("m")).as("tot_n"),
      sum(when(col("cls") === 1, col("m")).otherwise(0L)).as("tot_p"))
    val deciles = spark.range(1, 11).select(col("id").as("decile"))
    val cells = spans.crossJoin(broadcast(tot)).crossJoin(broadcast(deciles))
      .withColumn("dlo", expr("(decile - 1) * tot_n DIV 10 + 1"))
      .withColumn("dhi", expr("decile * tot_n DIV 10"))
      .withColumn("ov", greatest(lit(0L),
        least(col("hi"), col("dhi")) - greatest(col("lo"), col("dlo")) + lit(1L)))
      .filter(col("ov") > 0)
    val perD = cells.groupBy("decile")
      .agg(sum(col("ov")).as("n"),
           sum(when(col("cls") === 1, col("ov")).otherwise(0L)).as("n_pos"),
           max(col("tot_n")).as("tot_n"), max(col("tot_p")).as("tot_p"))
    val cum = Window.orderBy("decile")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    perD.withColumn("cum_pos", sum(col("n_pos")).over(cum))
      .select(col("decile"), col("n"), col("n_pos"),
        expr("n_pos * 1000000 DIV n").as("pos_rate_ppm"),
        expr("cum_pos * 1000000 DIV tot_p").as("cum_capture_ppm"),
        expr("(n_pos * 1000000 DIV n) * 1000000 DIV (tot_p * 1000000 DIV tot_n)")
          .as("lift_ppm"))
      .orderBy("decile")
  }

  /** x281: m-CHUNK MAP-SIDE LEARNING ABLATION — the paper's actual
    * MapReduce scheme ([P1 §4.2], SURVEY §2.1 R5/R7): each of m mappers
    * learns a rule base over ITS data chunk only (chunk-local CS-PCF
    * weights, chunk-local conflict resolution) and the reducer fuses the
    * partial bases keeping, per antecedent, the rule with maximum weight
    * (tie → lowest class). Every other key here computes the exact GLOBAL
    * rule base (≡ m = 1 — a strictly better, mapper-count-independent
    * answer the paper's single-pass scheme cannot reach); this key
    * reproduces the paper's m-SENSITIVITY — its §5.3 scaling axis — at
    * m ∈ {1, 4, 16} with DETERMINISTIC chunking: the portable Knuth mix of
    * (l_orderkey, l_linenumber), a reproducible stand-in for HDFS split
    * assignment both engines replay. The cost vector and majority class
    * stay GLOBAL (the paper derives the IR costs from the full training
    * distribution before the map phase). Output per m: fused RB size and
    * training accuracy / GM in bit-stable micro-units.
    *
    * m = 1 is the identity leg — Round12Spec pins its fused RB ≡ the
    * global q41/x06 rule base rule-for-rule. At m > 1 each chunk's RW
    * denominator sees only that chunk's counter-example mass, so partial
    * RWs drift UP for locally-clean antecedents and max-RW fusion keeps
    * the most optimistic chunk's consequent. Measured drift at sf0.01
    * (driver-checked values): RB size stays 9 at every m — the antecedent
    * grid is saturated — but the CONSEQUENTS flip: accuracy climbs
    * 458 967 → 489 067 → 819 000 ppm while GM collapses
    * 502 129 → 508 505 → 307 556 ppm from m=1 to m=16. That is the paper's
    * §5.3 observation reproduced: chunk-local weighting dissolves the
    * cost-sensitive minority protection as the mapper count grows, trading
    * minority recall (GM) for raw accuracy.
    *
    * 100 TB: one plan serves all three m values ([[mChunkReport]]). The
    * corpus is scanned ONCE: the FINEST (m = 16) chunk aggregate is
    * checkpointed and stacked once per m with `chunk % m` — exact because
    * every declared m divides 16, so (k mod 16) mod m ≡ k mod m, and no
    * re-aggregation is needed: each weight term is rounded before its
    * multiplicity factor and DECIMAL × count is distributive, so the finer
    * multiplicities give the same weight sums, class counts and scoring
    * grid as their merged rows. Every mapper count is a key group of ONE
    * (mappers, chunk, antecedent)-keyed learner shuffle — the paper's m
    * single-JVM mappers become m logical key groups, so m scales freely
    * without re-planning; the ≤ (1 + 4 + 16)·L² partial rules are
    * collected once and fused on the driver, and the m-independent scoring
    * grid is scored row-locally against the m-keyed fused bases (no
    * window) and reduced by one m-grouped confusion aggregate. */
  def x281(spark: SparkSession, dir: String): DataFrame =
    mChunkReport(spark, dir, mChunkMaxFused)

  /** x308: THE Chi-FRBCS-BigData-AVE FUSION VARIANT — x281's m-chunk
    * ablation under the paper's SECOND reducer ([P2]'s Max/Ave pair,
    * SURVEY §2.3's last OPEN algorithm): instead of keeping the single
    * maximum-weight partial rule per antecedent, Ave first AVERAGES the
    * weights of equal-(antecedent, consequent) rules across the partial
    * RBs that learned them, then keeps the consequent with the higher
    * averaged weight. Averaging rewards CONSISTENCY across chunks where
    * Max rewards one optimistic chunk — the paper's motivation for
    * shipping both. Same grid (m ∈ {1, 4, 16}), same single-scan
    * checkpointed-gex device, same (m, n_rules, acc_ppm, gm_ppm) report;
    * Round14Spec pins the m=1 degeneracy (Ave ≡ Max when there is one
    * chunk) and an Ave-vs-Max consequent flip on a planted conflict.
    * Measured at sf0.01 (driver-checked): identical at m=1 (458967 /
    * 502129 ppm), then Ave softens Max's drift — acc 578600 vs 489067 at
    * m=4, and at m=16 Ave holds GM at 359130 ppm where Max collapses to
    * 307556 (accuracy 776450 vs 819000): averaging damps the optimistic
    * chunk-local weights that dissolve minority protection under Max,
    * exactly the paper's stated reason for shipping the Ave reducer.
    *
    * 100 TB: identical shape to x281 — the fuse's only new work is a
    * (mappers, antecedent, consequent)-keyed BIGINT partial+final
    * aggregate over the ≤ (1 + 4 + 16)·L² partial rules, bounded at any
    * m. */
  def x308(spark: SparkSession, dir: String): DataFrame =
    mChunkReport(spark, dir, mChunkAveFused)

  /** x281/x308's mapper counts; each divides 16, the finest chunking. */
  private val MapperCounts = Seq(1, 4, 16)

  /** One copy of `df` per mapper count, keyed by `mappers`. */
  private def perMapperCount(df: DataFrame): DataFrame =
    df.withColumn("mappers", explode(typedLit(MapperCounts)))

  /** A reducer: the partial rule bases (mappers, chunk, ra1, ra2, rcls,
    * rw) fused into one base per mapper count. */
  private[graft] type Fuse = DataFrame => Map[Int, Array[ChiRule]]

  /** Chunk-compressed training view of m mappers: one row per DISTINCT
    * (mappers = m, chunk, feature vector, argmax antecedent, class) with
    * multiplicity — every downstream input of the m-chunk chain derives
    * from this ONE aggregate. */
  private[graft] def mChunkGex(spark: SparkSession, dir: String, m: Int): DataFrame =
    vectorGex(spark, dir, "mappers" -> lit(m), "chunk" ->
      (((col("l_orderkey") % 100000000L) * lit(2654435761L) +
        col("l_linenumber") * lit(97564181L)) % lit(2147483647L) % m).cast(IntegerType))

  /** The CHUNK-LOCAL partial rule bases, each mapper's resolved RB: the
    * shared first half of both fusion variants, one base per (mappers,
    * chunk) of `gex`, under the global cost vector priced from `counts`.
    * Returns (mappers, chunk, ra1, ra2, rcls, rw). */
  private[graft] def mChunkPartialRb(gex: DataFrame, counts: ClassCounts): DataFrame =
    ruleBaseFrom(gex, costCase(counts), rbKey = Seq("mappers", "chunk"))

  /** Every mapper count's fused base off the checkpointed 16-chunk
    * aggregate: `gex16` is stacked once per m with `chunk % m` (exact for
    * every m | 16, see [[x281]]), learned in one keyed shuffle and fused
    * by `fuse`. */
  private[graft] def mChunkBases(gex16: DataFrame, counts: ClassCounts,
                                 fuse: Fuse): Map[Int, Array[ChiRule]] =
    fuse(mChunkPartialRb(
      perMapperCount(gex16).withColumn("chunk", col("chunk") % col("mappers")), counts))

  /** The fused Max rule base of m mappers, learned on its own (the
    * Round12Spec m=1 identity probe). */
  private[graft] def mChunkFusedRb(spark: SparkSession, dir: String,
                                   m: Int): Array[ChiRule] = {
    val gex = mChunkGex(spark, dir, m)
    mChunkMaxFused(mChunkPartialRb(gex, classCounts(gex))).getOrElse(m, Array.empty)
  }

  /** The reducer's MAX-RW fusion across chunks (Chi-FRBCS-BigData-Max,
    * [P2]): the partial rules are collected and fused on the driver by
    * [[ChiCSModel.mergeRuleBases]] — per antecedent the single partial rule
    * with maximum weight, tie → lowest class — one base per mapper count.
    * A per-antecedent maximum does not depend on which chunk a rule came
    * from, so each m's rules go in as one array. */
  private[graft] val mChunkMaxFused: Fuse = partial =>
    held(partial, col("mappers")).map { case (m, rs) => m -> ChiCSModel.mergeRuleBases(Seq(rs)) }

  /** [[mChunkAveFusedRbFrom]] collected, one base per mapper count. */
  private[graft] val mChunkAveFused: Fuse = partial =>
    held(mChunkAveFusedRbFrom(partial), col("mappers"))

  /** The reducer's AVERAGED-RW fusion (Chi-FRBCS-BigData-Ave, [P2] — the
    * SURVEY §2.3 Max/Ave pair's second member): per (mappers, antecedent,
    * consequent), average the rule weight across the partial RBs that
    * contain the rule; per (mappers, antecedent) keep the consequent with
    * the maximum averaged weight, tie → lowest class. Returns (mappers,
    * ra1, ra2, rcls, rw).
    *
    * Determinism protocol: each partial rw quantizes ONCE to integer
    * micro-units (round-to-0-decimals on `rw·10⁶` — the bit-stable
    * cross-engine device), the average's numerator is then an exact
    * BIGINT sum, and the cross-consequent comparison multiplies by
    * `720720 DIV cnt` (720720 = lcm(1..16) ≥ every chunk count), so
    * averages over DIFFERENT chunk counts compare in exact integers —
    * never a float divide inside an ORDER BY. The emitted rw is the
    * quantized average (s_micro / (cnt·10⁶), one IEEE divide both
    * engines spell identically). m = 1 degenerates to Max modulo the
    * micro quantization (Round14Spec pins report equality at sf0.001). */
  private[graft] def mChunkAveFusedRbFrom(partial: DataFrame): DataFrame = {
    val ave = partial
      .withColumn("rw_micro", round(col("rw") * 1000000, 0).cast(LongType))
      .groupBy("mappers", "ra1", "ra2", "rcls")
      .agg(sum(col("rw_micro")).as("s_micro"), count(lit(1)).as("cnt"))
    val byAnt = Window.partitionBy("mappers", "ra1", "ra2")
      .orderBy(expr("s_micro * (720720 DIV cnt)").desc, col("rcls"))
    ave.withColumn("fn", row_number().over(byAnt))
      .filter(col("fn") === 1)
      .select(col("mappers"), col("ra1"), col("ra2"), col("rcls"),
              (col("s_micro").cast(DoubleType) /
                (col("cnt") * 1000000L).cast(DoubleType)).as("rw"))
  }

  /** The (m, n_rules, acc_ppm, gm_ppm) report of every mapper count in
    * one plan: fuse on the driver, score the m-independent scoring grid
    * once per m against the m-keyed fused bases (winning-rule,
    * global-majority no-match fallback) and reduce to micro-unit accuracy
    * / GM in one m-grouped confusion aggregate. The checkpointed 16-chunk
    * aggregate is the only corpus-derived input of the whole chain; its
    * class counts, collected once, price the cost vector and name the
    * majority class. */
  private def mChunkReport(spark: SparkSession, dir: String, fuse: Fuse): DataFrame = {
    val gex16 = mChunkGex(spark, dir, 16).materialized
    val counts = classCounts(gex16)
    val bases = mChunkBases(gex16, counts, fuse)
    // literal per-m sizes, in m order: the same bases give the same code
    val nRules = MapperCounts.foldLeft(when(lit(false), 0L)) { (acc, m) =>
      acc.when(col("mappers") === m, bases.getOrElse(m, Array.empty).length.toLong)
    }.otherwise(0L)
    val grid = perMapperCount(scoringGrid(gex16))
    val win = predictOrMajority(classify(grid, bases, Some("mappers")), majority(counts), "score")
    binaryConfusion(win, "cls", "pred", col("m"), by = Seq("mappers"))
      .select(col("mappers").cast(LongType).as("m") +: nRules.as("n_rules") +: ppmMetrics: _*)
      .orderBy("m")
  }

  /** x285: FUZZY REASONING METHOD ABLATION — the FRBCS design grid the Chi
    * family is defined over: inference = {winning rule, additive
    * combination} × t-norm = {product, minimum}. [P1] fixes (winner,
    * product); the additive (normalized-sum) FRM and the min conjunction
    * are the other classical choices (Cordón/del Jesus/Herrera's FRM
    * study), and which cell you pick changes the learned weights AND the
    * decision boundary — this key measures all four cells on the same
    * task, train-to-metrics. The t-norm threads through BOTH phases:
    * rule-weight learning (the match degree inside the CS-PCF sums,
    * [[matchDegree]]) and classification scoring, exactly as the FRBCS
    * definition requires. The additive FRM sums per-class evidence in
    * EXACT pico-unit integers (round(score·10¹², 0) per rule term, ≤ 9
    * bounded terms, order-free BIGINT sum — the x202 device), so the class
    * argmax is bit-stable; no-evidence vectors fall back to the global
    * majority class, mirroring the winner FRM's no-match fallback.
    *
    * 100 TB: the corpus is scanned ONCE — both t-norm fits, the scoring
    * grain and the majority class derive from one checkpointed
    * distinct-vector aggregate (the q41 one-shuffle learner works on that
    * grid); the winner FRM scores row-locally against the driver-held
    * rule base and the additive FRM sums the grid-bounded (≤ grid·|RB|
    * rows) per-rule scores, so the whole 4-cell ablation costs one shuffle
    * over the data plus grid-sized work. */
  def x285(spark: SparkSession, dir: String): DataFrame = {
    // ONE corpus scan: both t-norm fits, the scoring grain, the cost vector
    // and the majority class all derive from the same checkpointed vector
    // aggregate, whose class counts are collected once
    val gex0 = vectorGex(spark, dir).materialized
    val counts = classCounts(gex0)
    // concurrent per-t-norm reports (independent eager fits off the one
    // checkpointed aggregate; identical outputs)
    graft.engine.Par.all(Seq(false, true).map(tn => () => frmReports(gex0, counts, tn)))
      .reduce(_ unionByName _).orderBy("frm", "tnorm")
  }

  /** Every (example, rule) pair of a scoring grid and a rule base with its
    * score round(μ1⊗μ2·rw, 12): the additive FRM's evidence. */
  private def ruleScores(grid: DataFrame, rb: DataFrame, tnormMin: Boolean): DataFrame =
    grid.crossJoin(broadcast(rb)).withColumn("score", round(matchDegree(tnormMin) * col("rw"), 12))

  /** Both FRM rows (winner + additive) for one t-norm. */
  private def frmReports(gex0: DataFrame, counts: ClassCounts, tnormMin: Boolean): DataFrame = {
    val tname = if (tnormMin) "min" else "prod"
    val fused = ruleBaseFrom(gex0, costCase(counts), tnormMin).materialized
    val rules = held(fused)
    val nRules = lit(rules.getOrElse(0, Array.empty).length.toLong).as("n_rules")
    val grid = scoringGrid(gex0)
    val maj = majority(counts)
    val winW = predictOrMajority(classify(grid, rules, tnormMin = tnormMin), maj, "score")
    // the additive FRM sums every rule's score (grid-bounded: ≤ |x1 grid|·
    // |x2 grid|·2·|RB| rows), in exact pico-units
    val votes = ruleScores(grid, fused, tnormMin)
      .withColumn("si", round(col("score") * lit(1e12), 0).cast(LongType))
      .groupBy("x1", "x2", "cls", "m", "rcls")
      .agg(sum(col("si")).as("v"))
    val perCls = Window.partitionBy("x1", "x2", "cls")
      .orderBy(col("v").desc, col("rcls"))
    val winA = predictOrMajority(
      votes.withColumn("rn", row_number().over(perCls)).filter(col("rn") === 1), maj, "v")
    def report(win: DataFrame, frm: String): DataFrame =
      binaryConfusion(win, "cls", "pred", col("m"))
        .select(lit(frm).as("frm") +: lit(tname).as("tnorm") +: nRules +: ppmMetrics: _*)
    report(winW, "winner").unionByName(report(winA, "additive"))
  }
}
