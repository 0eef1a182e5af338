package graft.engine.chi

import java.math.{BigDecimal => JBigDecimal, RoundingMode}

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Core of the Chi-FRBCS-CS engine, shared by the estimator and every Chi
  * query key (SURVEY.md §2.6): memberships, the R3 cost vector
  * ([[imbalanceCosts]], on the driver), THE CS-PCF learner ([[ruleWeights]],
  * R5) and THE conflict-resolution tail ([[resolveRules]], R6/R7) as pure
  * Column algebra inside whole-stage codegen — [[learnRules]] runs both in
  * one shuffle, as [P1]'s single MapReduce round does — and THE
  * winning-rule scorer ([[winningRule]], [[winningClass]], R9), the one
  * UDF: a row-local loop over a rule base held on the driver.
  *
  * Semantics per López/del Río/Benítez/Herrera, Fuzzy Sets and Systems 258
  * (2015) §2.1/§4.1 (the paper the reference repo implements; the reference
  * mount was empty this round — SURVEY.md §0):
  *  - L triangular membership functions equally distributed over the declared
  *    attribute range [lo,hi], crossing at 0.5, half-triangles at the edges.
  *  - Rule antecedent label = argmax membership, ties → lowest label index.
  *  - Matching degree = product t-norm over attributes (x285 ablates min).
  */
object ChiCore {

  /** Equally-spaced triangular partition over [lo, hi] with L labels.
    * Center of label k is lo + k·(hi−lo)/(L−1); half-width (hi−lo)/(L−1). */
  final case class TriPartition(lo: Double, hi: Double, numLabels: Int = 3) {
    require(numLabels >= 2, "need at least 2 linguistic labels")
    val halfWidth: Double = (hi - lo) / (numLabels - 1)
    val centers: IndexedSeq[Double] =
      (0 until numLabels).map(k => lo + k * halfWidth)
  }

  /** μ_k(x) = max(0, 1 − |x − c_k| / w): triangular membership. Mirrors the
    * oracle's GREATEST(0, 1 - ABS(x-c)/w) operation-for-operation so doubles
    * stay bit-identical across engines. */
  def membership(x: Column, center: Double, halfWidth: Double): Column =
    greatest(lit(0.0), lit(1.0) - abs(x - lit(center)) / lit(halfWidth))

  /** All L memberships of x under a partition, ascending label order. */
  def memberships(x: Column, p: TriPartition): Seq[Column] =
    p.centers.map(c => membership(x, c, p.halfWidth))

  /** argmax label with ties resolved to the LOWEST label index: label k wins
    * iff μ_k ≥ μ_j for every j > k and no earlier label won. Identical CASE
    * chain to the oracle (FIXTURES.md ML_CTE). */
  def argmaxLabel(ms: Seq[Column]): Column = {
    val n = ms.size
    (0 until n - 1).foldLeft(when(lit(false), 0)) { (acc, k) =>
      val cond = (k + 1 until n).map(j => ms(k) >= ms(j)).reduce(_ && _)
      acc.when(cond, k)
    }.otherwise(n - 1)
  }

  /** Membership of x against the center selected by a (dynamic) label column —
    * used when the antecedent label comes from a rule row, not a constant. */
  def membershipAt(x: Column, label: Column, p: TriPartition): Column = {
    val centerExpr = p.centers.zipWithIndex.init
      .foldLeft(when(lit(false), 0.0)) { case (acc, (c, k)) => acc.when(label === k, c) }
      .otherwise(p.centers.last)
    greatest(lit(0.0), lit(1.0) - abs(x - centerExpr) / lit(p.halfWidth))
  }

  /** R3, the auto-IR cost vector of one cost key: the class counts go in,
    * the minority class costs maxN / n and every other class 1 (all 1 when
    * the classes are balanced). Driver-side: the counts are ≤ |C| rows. */
  def imbalanceCosts(counts: Seq[(Int, Long)]): Map[Int, Double] = {
    val ns = counts.map(_._2)
    counts.map { case (c, n) =>
      c -> (if (n == ns.min && ns.min != ns.max) ns.max.toDouble / n else 1.0)
    }.toMap
  }

  /** THE CS-PCF learner (R5): the weight sums of every (antecedent, class),
    * in one aggregate.
    *
    * `agg` is an antecedent-array training aggregate, one row per distinct
    * (key…, features, antecedent, class): the DOUBLE features `feats`
    * (NULL = missing), `__ant` (argmax label per feature; nominal: the
    * code), `__cls` and the multiplicity `__m`. `cost` is the row's cost
    * factor: declared or [[imbalanceCosts]] literals by class, or 1. One
    * rule base per distinct `key`; `classes` are the consequents it sums.
    *
    * Each row explodes only to its ≤ 2ⁿ μ>0 neighbour antecedents (the
    * dropped terms are exactly zero); a nominal attribute has one, its code,
    * at factor 1, and a NULL one matches every label at factor 1. Each
    * fully observed row also adds one weightless seed row at its own
    * `__ant`: the seeded (antecedent, class) pairs are the candidate rules,
    * also where the seeding example's μ is 0 at its own antecedent (a value
    * outside the declared range). Terms and seeds meet in ONE aggregate
    * keyed on (key…, __n0…), the antecedent as SHORT labels, which sums
    * w_all and, per class, the matching weight and the seed flag, then
    * explodes to one row per class.
    *
    * Decimal protocol (bit-identical to the oracle SQL): the term c·μ1·…·μn,
    * multiplied left to right as the oracle spells it (c·min(μ…) under the
    * minimum t-norm), is rounded to 12 dp and cast DECIMAL(18,12), times the
    * multiplicity as DECIMAL(19,0) — exactly DECIMAL(38,12), so the sums are
    * exact and order-free (a (38,12) term would overflow against the bigint
    * count and allowPrecisionLoss would round each product to scale 6).
    * Returns (key…, __n0…, __ant, __cls, w_match, w_all, __seed),
    * hash-partitioned on (key…, __n0…); w_all is NULL where only seeds
    * fell. */
  def ruleWeights(agg: DataFrame, feats: Seq[String], parts: Seq[TriPartition],
                  cost: Column, classes: Seq[Int], tnormMin: Boolean = false,
                  nominal: Set[String] = Set.empty,
                  key: Seq[String] = Nil): DataFrame = {
    val labels = feats.indices.map(i => s"__n$i")
    val neighbors = feats.zipWithIndex.foldLeft(agg) { case (d, (f, i)) =>
      val p = parts(i)
      val allLabels = sequence(lit(0), lit(p.numLabels - 1))
      if (nominal(f))
        d.withColumn(s"__n$i", explode(
          when(col(f).isNull, allLabels).otherwise(array(col(f).cast(IntegerType)))))
      else {
        val kf = floor((col(f) - p.lo) / p.halfWidth).cast(IntegerType)
        d.withColumn(s"__n$i", explode(
            when(col(f).isNull, allLabels).otherwise(array(kf, kf + 1))))
          .filter(col(f).isNull ||
                  (col(s"__n$i").between(0, p.numLabels - 1) &&
                   membershipAt(col(f), col(s"__n$i"), p) > 0.0))
      }
    }
    val mus = feats.zipWithIndex.collect { case (f, i) if !nominal(f) =>
      when(col(f).isNull, lit(1.0))
        .otherwise(membershipAt(col(f), col(s"__n$i"), parts(i)))
    }
    val degree =
      if (tnormMin && mus.size > 1) cost * least(mus: _*) else mus.foldLeft(cost)(_ * _)
    val w = round(degree, 12).cast(DecimalType(18, 12)) *
      col("__m").cast(DecimalType(19, 0))
    val terms = neighbors.select(key.map(col) ++ labels.map(l => col(l).cast(ShortType).as(l)) ++
      Seq(col("__cls"), w.as("__w"), lit(false).as("__s")): _*)
    val seeds = agg.filter(feats.map(col(_).isNotNull).reduce(_ && _))
      .select(key.map(col) ++ labels.indices.map(i => col("__ant")(i).cast(ShortType).as(labels(i))) ++
        Seq(col("__cls"), lit(null).cast(DecimalType(38, 12)).as("__w"), lit(true).as("__s")): _*)
    val perClass = classes.indices.map(j =>
      struct(lit(classes(j)).as("__cls"), col(s"__w$j").as("w_match"), col(s"__s$j").as("__seed")))
    terms.unionByName(seeds)
      .groupBy((key ++ labels).map(col): _*)
      .agg(sum(col("__w")).as("w_all"), classes.zipWithIndex.flatMap { case (c, j) =>
        Seq(coalesce(sum(when(col("__cls") === c, col("__w"))),
                     lit(0).cast(DecimalType(38, 12))).as(s"__w$j"),
            max(col("__s") && col("__cls") === c).as(s"__s$j"))
      }: _*)
      .withColumn("__r", explode(array(perClass: _*)))
      .select(key.map(col) ++ labels.map(col) ++
        Seq(array(labels.map(col(_).cast(IntegerType)): _*).as("__ant"), col("__r.__cls"),
            col("__r.w_match"), col("w_all"), col("__r.__seed")): _*)
  }

  /** THE conflict-resolution tail (R6/R7): rw = (2·w_match − w_all) / w_all,
    * then per antecedent (`by`) the max-weight consequent, tie → lowest
    * class, rw > 0 only. `sums`: (by…, __cls, w_match, w_all DECIMAL(38,12),
    * any other columns). The sums are rounded to 6 dp BEFORE the double
    * cast: the scaled integers fit in 53 bits, so rw is bit-identical to the
    * oracle's (an unrounded cast can differ by 1 ulp between engines, which
    * flipped a winning-rule tie). Returns the winning rows with rw in place
    * of the two sums. */
  def resolveRules(sums: DataFrame, by: Seq[String]): DataFrame =
    sums.filter(col("w_all") > 0)
      .withColumn("rw", round(col("w_match") * 2 - col("w_all"), 6).cast(DoubleType) /
                        round(col("w_all"), 6).cast(DoubleType))
      .withColumn("__rn", row_number().over(
        Window.partitionBy(by.map(col): _*).orderBy(col("rw").desc, col("__cls"))))
      .filter(col("__rn") === 1 && col("rw") > 0)
      .drop("__rn", "w_match", "w_all")

  /** The learner ending in its tail, in one shuffle: the seeded sums are
    * resolved per (key…, __n0…), the aggregate's own partitioning, so the
    * window adds no exchange. Returns (key…, __ant, __cls, rw). */
  def learnRules(agg: DataFrame, feats: Seq[String], parts: Seq[TriPartition],
                 cost: Column, classes: Seq[Int], tnormMin: Boolean = false,
                 nominal: Set[String] = Set.empty,
                 key: Seq[String] = Nil): DataFrame =
    resolveRules(ruleWeights(agg, feats, parts, cost, classes, tnormMin, nominal, key)
                   .filter(col("__seed")),
                 key ++ feats.indices.map(i => s"__n$i"))
      .select((key :+ "__ant" :+ "__cls" :+ "rw").map(col): _*)

  /** One example's winning rule and its 12-dp score. */
  final case class ChiWin(ant: Array[Int], cls: Int, score: Double)

  /** The winning-rule reasoning (R9) over rule bases held on the driver,
    * one per integer key: argmax of round12(μ1⊗…⊗μn·rw) in the TOTAL order
    * score desc, class, antecedent. With no rule scoring above 0 the winner
    * is the rule first in that order, at score 0; each caller keeps its own
    * no-match policy. A NULL feature is skipped (factor 1); a nominal
    * category unseen at training encodes to −1, whose μ is 0 everywhere. */
  private[chi] final class Scorer(bases: Map[Int, Array[ChiRule]],
                                  parts: Array[TriPartition],
                                  tnormMin: Boolean) extends Serializable {
    import scala.math.Ordering.Implicits._
    // in tie-break order, so the first maximum is the winner
    private val sorted: Map[Int, Array[ChiRule]] =
      bases.map { case (k, rs) => k -> rs.sortBy(r => (r.cls, r.antecedent.toSeq)) }

    private def rawScore(r: ChiRule, xs: Seq[java.lang.Double]): Double = {
      var mu = 1.0
      for (i <- xs.indices if xs(i) != null && mu > 0.0) {
        val p = parts(i)
        val m = math.max(0.0,
          1.0 - math.abs(xs(i) - (p.lo + r.antecedent(i) * p.halfWidth)) / p.halfWidth)
        mu = if (tnormMin) math.min(mu, m) else mu * m
      }
      mu * r.weight
    }

    /** Spark's round(x, 12): HALF_UP on the shortest decimal rendering. */
    private def round12(s: Double): Double =
      if (s.isNaN || s.isInfinite) s
      else new JBigDecimal(java.lang.Double.toString(s))
        .setScale(12, RoundingMode.HALF_UP).doubleValue()

    /** The raw scores of `bases(key)`, in tie-break order, and the index
      * of their first maximum. */
    private def rawScores(key: Int, xs: Seq[java.lang.Double])
        : (Array[ChiRule], Array[Double], Int) = {
      val rules = sorted.getOrElse(key, Array.empty[ChiRule])
      val raw = rules.map(rawScore(_, xs))
      (rules, raw, argmax(raw))
    }

    private def argmax(s: Array[Double]): Int = {
      var best = 0
      for (i <- s.indices if s(i) > s(best)) best = i
      best
    }

    def apply(key: Int, xs: Seq[java.lang.Double]): ChiWin = {
      val (rules, raw, best) = rawScores(key, xs)
      def win(i: Int, score: Double) = ChiWin(rules(i).antecedent, rules(i).cls, score)
      // Fast path: 12dp HALF_UP rounding moves a score by < 5e-13, so when
      // the best raw score leads every rival by > 2e-12 the rounded argmax
      // is the raw argmax and only the winner's score needs decimal
      // arithmetic; only near-ties pay a BigDecimal per rule.
      if (rules.isEmpty) null
      else if (raw.count(_ > raw(best) - 2e-12) == 1) win(best, round12(raw(best)))
      else if (raw.forall(_ == 0.0)) win(0, 0.0)
      else {
        val scores = raw.map(round12)
        val b = argmax(scores)
        win(b, scores(b))
      }
    }

    /** The winner's class alone, or `majority` when its 12-dp score is 0 or
      * the base is empty: [[apply]] followed by the majority policy, with no
      * [[ChiWin]] and no decimal arithmetic unless the raw lead is under
      * 2e-12 or the raw winner under 1e-12 (a clear winner of at least 1e-12
      * rounds to at least 1e-12, so above 0). */
    def cls(key: Int, xs: Seq[java.lang.Double], majority: Int): Int = {
      val (rules, raw, best) = rawScores(key, xs)
      if (rules.isEmpty) majority
      else if (raw(best) >= 1e-12 && raw.count(_ > raw(best) - 2e-12) == 1) rules(best).cls
      else {
        val scores = raw.map(round12)
        val b = argmax(scores)
        if (scores(b) > 0.0) rules(b).cls else majority
      }
    }
  }

  /** THE winning-rule scorer (R9) as a row-local Column: the [[ChiWin]]
    * (ant, cls, score) of the features `xs` against `bases(key)` under
    * the product or minimum t-norm, NULL when that base is empty. The bases
    * are broadcast once; no shuffle, so it scores streams too. */
  def winningRule(spark: SparkSession, bases: Map[Int, Array[ChiRule]],
                  parts: Array[TriPartition], xs: Seq[Column],
                  tnormMin: Boolean = false, key: Column = lit(0)): Column = {
    val scorer = spark.sparkContext.broadcast(new Scorer(bases, parts, tnormMin))
    udf((k: Int, v: Seq[java.lang.Double]) => scorer.value(k, v))
      .apply(key, array(xs.map(_.cast(DoubleType)): _*))
  }

  /** [[winningRule]]'s class with the majority no-match policy, as a
    * row-local INT Column: the class of the winner when its 12-dp score is
    * above 0, else `majority` (also for an empty base). */
  def winningClass(spark: SparkSession, bases: Map[Int, Array[ChiRule]],
                   parts: Array[TriPartition], xs: Seq[Column], majority: Int,
                   tnormMin: Boolean = false, key: Column = lit(0)): Column = {
    val scorer = spark.sparkContext.broadcast(new Scorer(bases, parts, tnormMin))
    udf((k: Int, v: Seq[java.lang.Double]) => scorer.value.cls(k, v, majority))
      .apply(key, array(xs.map(_.cast(DoubleType)): _*))
  }
}
