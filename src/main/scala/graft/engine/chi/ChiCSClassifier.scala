package graft.engine.chi

import org.apache.spark.ml.{Estimator, Model}
import org.apache.spark.ml.param._
import org.apache.spark.ml.util._
import org.apache.spark.sql.{Column, DataFrame, Dataset, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import ChiCore.TriPartition

/** One learned fuzzy rule: antecedent label per attribute, consequent class
  * index, certainty-factor weight. */
final case class ChiRule(antecedent: Array[Int], cls: Int, weight: Double)

private[chi] trait ChiCSParams extends Params {
  /** Input feature columns (numeric). */
  final val featureCols = new StringArrayParam(this, "featureCols", "feature column names")
  final def getFeatureCols: Array[String] = $(featureCols)

  final val labelCol = new Param[String](this, "labelCol", "label column (integer classes)")
  final def getLabelCol: String = $(labelCol)

  final val predictionCol = new Param[String](this, "predictionCol", "output prediction column")
  final def getPredictionCol: String = $(predictionCol)

  /** Number of linguistic labels L per attribute (paper uses 3). */
  final val numLabels = new IntParam(this, "numLabels", "linguistic labels per attribute",
    ParamValidators.gtEq(2))
  final def getNumLabels: Int = $(numLabels)

  /** Declared [lo, hi] per feature, flattened (lo0, hi0, lo1, hi1, …).
    * Empty ⇒ one agg(min, max) pass over the data (the descriptor/header
    * generation operator R11). */
  final val featureRanges = new DoubleArrayParam(this, "featureRanges",
    "flattened lo,hi pairs per feature; empty = derive from data")
  final def getFeatureRanges: Array[Double] = $(featureRanges)

  /** Per-class misclassification cost, indexed by class. Empty ⇒ binary
    * imbalance costs C(minority) = IR, C(majority) = 1 (paper §4.1). */
  final val classCosts = new DoubleArrayParam(this, "classCosts",
    "per-class misclassification cost; empty = derive IR from class counts")
  final def getClassCosts: Array[Double] = $(classCosts)

  /** Subset of [[featureCols]] to treat as NOMINAL (categorical) — the
    * paper's datasets carry them (KDD Cup's protocol_type/service/flag,
    * [P1 §5.1]) and KEEL headers declare them as value dictionaries.
    * Semantics: crisp singleton membership — μ = 1 iff the value equals the
    * rule's category, else 0 — with one linguistic label PER CATEGORY
    * (numLabels = |dictionary|, NOT the numeric L). The dictionary is the
    * sorted distinct value set of the training data (binary string order,
    * the same order a KEEL header enumerates); a category unseen at
    * training time scores μ = 0 against every rule (⇒ majority-class
    * no-match policy). Implementation: values are dictionary-encoded to
    * their sorted rank and the crisp semantics ride the SAME triangular
    * arithmetic as numeric attributes — TriPartition(0, |V|−1, |V|) has
    * halfWidth exactly 1, so μ_k(code j) = max(0, 1 − |j − k|) = δ_jk
    * exactly at integer codes (no float tolerance involved). */
  final val nominalCols = new StringArrayParam(this, "nominalCols",
    "feature columns treated as nominal (crisp singleton membership)")
  final def getNominalCols: Array[String] = $(nominalCols)

  /** DECLARED nominal dictionaries (the KEEL-header path: the reference
    * derives the DataBase from the header, not the data — [P1 §4.2]): one
    * entry per declared column, encoded `col=v1|v2|v3` in the HEADER'S
    * enumeration order (values must not contain '|' — KEEL values are
    * comma-free identifiers already). A nominal column without a declared
    * entry falls back to the sorted distinct scan; training values outside
    * a declared dictionary are rejected at fit time. */
  final val nominalDictionaries = new StringArrayParam(this, "nominalDictionaries",
    "declared dictionaries, one 'col=v1|v2|...' entry per column; " +
    "missing columns derive from data")
  final def getNominalDictionaries: Array[String] = $(nominalDictionaries)

  /** Optional PRE-AGGREGATED multiplicity column: when set, each input row
    * stands for `weightCol` identical examples. The fit is digit-identical
    * to feeding the expanded rows (the internal compression already reduces
    * to distinct vectors with multiplicity — this just lets the CALLER
    * supply that aggregate), which is exactly the 100 TB ablation shape:
    * compress the corpus once, fit every variant from the compressed frame
    * (see ModelOps.x215). Must be a non-null positive integral column. */
  final val weightCol = new Param[String](this, "weightCol",
    "optional multiplicity column: each row counts as this many examples")
  final def getWeightCol: String = $(weightCol)

  setDefault(labelCol -> "label", predictionCol -> "prediction",
    numLabels -> 3, featureRanges -> Array.empty[Double],
    classCosts -> Array.empty[Double], nominalCols -> Array.empty[String],
    nominalDictionaries -> Array.empty[String], weightCol -> "")
}

/** Chi-FRBCS-BigDataCS as an idiomatic Spark MLlib estimator (SURVEY.md §2.5
  * x06, semantics per López et al. 2015 — the paper the empty reference mount
  * implements; see SURVEY.md §0).
  *
  * Differences from the Hadoop reference, by design (SURVEY.md §4.1): the rule
  * base is GLOBAL (map-count independent, deterministic) instead of per-split,
  * and the single-reducer merge is a distributed partial+final aggregation.
  *
  * 100 TB posture of `fit`:
  *  - one pass for ranges (if not declared), one tiny agg for class counts;
  *  - rule learning is [[ChiCore.learnRules]], the learner every Chi key
  *    shares: each example explodes only to its ≤ 2ⁿ μ>0 antecedents, and
  *    one shuffle, keyed on the antecedent, sums every class and resolves
  *    the conflicts in place; the result (≤ Lⁿ·|C| rules) is collected and
  *    broadcast — the only driver-side materialization.
  */
class ChiCSClassifier(override val uid: String)
    extends Estimator[ChiCSModel] with ChiCSParams with DefaultParamsWritable {

  def this() = this(Identifiable.randomUID("chiCS"))

  def setFeatureCols(v: Array[String]): this.type = set(featureCols, v)
  def setLabelCol(v: String): this.type = set(labelCol, v)
  def setPredictionCol(v: String): this.type = set(predictionCol, v)
  def setNumLabels(v: Int): this.type = set(numLabels, v)
  def setFeatureRanges(v: Array[Double]): this.type = set(featureRanges, v)
  def setClassCosts(v: Array[Double]): this.type = set(classCosts, v)
  def setNominalCols(v: Array[String]): this.type = set(nominalCols, v)
  def setWeightCol(v: String): this.type = set(weightCol, v)
  def setNominalDictionaries(v: Array[String]): this.type = set(nominalDictionaries, v)
  /** Convenience: declare dictionaries from parsed KEEL attributes. */
  def setNominalDictionaries(dicts: Map[String, Seq[String]]): this.type =
    set(nominalDictionaries, dicts.toArray.sortBy(_._1).map { case (c, vs) =>
      require(vs.forall(!_.contains("|")), s"dictionary values for $c must not contain '|'")
      s"$c=${vs.mkString("|")}"
    })

  override def transformSchema(schema: StructType): StructType = schema

  override def copy(extra: ParamMap): ChiCSClassifier = defaultCopy(extra)

  override def fit(ds: Dataset[_]): ChiCSModel = {
    val feats = $(featureCols)
    require(feats.nonEmpty, "featureCols must be set")
    val nomSet = $(nominalCols).toSet
    require(nomSet.subsetOf(feats.toSet),
      s"nominalCols must be a subset of featureCols; extra: ${nomSet -- feats}")
    val L = $(numLabels)
    // Missing-value protocol (KEEL declares <null>/?): rows with a NULL
    // LABEL cannot supervise anything and are dropped here; NULL FEATURE
    // values flow through fit and transform under the documented policy —
    // the attribute is skipped in the product t-norm (factor 1), so the
    // example supports/matches every label of that attribute equally.
    val raw = ds.toDF.filter(col($(labelCol)).isNotNull)

    // Nominal dictionaries: ONE aggregate pass collects every nominal
    // attribute's sorted distinct value set (collect_set skips NULLs, so a
    // null category never becomes a dictionary entry). |V| is bounded at
    // 256 — the dictionary is driver-held and each value is one linguistic
    // label, the same regime as L; a high-cardinality attribute belongs in a
    // hashed/numeric encoding, not a fuzzy partition.
    val nomFeats = feats.filter(nomSet)
    // Declared dictionaries (the KEEL-header path) win; only undeclared
    // nominal columns pay the distinct scan.
    val declaredDicts: Map[String, Array[String]] =
      $(nominalDictionaries).map { entry =>
        val eq = entry.indexOf('=')
        require(eq > 0, s"nominalDictionaries entry must be 'col=v1|v2|...', got '$entry'")
        entry.take(eq) -> entry.drop(eq + 1).split('|').map(_.trim)
      }.toMap
    require(declaredDicts.keySet.subsetOf(nomSet),
      s"declared dictionaries for non-nominal columns: ${declaredDicts.keySet -- nomSet}")
    val scanned = nomFeats.filterNot(declaredDicts.contains)
    val dicts: Map[String, Array[String]] = {
      val derived: Map[String, Array[String]] =
        if (scanned.isEmpty) Map.empty
        else {
          val aggs = scanned.map(f =>
            sort_array(collect_set(col(f).cast(StringType))).as(f))
          val row = raw.agg(aggs.head, aggs.tail: _*).head()
          scanned.zipWithIndex.map { case (f, i) =>
            f -> row.getSeq[String](i).toArray
          }.toMap
        }
      val all = declaredDicts ++ derived
      all.foreach { case (f, vs) =>
        require(vs.length >= 2 && vs.length <= 256,
          s"nominal column $f needs 2..256 dictionary values, got ${vs.length}")
        require(vs.distinct.length == vs.length,
          s"nominal dictionary for $f has duplicate values")
      }
      all
    }

    // Encode: numeric → double; nominal → sorted-rank code (array_position
    // is 1-based; NULL in ⇒ NULL out, preserving the missing marker).
    val df = raw.select(
      feats.map(f => ChiCSModel.encode(f, dicts.getOrElse(f, Array.empty)).as(f)) ++
        Seq(col($(labelCol)).cast(IntegerType).as("__cls")) ++
        (if ($(weightCol).isEmpty) Nil
         else Seq(col($(weightCol)).cast(LongType).as("__w"),
                  // pre-cast view for the integrality guard below: the
                  // LongType cast silently FLOORS a fractional weight, so
                  // the positivity guard alone would accept 2.7 as 2 and
                  // undercount its vector (ADVICE r13)
                  col($(weightCol)).cast(DoubleType).as("__w_chk"))): _*)

    // R11 descriptor generation: declared ranges (numeric), dictionary grid
    // (nominal: one label per category, halfWidth exactly 1 ⇒ crisp), or
    // one min/max pass over the numeric attributes.
    val numFeats = feats.filterNot(nomSet)
    if ($(featureRanges).nonEmpty)
      require($(featureRanges).length == 2 * feats.length,
        "featureRanges must be lo,hi per feature (nominal slots are ignored)")
    val derived: Map[String, (Double, Double)] =
      if ($(featureRanges).isEmpty && numFeats.nonEmpty) {
        val row = df.agg(
          min(col(numFeats.head)), max(col(numFeats.head)) +:
            numFeats.tail.flatMap(f => Seq(min(col(f)), max(col(f)))): _*).head()
        numFeats.zipWithIndex.map { case (f, i) =>
          f -> (row.getDouble(2 * i), row.getDouble(2 * i + 1))
        }.toMap
      } else Map.empty
    val parts: Array[TriPartition] = feats.zipWithIndex.map { case (f, i) =>
      if (nomSet(f))
        TriPartition(0.0, (dicts(f).length - 1).toDouble, dicts(f).length)
      else if ($(featureRanges).nonEmpty)
        TriPartition($(featureRanges)(2 * i), $(featureRanges)(2 * i + 1), L)
      else { val (lo, hi) = derived(f); TriPartition(lo, hi, L) }
    }.toArray

    // R4: candidate antecedent per example = argmax label per attribute
    // (nominal: the code IS the label — crisp argmax needs no CASE chain).
    // A NULL attribute yields a NULL label: the example seeds no candidate
    // (an antecedent must constrain every attribute) but still contributes
    // weight mass below.
    val labeled = df.withColumn("__ant", array(feats.toSeq.zipWithIndex.map { case (f, i) =>
      when(col(f).isNull, lit(null).cast(IntegerType)).otherwise(
        if (nomSet(f)) col(f).cast(IntegerType)
        else ChiCore.argmaxLabel(ChiCore.memberships(col(f), parts(i))))
    }: _*))

    // Pre-aggregate to DISTINCT feature vectors with multiplicity: the weight
    // term is a pure function of (features, cls) and DECIMAL × count is
    // exact, so the sums are digit-identical to the per-row formulation while
    // the fan-out shrinks by the duplication factor. Cached for the duration
    // of fit — class counts, the seeds and the weight terms all derive from it,
    // turning three full input scans into one.
    // A NULL/non-positive weight would be silently SWALLOWED by sum() and
    // undercount its vector, and a FRACTIONAL weight would be silently
    // floored by the LongType cast before it (the scaladoc demands a
    // positive INTEGRAL column) — fail loudly map-side on either (the
    // assert_true().isNull where-guard; no extra scan, no driver action).
    // Integrality = cast round-trip equality in DOUBLE, exact for weights
    // below 2^53 — far past any real per-row multiplicity.
    val guarded =
      if ($(weightCol).isEmpty) labeled
      else labeled.where(assert_true(
        col("__w").isNotNull && col("__w") > 0 &&
          col("__w_chk") === col("__w").cast(DoubleType),
        lit(s"weightCol ${$(weightCol)} must be a positive integral column"))
        .isNull).drop("__w_chk")
    val compressed = guarded
      .groupBy((feats.map(col) :+ col("__ant") :+ col("__cls")): _*)
      .agg((if ($(weightCol).isEmpty) count(lit(1))
            else sum(col("__w"))).as("__m"))
      .persist()

    // A training value OUTSIDE a declared dictionary encodes to −1 and
    // would otherwise seed a phantom rule label — reject loudly (the KEEL
    // reference errors on undeclared categories). One tiny job on the
    // cached compressed frame; only runs when dictionaries were declared.
    if (declaredDicts.nonEmpty) {
      val declared = feats.filter(declaredDicts.contains)
      val bad = compressed
        .filter(declared.map(f => col(f) < 0).reduce(_ || _)).limit(1).count()
      require(bad == 0,
        s"training data contains categories outside the declared dictionaries for ${declared.mkString(",")}")
    }

    // R3 cost vector: declared, or binary-IR from class counts.
    val classCounts = compressed.groupBy("__cls").agg(sum(col("__m")).as("n")).collect()
      .map(r => r.getInt(0) -> r.getLong(1)).sortBy(_._1)
    val classes = classCounts.map(_._1)
    val costs: Map[Int, Double] =
      if ($(classCosts).nonEmpty) classes.zip($(classCosts)).toMap
      else ChiCore.imbalanceCosts(classCounts.toSeq)
    // DECIMAL(18,12) weight terms carry 6 integer digits; a bigger cost would
    // null out in the cast and silently corrupt the sums — reject it here
    require(costs.values.forall(c => c >= 0 && c < 1e6),
      s"class costs must be in [0, 1e6), got $costs (cost × μ must fit DECIMAL(18,12))")
    val costExpr = classes.foldLeft(when(lit(false), 0.0)) { (acc, c) =>
      acc.when(col("__cls") === c, costs(c))
    }.otherwise(1.0)

    // R5–R7: the shared learner on the compressed aggregate; the resolved
    // rule base (≤ Lⁿ·|C| rules) is collected to the driver.
    val rules =
      try ChiCSModel.toRules(ChiCore.learnRules(compressed, feats.toSeq, parts.toSeq,
                                                costExpr, classes.toSeq,
                                                nominal = nomSet).collect())
      finally compressed.unpersist()

    val majority = classCounts.maxBy { case (c, cnt) => (cnt, -c) }._1
    val dictArr: Array[Array[String]] =
      feats.map(f => dicts.getOrElse(f, Array.empty[String]))
    copyValues(new ChiCSModel(uid, parts, classes, costs, rules, majority,
        dictArr))
      .setParent(this)
  }
}

object ChiCSClassifier extends DefaultParamsReadable[ChiCSClassifier]

/** Fitted Chi-FRBCS-CS model: fuzzy DataBase (partitions) + RuleBase.
  *
  * `transform` broadcasts the (tiny) rule base and scores each row with the
  * winning-rule fuzzy reasoning method — a per-row loop over ≤ Lⁿ·|C| rules,
  * no shuffle, no driver involvement. Rows matching no rule (all μ = 0) get
  * the majority class (documented no-match policy, SURVEY.md §2.3).
  */
class ChiCSModel private[graft] (
    override val uid: String,
    val partitions: Array[TriPartition],
    val classes: Array[Int],
    val costs: Map[Int, Double],
    val rules: Array[ChiRule],
    val majorityClass: Int,
    /** Per-feature nominal dictionary (sorted distinct training values);
      * empty array = numeric attribute. Aligned with featureCols order. */
    val nominalDicts: Array[Array[String]] = Array.empty)
    extends Model[ChiCSModel] with ChiCSParams with MLWritable {

  override def copy(extra: ParamMap): ChiCSModel =
    copyValues(new ChiCSModel(uid, partitions, classes, costs, rules,
        majorityClass, nominalDicts), extra)
      .setParent(parent)

  override def transformSchema(schema: StructType): StructType =
    schema.add($(predictionCol), IntegerType)

  /** Winning class by [[ChiCore.winningClass]], the class-only entry of
    * the scorer every Chi key shares (a NULL feature is skipped, as in
    * fit); a row whose winner scores 0 gets the majority class. */
  override def transform(ds: Dataset[_]): DataFrame = {
    val xs = $(featureCols).toSeq.zipWithIndex.map { case (f, i) =>
      ChiCSModel.encode(f, if (i < nominalDicts.length) nominalDicts(i) else Array.empty)
    }
    ds.toDF.withColumn($(predictionCol),
      ChiCore.winningClass(ds.sparkSession, Map(0 -> rules), partitions, xs, majorityClass))
  }

  override def write: MLWriter = new ChiCSModel.Writer(this)
}

object ChiCSModel extends MLReadable[ChiCSModel] {

  /** Collected (antecedent, cls, weight) rows as rules, in `rules` order. */
  private[chi] def toRules(rows: Array[Row]): Array[ChiRule] =
    rows.map(r => ChiRule(r.getSeq[Int](0).toArray, r.getInt(1), r.getDouble(2)))
      .sortBy(r => (r.antecedent.mkString(","), r.cls))

  /** Feature `f` as the model reads it: DOUBLE, or with a nominal
    * dictionary its 0-based rank in it (−1 when absent; NULL stays NULL). */
  private[chi] def encode(f: String, dict: Array[String]): Column =
    (if (dict.isEmpty) col(f)
     else array_position(typedLit(dict.toSeq), col(f).cast(StringType)) - 1).cast(DoubleType)

  /** R7 rule-base merge as a standalone operator: equal antecedents keep the
    * max-weight rule, weight ties resolve to the lowest class index. This is
    * the reduce-side merge of the reference generalized to any number of
    * partial rule bases — commutative, associative, and idempotent (property
    * tested), so partial bases can be combined in any tree shape on any
    * number of executors. */
  def mergeRuleBases(bases: Seq[Array[ChiRule]]): Array[ChiRule] =
    bases.flatten
      .groupBy(_.antecedent.toSeq)
      .map { case (_, rs) => rs.minBy(r => (-r.weight, r.cls)) }
      .toArray
      .sortBy(r => (r.antecedent.mkString(","), r.cls))

  private[chi] class Writer(instance: ChiCSModel) extends MLWriter {
    override protected def saveImpl(path: String): Unit = {
      val spark = sparkSession
      import spark.implicits._
      instance.rules.toSeq.map(r => (r.antecedent.toSeq, r.cls, r.weight))
        .toDF("antecedent", "cls", "weight")
        .write.mode("overwrite").parquet(s"$path/rules")
      instance.partitions.toSeq.zipWithIndex
        .map { case (p, i) => (i, p.lo, p.hi, p.numLabels) }
        .toDF("idx", "lo", "hi", "numLabels")
        .write.mode("overwrite").parquet(s"$path/partitions")
      // Nominal dictionaries (empty seq = numeric slot) — the serving-side
      // encoder is part of the model artifact, exactly like the fuzzy grid.
      instance.nominalDicts.toSeq.zipWithIndex
        .map { case (d, i) => (i, d.toSeq) }
        .toDF("idx", "values")
        .write.mode("overwrite").parquet(s"$path/nominal_dicts")
      // Param metadata in our own layout (Spark's DefaultParamsWriter is
      // private[ml]); only the params `transform` needs are persisted.
      spark.createDataFrame(Seq((
          instance.uid,
          instance.getFeatureCols.toSeq,
          instance.getPredictionCol,
          instance.classes.toSeq,
          instance.classes.map(c => instance.costs(c)).toSeq,
          instance.majorityClass)))
        .toDF("uid", "featureCols", "predictionCol", "classes", "costs", "majorityClass")
        .write.mode("overwrite").parquet(s"$path/meta")
    }
  }

  private class Reader extends MLReader[ChiCSModel] {
    override def load(path: String): ChiCSModel = {
      val spark = sparkSession
      val rules = toRules(spark.read.parquet(s"$path/rules").collect())
      val parts = spark.read.parquet(s"$path/partitions")
        .orderBy("idx").collect()
        .map(r => TriPartition(r.getDouble(1), r.getDouble(2), r.getInt(3)))
      // nominal_dicts was added in a later artifact revision — an artifact
      // saved before it exists is an all-numeric model, so a missing
      // directory decodes as one empty dictionary per feature slot instead
      // of failing the load (ADVICE r11).
      val dictsPath = new org.apache.hadoop.fs.Path(s"$path/nominal_dicts")
      val dicts =
        if (dictsPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
              .exists(dictsPath))
          spark.read.parquet(s"$path/nominal_dicts")
            .orderBy("idx").collect()
            .map(r => r.getSeq[String](1).toArray)
        else Array.fill(parts.length)(Array.empty[String])
      val meta = spark.read.parquet(s"$path/meta").head()
      val classes = meta.getSeq[Int](3).toArray
      val costs = classes.zip(meta.getSeq[Double](4)).toMap
      val model = new ChiCSModel(meta.getString(0), parts, classes, costs,
        rules, meta.getInt(5), dicts)
      model.set(model.featureCols, meta.getSeq[String](1).toArray)
      model.set(model.predictionCol, meta.getString(2))
      model
    }
  }

  override def read: MLReader[ChiCSModel] = new Reader
}
