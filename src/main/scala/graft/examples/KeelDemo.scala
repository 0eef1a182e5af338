package graft.examples

import org.apache.spark.sql.functions._
import graft.engine.chi.ChiCSClassifier
import graft.sources.Keel

/** End-to-end usage demo of the reference workflow on this engine:
  * raw table → KEEL descriptor (R11) → `.dat` export → KEEL read (R1) →
  * ChiCSClassifier fit (R2–R8) → scoring + metrics (R9–R10).
  *
  * Run: sbt "runMain graft.examples.KeelDemo"
  */
object KeelDemo {
  def main(args: Array[String]): Unit = {
    val spark = graft.engine.Sessions.local(8, 8)
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.001"

    // derive a labeled dataset from lineitem (same task as q38–q43)
    val df = graft.engine.Tables.lineitem(spark, sfDir).select(
      col("l_quantity").as("qty"), col("l_discount").as("disc"),
      when(col("l_extendedprice") > 95000, "pos").otherwise("neg").as("cls"))

    // R11: one pass derives ranges + nominal dictionary, rendered as a header
    val header = Keel.generateHeader(df, "lineitem_cs", "cls")
    println("--- generated KEEL header ---")
    println(Keel.renderHeader(header))

    // export as .dat, read it back (R1)
    val path = java.nio.file.Files.createTempDirectory("keeldemo").toString + "/train.dat"
    Keel.write(df, header, path)
    val train = Keel.read(spark, path)
      .withColumn("label", when(col("cls") === "pos", 1).otherwise(0))
    println(s"--- read back ${train.count()} rows from $path ---")

    // fit with the header-declared ranges (the reference's DataBase source)
    val ranges = header.inputs.flatMap { f =>
      val r = header.attributes.find(_.name == f).get.range.get
      Seq(r._1, r._2)
    }.toArray
    val model = new ChiCSClassifier()
      .setFeatureCols(header.inputs.toArray).setLabelCol("label")
      .setFeatureRanges(ranges)
      .fit(train)
    println(s"--- fitted rule base (${model.rules.length} rules, costs=${model.costs}) ---")
    model.rules.foreach(r =>
      println(f"  IF qty is L${r.antecedent(0)} AND disc is L${r.antecedent(1)} " +
              f"THEN class ${r.cls} with RW=${r.weight}%.6f"))

    // score + confusion matrix (R9/R10)
    val scored = model.transform(train)
    scored.groupBy("label", "prediction").count()
      .orderBy("label", "prediction").show()
    spark.stop()
  }
}
