package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame

/** The SQL entry path (SURVEY.md §3.2): every table registers as a temp view
  * and `spark.sql` produces the same results as the DataFrame-API operators —
  * a user can drive the engine from pure SQL, including the injected native
  * functions (they resolve through the session FunctionRegistry). */
class SqlApiSpec extends AnyFunSuite {
  import TestSpark.{spark, sfSmoke}

  private def viewsReady(): Unit = {
    import graft.engine.Tables
    Tables.lineitem(spark, sfSmoke).createOrReplaceTempView("lineitem")
    Tables.orders(spark, sfSmoke).createOrReplaceTempView("orders")
    Tables.customer(spark, sfSmoke).createOrReplaceTempView("customer")
    Tables.documents(spark, sfSmoke).createOrReplaceTempView("documents")
    Tables.events(spark, sfSmoke).createOrReplaceTempView("events")
  }

  private def rows(df: DataFrame) = df.collect().toSeq

  test("spark.sql over temp views equals the DataFrame-API q12 (TPC-H Q1)") {
    viewsReady()
    val sql = spark.sql(
      """SELECT l_returnflag, l_linestatus,
        |  CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(18,2))), 2) AS DOUBLE) AS sum_qty,
        |  CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,2))), 2) AS DOUBLE) AS sum_base,
        |  CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
        |                 * (1 - CAST(l_discount AS DECIMAL(18,2)))), 2) AS DOUBLE) AS sum_disc,
        |  COUNT(*) AS cnt
        |FROM lineitem
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin)
    val api = graft.queries.Relational1.q12(spark, sfSmoke)
    assert(sql.columns.toSeq === api.columns.toSeq)
    assert(rows(sql) === rows(api))
  }

  test("spark.sql can call the injected native functions (token_stats, fvec_dot)") {
    viewsReady()
    val viaSql = spark.sql(
      """SELECT doc_id, token_stats(text).n_tokens AS n
        |FROM documents WHERE trim(text) <> '' ORDER BY doc_id""".stripMargin)
    val viaApi = graft.engine.Tables.documents(spark, sfSmoke)
      .filter(org.apache.spark.sql.functions.trim(
        org.apache.spark.sql.functions.col("text")) =!= "")
      .selectExpr("doc_id", "token_stats(text).n_tokens AS n")
      .orderBy("doc_id")
    assert(rows(viaSql) === rows(viaApi))
    // and the vector kernel parses/executes from SQL too
    val dot = spark.sql("SELECT fvec_dot(array(1.0F, 2.0F), array(3.0F, 4.0F)) AS d")
      .head().getDouble(0)
    assert(math.abs(dot - 11.0) < 1e-9)
  }

  test("spark.sql can call the injected native aggregates (topk_pairs, freq_sketch)") {
    graft.engine.Tables.orders(spark, TestSpark.sfSmoke)
      .createOrReplaceTempView("sql_orders_agg")
    val topk = spark.sql(
      """SELECT o_orderpriority, topk_pairs(o_totalprice, o_orderkey, 2) AS tk
        |FROM sql_orders_agg GROUP BY o_orderpriority""".stripMargin)
    val rows = topk.selectExpr("o_orderpriority", "size(tk) AS n").collect()
    assert(rows.nonEmpty && rows.forall(_.getInt(1) === 2))
    val sk = spark.sql(
      """SELECT freq_sketch(o_orderpriority, 8) AS m FROM sql_orders_agg""")
      .selectExpr("size(m) AS n").head().getInt(0)
    assert(sk >= 1 && sk <= 8, "sketch respects its capacity from SQL")
  }

  test("every SQL kernel rejects a wrong argument count with an AnalysisException") {
    // table-driven over the one kernel declaration list: one argument too
    // few and (for fixed-arity kernels) one too many, each through spark.sql
    for (k <- graft.engine.expr.GraftExtensions.kernels;
         n <- Seq(k.arity.start - 1) ++
              (if (k.arity.end == Int.MaxValue) Nil else Seq(k.arity.end + 1))
         if n >= 0) {
      val call = s"SELECT ${k.name}(${Seq.fill(n)("1").mkString(", ")})"
      val e = intercept[org.apache.spark.sql.AnalysisException](spark.sql(call).collect())
      assert(e.getCondition === "WRONG_NUM_ARGS.WITHOUT_SUGGESTION", s"$call: ${e.getMessage}")
      assert(e.getMessage.contains(s"`${k.name}`") && e.getMessage.contains(s"is $n."),
        s"$call: ${e.getMessage}")
    }
    // constant arguments, checked in the same place: a column, a constant of
    // the wrong type or NULL, a value outside the accepted range and a
    // ragged or empty codebook are analysis errors too, naming the argument
    val notConst = "DATATYPE_MISMATCH.NON_FOLDABLE_INPUT"
    val outOfRange = "DATATYPE_MISMATCH.VALUE_OUT_OF_RANGE"
    val badBooks = "DATATYPE_MISMATCH.TYPE_CHECK_FAILURE_WITH_HINT"
    for ((call, condition, arg) <- Seq(
           ("SELECT pq_adc(array(1f), array(array(array(id * 1d))), 1) FROM range(1)", notConst, "books"),
           ("SELECT pq_adc(array(1f), array(array(array(1))), 1)", notConst, "books"),
           ("SELECT pq_adc(array(1f), array(array(array(1d), array(2d)), array(array(1d))), 1, 1)",
             badBooks, "books"),
           ("SELECT pq_adc(array(1f), array(array(array(1d, 2d), array(1d))), 1)", badBooks, "books"),
           ("SELECT pq_adc(array(1f), array(array(array(1d)), NULL), 1, 1)", badBooks, "books"),
           ("SELECT pq_adc(array(1f), array(array(array(1d), NULL)), 1)", badBooks, "books"),
           ("SELECT pq_adc(array(1f), cast(array() AS array<array<array<double>>>), 1)",
             badBooks, "books"),
           ("SELECT rolling_fps('a b', cast(id AS INT)) FROM range(1)", notConst, "k"),
           ("SELECT rolling_fps('a b', 0)", outOfRange, "k"),
           ("SELECT rolling_fps('a b', 257)", outOfRange, "k"),
           ("SELECT freq_sketch('a', cast(id AS INT)) FROM range(1)", notConst, "capacity"),
           ("SELECT freq_sketch('a', cast(NULL AS INT))", notConst, "capacity"),
           ("SELECT freq_sketch('a', 0)", outOfRange, "capacity"),
           ("SELECT topk_pairs(1d, 1L, cast(id AS INT)) FROM range(1)", notConst, "k"),
           ("SELECT topk_pairs(1d, 1L, 2L)", notConst, "k"),
           ("SELECT topk_pairs(1d, 1L, 0)", outOfRange, "k"))) {
      val e = intercept[org.apache.spark.sql.AnalysisException](spark.sql(call).collect())
      assert(e.getCondition === condition, s"$call: ${e.getMessage}")
      assert(e.getMessage.contains(s"`$arg`"), s"$call: ${e.getMessage}")
    }
    // the usage text, preconditions included, is what DESCRIBE FUNCTION shows
    val described = spark.sql("DESCRIBE FUNCTION sorted_intersect_count")
      .collect().map(_.getString(0)).mkString("\n")
    assert(described.contains("sorted_intersect_count(a, b)") &&
           described.contains("sorted ascending"), described)
  }

  test("a registered operator round-trips through a SQL view of its own output") {
    viewsReady()
    graft.queries.Wrangle.x65(spark, sfSmoke).createOrReplaceTempView("scd2")
    val total = spark.sql("SELECT SUM(n_intervals) FROM scd2").head().getLong(0)
    assert(total === spark.table("events").count())
  }

  test("Dataset.observe collects audit metrics in-flight, no second pass") {
    // the zero-cost sibling of x64: data-quality counters ride along with
    // the job that already reads the data (at 100 TB a separate audit scan
    // doubles the read bill; observe() makes it free)
    import org.apache.spark.sql.Observation
    import org.apache.spark.sql.functions._
    val obs = Observation("lineitem_audit")
    val docs = graft.engine.Tables.lineitem(spark, sfSmoke)
      .observe(obs,
        count(lit(1)).as("rows"),
        sum(when(col("l_extendedprice") <= 0, 1L).otherwise(0L)).as("bad_price"),
        sum(when(col("l_quantity").isNull, 1L).otherwise(0L)).as("null_qty"))
    val n = docs.filter(col("l_quantity") > 0).count() // the real job
    val m = obs.get
    assert(m("rows").asInstanceOf[Long] >= n)
    assert(m("bad_price") === 0L)
    assert(m("null_qty") === 0L)
  }
}
