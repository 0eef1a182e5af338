package graft.engine.expr

import org.apache.spark.sql.{AnalysisException, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo, ImplicitCastInputTypes}
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, IntegerType}

/** Native Catalyst vector kernels over `array<float>` columns.
  *
  * These replace the 64-term unrolled `element_at` chains in
  * [[graft.engine.VectorKernels]]: one expression node whose codegen is a
  * tight primitive loop over the underlying `ArrayData` — no per-element
  * expression-tree cost at optimization time (the unrolled form made
  * Catalyst chew through 192-node trees per kernel) and a straight-line
  * float loop at runtime inside whole-stage codegen.
  *
  * Numeric parity: the loop accumulates in ascending index order with a
  * double accumulator starting at 0.0 — exactly the left-associative sum the
  * unrolled chain, the `aggregate(zip_with(...))` fold, and DuckDB's
  * ascending list evaluation produce, so oracle hashes are unchanged.
  */
abstract class FloatVecFold extends BinaryExpression with ImplicitCastInputTypes {
  // Seq[DataType] refines Seq[AbstractDataType] (AbstractDataType is
  // private[sql] in Spark 4, so it cannot be named here)
  override def inputTypes: Seq[DataType] =
    Seq(ArrayType(FloatType), ArrayType(FloatType))
  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true

  /** Java source for one loop step: accumulate into `acc` from `x`/`y` at `i`. */
  protected def stepCode(x: String, y: String): String
  /** Scala evaluation of one step (interpreted fallback — same math). */
  protected def step(a: ArrayData, b: ArrayData, i: Int): Double

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) { acc += step(x, y, i); i += 1 }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      s"""
         |int $n = java.lang.Math.min($x.numElements(), $y.numElements());
         |double $acc = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $acc += ${stepCode(s"((double)$x.getFloat($i))", s"((double)$y.getFloat($i))")};
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })
}

/** Σᵢ aᵢ·bᵢ (dot product; `fvec_dot(a, a)` is the squared norm). */
case class FVecDot(left: Expression, right: Expression) extends FloatVecFold {
  override protected def stepCode(x: String, y: String): String = s"$x * $y"
  override protected def step(a: ArrayData, b: ArrayData, i: Int): Double =
    a.getFloat(i).toDouble * b.getFloat(i).toDouble
  override def prettyName: String = "fvec_dot"
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Σᵢ (aᵢ−bᵢ)² (squared L2 distance). */
case class FVecL2Sq(left: Expression, right: Expression) extends FloatVecFold {
  override protected def stepCode(x: String, y: String): String =
    s"($x - $y) * ($x - $y)"
  override protected def step(a: ArrayData, b: ArrayData, i: Int): Double = {
    val d = a.getFloat(i).toDouble - b.getFloat(i).toDouble
    d * d
  }
  override def prettyName: String = "fvec_l2sq"
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Session extension installing the native kernels as SQL functions —
  * callable from `functions.call_function` and `spark.sql`. Each kernel is
  * declared once in [[kernels]]: its accepted argument counts and its
  * constant arguments are checked here, before its build function runs, so
  * a wrong count is an `AnalysisException` (WRONG_NUM_ARGS) like any
  * built-in function's, a constant argument that is not a constant of its
  * type or lies outside its range is one too (DATATYPE_MISMATCH), and its
  * usage text is what `DESCRIBE FUNCTION` shows. */
object GraftExtensions {
  /** An argument that must be a non-null constant of `dataType` (any
    * nullability): position, name and, for integers, the accepted range. */
  private[graft] final case class LiteralArg(pos: Int, name: String, dataType: DataType,
                                             range: Option[Range] = None)

  private def intArg(pos: Int, name: String, range: Range) =
    LiteralArg(pos, name, IntegerType, Some(range))

  /** One SQL kernel: name, expression class, accepted argument counts,
    * `ExpressionInfo` usage, build function and constant arguments. */
  private[graft] final case class Kernel(name: String, cls: Class[_], arity: Range,
                                         usage: String, build: Seq[Expression] => Expression,
                                         literals: Seq[LiteralArg] = Nil)

  private[graft] val kernels: Seq[Kernel] = Seq(
    Kernel("fvec_dot", classOf[FVecDot], 2 to 2,
      "_FUNC_(a, b) - Σ a[i]·b[i] of two array<float> columns, as a double.",
      args => FVecDot(args(0), args(1))),
    Kernel("fvec_l2sq", classOf[FVecL2Sq], 2 to 2,
      "_FUNC_(a, b) - Σ (a[i] − b[i])² of two array<float> columns, as a double.",
      args => FVecL2Sq(args(0), args(1))),
    Kernel("pq_adc", classOf[PqAdc], 3 to Int.MaxValue,
      "_FUNC_(qe, books, code_0, ..., code_M-1) - product-quantization distance of " +
        "query embedding qe to the M codes; books is a literal " +
        "array<array<array<double>>> of M sub-codebooks.",
      PqAdc.fromArgs,
      Seq(LiteralArg(1, "books", ArrayType(ArrayType(ArrayType(DoubleType)))))),
    Kernel("shingles", classOf[Shingles], 2 to 2,
      "_FUNC_(text, n) - the distinct word n-gram shingles of lower(text) split on " +
        "spaces, in first-occurrence order.",
      args => Shingles(args(0), args(1))),
    Kernel("rolling_fps", classOf[RollingHashFps], 1 to 2,
      "_FUNC_(text[, k]) - the Rabin-Karp fingerprints of every k-token window of " +
        "lower(text); k is an integer literal in [1, 256], default 5.",
      args =>
        if (args.length == 1) RollingHashFps(args(0))
        else RollingHashFps(args(0), args(1).eval().asInstanceOf[Int]),
      Seq(intArg(1, "k", 1 to 256))),
    Kernel("lcp_count", classOf[LcpCount], 2 to 2,
      "_FUNC_(a, b) - the length of the common prefix of two string arrays.",
      args => LcpCount(args(0), args(1))),
    Kernel("sorted_intersect_count", classOf[SortedIntersectCount], 2 to 2,
      "_FUNC_(a, b) - |set(a) ∩ set(b)| of two array<bigint> columns. Both arrays " +
        "MUST be sorted ascending with nulls first (sort_array's default); on " +
        "unsorted input the count is undefined.",
      args => SortedIntersectCount(args(0), args(1))),
    Kernel("token_stats", classOf[TokenStats], 1 to 1,
      "_FUNC_(text) - struct<n_tokens, max_cnt, sum_clnc> of the lowercase " +
        "space-split non-empty tokens of text.",
      args => TokenStats(args(0))),
    Kernel("freq_sketch", classOf[FreqSketch], 2 to 2,
      "_FUNC_(key, capacity) - aggregate: Misra-Gries frequent-items summary as " +
        "map<key, weight> of at most capacity (an integer literal >= 1) entries.",
      args => FreqSketch(args(0), args(1).eval().asInstanceOf[Int]),
      Seq(intArg(1, "capacity", 1 to Int.MaxValue))),
    Kernel("topk_pairs", classOf[TopKPairs], 3 to 3,
      "_FUNC_(score, tag, k) - aggregate: the k strongest (score, tag) pairs under " +
        "(score DESC, tag ASC); k is an integer literal >= 1.",
      args => TopKPairs(args(0), args(1), args(2).eval().asInstanceOf[Int]),
      Seq(intArg(2, "k", 1 to Int.MaxValue))))

  def install(e: SparkSessionExtensions): Unit = {
    kernels.foreach { k =>
      e.injectFunction((
        FunctionIdentifier(k.name),
        new ExpressionInfo(k.cls.getName, null, k.name, k.usage, "", "", "", "", "", "", ""),
        (args: Seq[Expression]) => {
          if (!k.arity.contains(args.length))
            throw new AnalysisException("WRONG_NUM_ARGS.WITHOUT_SUGGESTION", Map(
              "functionName" -> s"`${k.name}`",
              "expectedNum" ->
                (if (k.arity.end == Int.MaxValue) s">= ${k.arity.start}"
                 else k.arity.mkString(" or ")),
              "actualNum" -> args.length.toString,
              "docroot" -> org.apache.spark.SPARK_DOC_ROOT))
          def mismatch(sub: String, params: (String, String)*) =
            new AnalysisException(s"DATATYPE_MISMATCH.$sub", Map("sqlExpr" ->
              s"\"${k.name}(${args.map(_.sql).mkString(", ")})\"") ++ params)
          k.literals.filter(_.pos < args.length).foreach { l =>
            val a = args(l.pos)
            // foldable first: a column has no value to check
            if (!a.foldable || !DataTypeUtils.equalsIgnoreNullability(a.dataType, l.dataType) ||
                a.eval() == null)
              throw mismatch("NON_FOLDABLE_INPUT", "inputName" -> s"`${l.name}`",
                "inputType" -> l.dataType.sql, "inputExpr" -> a.sql)
            l.range.foreach { r =>
              val v = a.eval().asInstanceOf[Int]
              if (!r.contains(v))
                throw mismatch("VALUE_OUT_OF_RANGE", "exprName" -> s"`${l.name}`",
                  "valueRange" -> s"[${r.start}, ${r.end}]", "currentValue" -> v.toString)
            }
          }
          k.build(args)
        }))
    }
    // whole-operator extension: native as-of join (graft.plans.AsOfJoinPlan)
    e.injectPlannerStrategy(_ => graft.plans.AsOfJoinStrategy)
  }
}
