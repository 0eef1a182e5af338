package graft.engine.expr

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{DataType, DoubleType}

/** Native multi-query ADC (asymmetric distance computation) kernel:
  *
  *   pq_adc(qe, books_literal, code_0, ..., code_{M-1})
  *     = Σ_{m=0}^{M-1} Σ_{d=0}^{Ds-1} (books[m][code_m][d] − qe[m·Ds+d])²
  *
  * accumulated left-to-right over the 64 (m ascending, d ascending) terms
  * with a double accumulator starting at 0.0 — EXACTLY the fold
  * `aggregate(zip_with(concat(element_at(book_m, code_m+1)...), qe,
  * (a,b) -> (a-b)*(a-b)), 0D, (s,x) -> s+x)` computes, term for term and
  * rounding for rounding, so every ADC value (and therefore every
  * shortlist rank) is bit-identical to the higher-order-function form.
  *
  * Why it exists (optimization guide §"expressions and codegen"):
  * `zip_with`/`aggregate` are CodegenFallback expressions — each candidate
  * row built a 64-element reconstruction array, a second zipped array, and
  * ran an interpreted per-element lambda with boxing. On x111's clustered
  * ANN recall leg (~0.5 M candidate rows at sf0.1) that interpreted chain
  * was ~80 % of the leg's runtime; this kernel is a straight-line primitive
  * loop inside whole-stage codegen reading the tiny codebook from a
  * broadcast-referenced flat double[].
  *
  * The codebook argument must be a foldable literal (nested
  * array<array<array<double>>>, e.g. `typedLit(books)`); it is flattened
  * once at resolution time and never evaluated per row.
  */
case class PqAdc(flatBooks: Array[Double], numSub: Int, numCodes: Int,
                 dimsPerSub: Int, children: Seq[Expression])
    extends Expression {
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = children.exists(_.nullable)
  override def foldable: Boolean = children.forall(_.foldable)

  override def eval(input: InternalRow): Any = {
    val qeAny = children.head.eval(input)
    if (qeAny == null) return null
    val qe = qeAny.asInstanceOf[ArrayData]
    var s = 0.0
    var m = 0
    while (m < numSub) {
      val cAny = children(m + 1).eval(input)
      if (cAny == null) return null
      val base = (m * numCodes + cAny.asInstanceOf[Int]) * dimsPerSub
      var j = 0
      while (j < dimsPerSub) {
        val diff = flatBooks(base + j) - qe.getFloat(m * dimsPerSub + j).toDouble
        s += diff * diff
        j += 1
      }
      m += 1
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val books = ctx.addReferenceObj("flatBooks", flatBooks, "double[]")
    val qeEv = children.head.genCode(ctx)
    val codeEvs = children.tail.map(_.genCode(ctx))
    val acc = ctx.freshName("acc")
    val base = ctx.freshName("base")
    val j = ctx.freshName("j")
    val diff = ctx.freshName("diff")
    val perSub = (0 until numSub).map { m =>
      s"""
         |$base = (($m * $numCodes + ${codeEvs(m).value}) * $dimsPerSub);
         |for (int $j = 0; $j < $dimsPerSub; $j++) {
         |  double $diff = $books[$base + $j]
         |    - (double) ${qeEv.value}.getFloat($m * $dimsPerSub + $j);
         |  $acc += $diff * $diff;
         |}
       """.stripMargin
    }.mkString("\n")
    val nullChecks =
      (qeEv +: codeEvs).map(_.isNull).filterNot(_ == FalseLiteral)
    val anyNull =
      if (nullChecks.isEmpty) "false" else nullChecks.mkString(" || ")
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    val childCode =
      (qeEv +: codeEvs).map(_.code).reduce(_ + _)
    ev.copy(code = childCode +
      code"""
         |boolean ${ev.isNull} = $anyNull;
         |double ${ev.value} = 0.0;
         |if (!${ev.isNull}) {
         |  double $acc = 0.0;
         |  int $base;
         |  $perSub
         |  ${ev.value} = $acc;
         |}
       """.stripMargin)
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(children = newChildren)
  override def prettyName: String = "pq_adc"
}

object PqAdc {
  /** Builder for the SQL registration: args = (qe, booksLiteral, codes...),
    * the books argument already checked to be an array<array<array<double>>>
    * constant. It is consumed here (flattened driver-side); only the
    * per-row children stay in the tree. */
  def fromArgs(args: Seq[Expression]): PqAdc = {
    val outer = args(1).eval().asInstanceOf[ArrayData]
    val numSub = outer.numElements()
    val first = outer.getArray(0)
    val numCodes = first.numElements()
    val dimsPerSub = first.getArray(0).numElements()
    val flat = new Array[Double](numSub * numCodes * dimsPerSub)
    var m = 0
    while (m < numSub) {
      val mid = outer.getArray(m)
      require(mid.numElements() == numCodes, "ragged codebook")
      var k = 0
      while (k < numCodes) {
        val inner = mid.getArray(k)
        require(inner.numElements() == dimsPerSub, "ragged codebook")
        var d = 0
        while (d < dimsPerSub) {
          flat((m * numCodes + k) * dimsPerSub + d) = inner.getDouble(d)
          d += 1
        }
        k += 1
      }
      m += 1
    }
    val codes = args.drop(2)
    require(codes.length == numSub,
      s"pq_adc expects ${numSub} code columns, got ${codes.length}")
    PqAdc(flat, numSub, numCodes, dimsPerSub, args.head +: codes)
  }
}
