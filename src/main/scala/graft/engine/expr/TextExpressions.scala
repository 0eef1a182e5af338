package graft.engine.expr

import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ImplicitCastInputTypes, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** `shingles(text, n)` — the distinct word n-gram shingles of `lower(text)`
  * split on single spaces, as one native expression.
  *
  * Replaces the interpreted chain
  * `array_distinct(transform(sequence(0, greatest(size(toks)-n, 0)),
  * i -> concat_ws(' ', slice(toks, i+1, n))))` over
  * `toks = split(lower(text), " ")`, which Spark evaluates per element with a
  * lambda interpreter and three intermediate arrays per row. Semantics are
  * replicated exactly, including the edge cases the chain implies:
  * split keeps leading/internal/trailing empty tokens (regex limit -1), a
  * document with fewer than n tokens yields its single shorter shingle, and
  * distinct keeps first-occurrence order.
  *
  * The fused loop is what a 100 TB dedup pass spends its CPU on, so it runs
  * as straight-line Java inside whole-stage codegen (the generated code calls
  * [[Shingles.compute]] — one virtual call per row, zero lambda dispatch).
  */
case class Shingles(left: Expression, right: Expression)
    extends BinaryExpression with ImplicitCastInputTypes {
  override def inputTypes: Seq[DataType] = Seq(StringType, IntegerType)
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "shingles"

  override protected def nullSafeEval(text: Any, n: Any): Any =
    Shingles.compute(text.asInstanceOf[UTF8String], n.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (t, n) =>
      s"${ev.value} = graft.engine.expr.Shingles.compute($t, $n);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object Shingles {
  private val emptyShingle: ArrayData =
    new GenericArrayData(Array[Any](UTF8String.fromString("")))

  /** Shared by interpreted eval and generated code. */
  def compute(text: UTF8String, n: Int): ArrayData = {
    // n = 0 mirrors the HOF chain (every slice is empty → one "" shingle);
    // negative n is an error there too, just a clearer one here
    if (n == 0) return emptyShingle
    require(n > 0, s"shingles: n must be non-negative, got $n")
    // UTF8String.toLowerCase is exactly Spark's lower(); splitting on the
    // single byte 0x20 equals regex-split " " with limit -1 (a space byte
    // never occurs inside a multi-byte UTF-8 sequence).
    val s = text.toLowerCase.toString
    var tokCount = 1
    var i = 0
    while (i < s.length) { if (s.charAt(i) == ' ') tokCount += 1; i += 1 }
    val starts = new Array[Int](tokCount + 1)
    var t = 1
    i = 0
    while (i < s.length) { if (s.charAt(i) == ' ') { starts(t) = i + 1; t += 1 }; i += 1 }
    starts(tokCount) = s.length + 1
    val seen = new java.util.LinkedHashSet[String]()
    val last = math.max(tokCount - n, 0)
    var g = 0
    while (g <= last) {
      val end = math.min(g + n, tokCount)
      // tokens g..end-1 joined with ' ' are exactly the substring between the
      // first token's start and the last token's end (separators included)
      seen.add(s.substring(starts(g), starts(end) - 1))
      g += 1
    }
    val out = new Array[Any](seen.size)
    val it = seen.iterator()
    i = 0
    while (it.hasNext) { out(i) = UTF8String.fromString(it.next()); i += 1 }
    new GenericArrayData(out)
  }
}

/** `rolling_fps(text)` — the 5-token-window Rabin-Karp rolling-hash
  * fingerprints of `lower(text)` (LlmExt2.docFingerprints's math), fused
  * into one native codegen'd pass.
  *
  * Replaces the interpreted chain
  * `transform(sequence(...), i -> horner(element_at(codes, i+k)))` over
  * `codes = transform(slice(filter(split(lower(text), " "), ...), 1, 256),
  * code)`, whose lambda interpreter dominated x13/x24/x31/x33 profiles.
  * Semantics replicated exactly, all code-point based (ascii() == first
  * code point, length() == codePointCount — probed against Spark AND
  * DuckDB on non-ASCII input):
  *   - tokens: split on the space byte, empties dropped, first 256 kept;
  *   - token code: cp(first)·4096 + cp(second)·64 + numChars (cp of a
  *     missing second char is 0, matching ascii(substring(t,2,1)) on "");
  *   - fingerprint per window i..i+4 (i ≤ n−5):
  *     ((((c4·131 + c3) mod M)·131 + c2 mod M)·131 + c1 mod M)·131 + c0
  *     mod M with M = 1e9+7 — every step < 1.4e11, BIGINT-exact. */
case class RollingHashFps(child: Expression, k: Int = 5)
    extends UnaryExpression with ImplicitCastInputTypes {
  override def inputTypes: Seq[DataType] = Seq(StringType)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "rolling_fps"

  override protected def nullSafeEval(text: Any): Any =
    RollingHashFps.compute(text.asInstanceOf[UTF8String], k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, t =>
      s"${ev.value} = graft.engine.expr.RollingHashFps.compute($t, $k);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object RollingHashFps {
  private val M = 1000000007L
  private val B = 131L
  private val empty: ArrayData = new GenericArrayData(Array.emptyLongArray)

  /** Shared by interpreted eval and generated code. The window size `k`
    * generalizes the original fixed-5 Horner unroll; for k = 5 the values
    * are IDENTICAL (the only change is reducing the leading code mod M
    * before the fold, congruent by construction — pinned in LlmExtSpec). */
  def compute(text: UTF8String, k: Int): ArrayData = {
    // toLowerCase is exactly Spark's lower(); the space byte never occurs
    // inside a multi-byte UTF-8 sequence, so char-level scanning for ' '
    // equals split(" ") on the original
    val s = text.toLowerCase.toString
    val codes = new Array[Long](256)
    var nTok = 0
    var i = 0
    val len = s.length
    while (i < len && nTok < 256) {
      while (i < len && s.charAt(i) == ' ') i += 1
      if (i < len) {
        val start = i
        while (i < len && s.charAt(i) != ' ') i += 1
        // token is s[start, i): first two code points + code-point count
        val c1 = s.codePointAt(start)
        val p2 = start + Character.charCount(c1)
        val c2 = if (p2 < i) s.codePointAt(p2) else 0
        codes(nTok) = c1.toLong * 4096 + c2.toLong * 64 +
          s.codePointCount(start, i)
        nTok += 1
      }
    }
    if (nTok < k) return empty
    val out = new Array[Long](nTok - k + 1)
    var w = 0
    while (w <= nTok - k) {
      // Horner fold from the window's last code down to its first, reduced
      // mod M each step: every intermediate < (M-1)·B + maxCode ≈ 1.4e11,
      // BIGINT-exact; congruent to the pre-r14 deferred-mod k=5 unroll.
      var h = codes(w + k - 1) % M
      var j = k - 2
      while (j >= 0) { h = (h * B + codes(w + j)) % M; j -= 1 }
      out(w) = h
      w += 1
    }
    new GenericArrayData(out)
  }
}

/** `token_stats(text)` — one fused pass over the lowercase space-split
  * non-empty tokens of `text`, returning
  * `struct<n_tokens:bigint, max_cnt:bigint, sum_clnc:double>` where
  * `sum_clnc = Σ_tok c·ln(c)` over per-token counts c.
  *
  * These three numbers are the sufficient statistics for the per-document
  * token-distribution operators: Shannon entropy (x44:
  * `ln(n) − sum_clnc/n`), the Gopher max-frequency fraction (x35:
  * `max_cnt/n`), and the quality-gate repetition test (x47:
  * `5·max_cnt < n`, integer-exact). The explode → groupBy(doc, tok) →
  * groupBy(doc) formulation shuffles the entire token stream TWICE to
  * compute what is a pure per-row function — at corpus scale that is the
  * difference between a map-only scan and ~10¹² shuffled rows. Per-row
  * float summation order is fixed by the row's own token order (stable
  * across runs and partitionings); cross-engine agreement is the same
  * ~1e-14 class the grouped sums already had, far under the 6-digit output
  * rounding.
  */
case class TokenStats(child: Expression) extends UnaryExpression
    with ImplicitCastInputTypes {
  override def inputTypes: Seq[DataType] = Seq(StringType)
  override def dataType: DataType = TokenStats.schema
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "token_stats"

  override protected def nullSafeEval(text: Any): Any =
    TokenStats.compute(text.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, t =>
      s"${ev.value} = graft.engine.expr.TokenStats.compute($t);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object TokenStats {
  import org.apache.spark.sql.types.{DoubleType, StructField, StructType}

  val schema: StructType = StructType(Seq(
    StructField("n_tokens", LongType, nullable = false),
    StructField("max_cnt", LongType, nullable = false),
    StructField("sum_clnc", DoubleType, nullable = false)))

  /** Shared by interpreted eval and generated code. */
  def compute(text: UTF8String): org.apache.spark.sql.catalyst.InternalRow = {
    val s = text.toLowerCase.toString
    val counts = new java.util.HashMap[String, Array[Long]]()
    var i = 0
    val len = s.length
    var n = 0L
    while (i < len) {
      while (i < len && s.charAt(i) == ' ') i += 1
      if (i < len) {
        val start = i
        while (i < len && s.charAt(i) != ' ') i += 1
        val c = counts.computeIfAbsent(s.substring(start, i), _ => new Array[Long](1))
        c(0) += 1
        n += 1
      }
    }
    var maxC = 0L
    var sumClnc = 0.0
    val it = counts.values().iterator()
    while (it.hasNext) {
      val c = it.next()(0)
      if (c > maxC) maxC = c
      if (c > 1) sumClnc += c * math.log(c.toDouble)  // ln(1) term is 0
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](n, maxC, sumClnc))
  }
}

/** `lcp_count(a, b)` — the length of the common prefix of two string
  * arrays: the number of leading positions i with `a[i] = b[i]`, stopping
  * at the first mismatch or at the shorter array's end.
  *
  * Replaces x307's interpreted fold
  * `aggregate(zip_with(prev, cur, (x,y) -> x = y),
  *   (0L, true), (acc, m) -> ...)` — zip_with and aggregate are
  * CodegenFallback, so every adjacent document pair built a padded boolean
  * array and ran a per-element interpreted lambda. Semantics are replicated
  * exactly: zip_with pads the shorter side with null and `x = y` is null
  * there, which stops the fold's counter — i.e. the count is capped at
  * min(|a|, |b|), exactly this loop's bound. (A null ELEMENT also stops the
  * fold there; token arrays from split/filter contain none, but the kernel
  * mirrors it defensively.)
  */
case class LcpCount(left: Expression, right: Expression)
    extends BinaryExpression with ImplicitCastInputTypes {
  override def inputTypes: Seq[DataType] =
    Seq(ArrayType(StringType), ArrayType(StringType))
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "lcp_count"

  override protected def nullSafeEval(a: Any, b: Any): Any =
    LcpCount.compute(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.engine.expr.LcpCount.compute($a, $b);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object LcpCount {
  /** Shared by interpreted eval and generated code. */
  def compute(a: ArrayData, b: ArrayData): Long = {
    val n = math.min(a.numElements(), b.numElements())
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return i.toLong
      if (!a.getUTF8String(i).equals(b.getUTF8String(i))) return i.toLong
      i += 1
    }
    n.toLong
  }
}
