package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Shared per-row token-frequency kernels, called from both the
  * interpreted `eval` path and the generated code (the generated code
  * emits a static call — the expression itself stays inside
  * whole-stage codegen, so the surrounding operators still fuse).
  *
  * Why not built-ins: the relational route to "most frequent token per
  * document" is explode + groupBy(doc_id, token) + max — a full shuffle
  * of the tokenized corpus (~5-10× the text bytes) just to compute a
  * per-row scalar; the HOF route
  * (`array_max(transform(array_distinct(t), x -> size(filter(t, y ->
  * y = x))))`) is O(n²) per row AND interpreted (Spark never compiles
  * lambda functions). These kernels are one pass over the token array
  * with a single open-addressing-style hash map, per row, zero shuffle
  * — the shape that survives a 100 TB corpus where repetition gating
  * must ride the initial scan. */
object TokenStats {
  /** Highest occurrence count of any single token (0 for empty). */
  def topFreq(a: ArrayData): Int = {
    val n = a.numElements()
    if (n == 0) return 0
    val m = new java.util.HashMap[UTF8String, Int](n * 2)
    var best = 0
    var i = 0
    while (i < n) {
      val t = a.getUTF8String(i)
      val c = m.getOrDefault(t, 0) + 1
      m.put(t, c)
      if (c > best) best = c
      i += 1
    }
    best
  }

  private val Sep = UTF8String.fromString("\u0000")

  /** Number of adjacent-pair (bigram) occurrences beyond each bigram's
    * first occurrence: `n_bigrams - distinct_bigrams` (0 for n < 2).
    * Pairs are keyed by NUL-joined concat (the `\u0000` Sep
    * above). Tokens come from splitting on spaces (the library's
    * tokenization), so they contain neither spaces nor NUL — which
    * makes the keying unambiguous and equivalent to the oracle's
    * space-joined `p[1]||' '||p[2]`. */
  def dupBigrams(a: ArrayData): Int = {
    val n = a.numElements()
    if (n < 2) return 0
    val seen = new java.util.HashSet[UTF8String](n * 2)
    var dup = 0
    var i = 0
    while (i < n - 1) {
      val b = UTF8String.concat(a.getUTF8String(i), Sep, a.getUTF8String(i + 1))
      if (!seen.add(b)) dup += 1
      i += 1
    }
    dup
  }

  private val emptyLongs = new GenericArrayData(Array.emptyLongArray)

  /** 60-bit hashes of all token k-grams, in position order: for each
    * i in 0..n-k, md5 of the space-joined k tokens starting at i,
    * upper 60 bits of the digest — BIT-IDENTICAL to the relational
    * `conv(substring(md5(concat_ws(' ', tok, lead1..lead(k-1))), 1,
    * 15), 16, 10)` build ([[graft.pipeline.DupCorpus.h60]]: the first
    * 15 hex chars of the digest are its first 60 bits, and a 15-digit
    * hex parse is exactly (first-8-bytes-as-big-endian) >>> 4), and to
    * the oracle's `list_transform(range(...), i -> h60(t[i] || ' ' ||
    * ...))`. One pass per row riding the scan — the relational build
    * pays a posexplode + window sort (a full exchange of the token
    * stream) per side just to line up the leads. Empty for n < k.
    * A null token still takes its position but is skipped in the
    * join, exactly as `concat_ws` skips null arguments. */
  def gramH60(a: ArrayData, k: Int): ArrayData = {
    val n = a.numElements()
    if (n < k) return emptyLongs
    val toks = new Array[Array[Byte]](n)
    var i = 0
    while (i < n) {
      if (!a.isNullAt(i)) toks(i) = a.getUTF8String(i).getBytes
      i += 1
    }
    val md = java.security.MessageDigest.getInstance("MD5")
    val out = new Array[Long](n - k + 1)
    i = 0
    while (i <= n - k) {
      md.reset()
      var joined = false
      var j = 0
      while (j < k) {
        val t = toks(i + j)
        if (t != null) {
          if (joined) md.update(' '.toByte)
          md.update(t)
          joined = true
        }
        j += 1
      }
      val dg = md.digest()
      var v = 0L
      var b = 0
      while (b < 8) { v = (v << 8) | (dg(b) & 0xffL); b += 1 }
      out(i) = v >>> 4
      i += 1
    }
    new GenericArrayData(out)
  }

  /** Minimum of every length-w sliding window over a long array, in
    * position order (n-w+1 minima; empty for n < w). Monotonic-deque,
    * O(n) — the per-window `list_min(list_slice(...))` HOF is O(n·w)
    * AND interpreted; the relational frame-min pays a window sort. */
  def winMin(a: ArrayData, w: Int): ArrayData = {
    val n = a.numElements()
    if (n < w) return emptyLongs
    val vals = a.toLongArray()
    val out = new Array[Long](n - w + 1)
    val deque = new Array[Int](n) // indices, increasing value order
    var head = 0
    var tail = 0 // exclusive
    var i = 0
    while (i < n) {
      if (head < tail && deque(head) <= i - w) head += 1
      while (head < tail && vals(deque(tail - 1)) >= vals(i)) tail -= 1
      deque(tail) = i; tail += 1
      if (i >= w - 1) out(i - w + 1) = vals(deque(head))
      i += 1
    }
    new GenericArrayData(out)
  }
}

/** Type check of a (array, positive int literal) kernel: `left` must
  * match `arg`, and `right` must be a foldable int that is > 0. */
private[functions] object KernelArgs {
  def check(e: BinaryExpression, arg: ArrayType => Boolean,
      argSql: String): TypeCheckResult =
    (e.left.dataType, e.right.dataType) match {
      case (a: ArrayType, IntegerType) if arg(a) && e.right.foldable =>
        e.right.eval() match {
          case v: Int if v > 0 => TypeCheckResult.TypeCheckSuccess
          case v => TypeCheckResult.TypeCheckFailure(
            s"${e.prettyName} expects a positive int literal, got $v")
        }
      case _ => TypeCheckResult.TypeCheckFailure(
        s"${e.prettyName} expects ($argSql, int literal), got " +
          s"(${e.left.dataType.sql}, ${e.right.dataType.sql})")
    }
}

private[functions] trait TokenArrayInput { self: UnaryExpression =>
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects array<string>, got ${other.sql}")
  }
  override def dataType: DataType = IntegerType
}

/** `graft_top_freq(array<string>) -> int` — see [[TokenStats.topFreq]]. */
case class TopTokenFreq(child: Expression)
    extends UnaryExpression with TokenArrayInput {
  override protected def nullSafeEval(a: Any): Any =
    TokenStats.topFreq(a.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev,
      x => s"${ev.value} = graft.functions.TokenStats.topFreq($x);")
  override protected def withNewChildInternal(c: Expression): TopTokenFreq =
    copy(child = c)
  override def prettyName: String = "graft_top_freq"
}

/** `graft_dup_bigrams(array<string>) -> int` — see
  * [[TokenStats.dupBigrams]]. */
case class DupBigramCount(child: Expression)
    extends UnaryExpression with TokenArrayInput {
  override protected def nullSafeEval(a: Any): Any =
    TokenStats.dupBigrams(a.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev,
      x => s"${ev.value} = graft.functions.TokenStats.dupBigrams($x);")
  override protected def withNewChildInternal(c: Expression): DupBigramCount =
    copy(child = c)
  override def prettyName: String = "graft_dup_bigrams"
}

/** `graft_gram_h60(array<string>, k) -> array<bigint>` — see
  * [[TokenStats.gramH60]]; k must be a foldable positive int, and
  * null tokens are skipped as `concat_ws` skips them. */
case class GramHash60(left: Expression, right: Expression)
    extends BinaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    KernelArgs.check(this, _.elementType == StringType, "array<string>")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override protected def nullSafeEval(a: Any, k: Any): Any =
    TokenStats.gramH60(a.asInstanceOf[ArrayData], k.asInstanceOf[Int])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev,
      (a, k) => s"${ev.value} = graft.functions.TokenStats.gramH60($a, $k);")
  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): GramHash60 = copy(left = l, right = r)
  override def prettyName: String = "graft_gram_h60"
}

/** `graft_win_min(array<bigint>, w) -> array<bigint>` — see
  * [[TokenStats.winMin]]; w must be a foldable positive int. */
case class WindowMin(left: Expression, right: Expression)
    extends BinaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    KernelArgs.check(this, _ == ArrayType(LongType, containsNull = false),
      "array<bigint> without nulls")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override protected def nullSafeEval(a: Any, w: Any): Any =
    TokenStats.winMin(a.asInstanceOf[ArrayData], w.asInstanceOf[Int])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev,
      (a, w) => s"${ev.value} = graft.functions.TokenStats.winMin($a, $w);")
  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): WindowMin = copy(left = l, right = r)
  override def prettyName: String = "graft_win_min"
}
