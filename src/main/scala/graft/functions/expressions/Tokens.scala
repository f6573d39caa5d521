package graft.functions.expressions

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/**
 * Tokenizer as a native expression: letter/digit runs, optionally
 * per-char lowercased — exactly `filter(split(lower(s),
 * "[^\p{L}\p{Nd}]+"), length > 0)` (Character.isLetterOrDigit covers
 * the same letter/digit classes as the regex), in one per-row loop
 * instead of three interpreted higher-order functions (measured ~10s
 * cold / ~1s warm for the HOF chain over 5000 docs vs ~0.3s here).
 *
 * Codegen-capable: the generated code calls the static [[Tokens.tokenize]]
 * kernel, so the surrounding operators stay inside one whole-stage
 * codegen span (no interpreter fallback per row).
 *
 * `stemmer` is the reference's per-locale stem hook
 * (TokenizerBase.stemArray): each emitted token is stemmed by the
 * [[Stemmers]]-registered stemmer. "none" (identity) is the default;
 * the stemmer object is resolved ONCE (codegen reference object), not
 * per row.
 *
 * `translit` is the THIRD pipeline stage (reference
 * TokenizerBase.transliteratedTokens, yupana-utils
 * TokenizerBase.scala:34-36: `stemmedTokens(item).map(transliterate)
 * .filterNot(_.isEmpty)`): each stemmed token runs through
 * [[Transliterate.transliterate]] and tokens that transliterate to ""
 * (soft/hard signs) are dropped — the tokenize → stem → transliterate
 * chain `ItemDimension.hash` feeds on (yupana-schema
 * ItemDimension.scala:54-56).
 *
 * The child is a string or an array of strings — the reference registers
 * the tokenizer for both (yupana-core sql/FunctionRegistry.scala:155,171,
 * `ArrayTokensExpr`; ConstantCalculator.scala:142 evaluates it as
 * `a.flatMap(tokenizer.transliteratedTokens)`). An array's elements are
 * tokenized with the same kernel and the results concatenated in element
 * order; NULL elements contribute no tokens, a NULL array is NULL. The
 * branch is picked from the child's type at eval and codegen time, so
 * the expression can be built over unresolved children.
 */
case class Tokens(child: Expression, lowercase: Boolean, stemmer: String = "none",
    translit: Boolean = false)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "graft_tokens"

  // Resolved EAGERLY on the driver and serialized with the expression:
  // a lazy/transient field would re-resolve from the Stemmers registry
  // inside executor JVMs, where driver-registered custom stemmers don't
  // exist (the codegen path already ships the object via addReferenceObj;
  // this keeps the interpreted path consistent with it).
  private val stemmerObj: Stemmer = Stemmers.forId(stemmer)

  private lazy val overArray: Boolean = child.dataType.isInstanceOf[ArrayType]

  override protected def nullSafeEval(input: Any): Any =
    if (overArray) Tokens.tokenizeAll(input.asInstanceOf[ArrayData], lowercase, stemmerObj, translit)
    else Tokens.tokenize(input.asInstanceOf[UTF8String], lowercase, stemmerObj, translit)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val stemRef = ctx.addReferenceObj("stemmer", stemmerObj, classOf[Stemmer].getName)
    val kernel = if (overArray) "tokenizeAll" else "tokenize"
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.expressions.Tokens.$kernel($c, $lowercase, $stemRef, $translit);")
  }

  override protected def withNewChildInternal(newChild: Expression): Tokens = copy(child = newChild)
}

object Tokens {
  /** Static kernel, callable from generated Java.
    *
    * Parity discipline: lowercase FIRST through UTF8String.toLowerCase
    * — the exact kernel Spark's `lower()` uses, including 1:N special
    * mappings — then segment by CODE POINT. A per-UTF-16-char loop
    * (the original shape) silently split every supplementary-plane
    * letter (mathematical alphanumerics, CJK Ext-B, Gothic: surrogate
    * halves are not letterOrDigit) and lowercased İ differently than
    * `lower()`, so the native path and the composable
    * `filter(split(lower(s), "[^\p{L}\p{Nd}]+"), ...)` formulation —
    * and the DuckDB oracle that mirrors it — disagreed exactly on the
    * corpora where cross-engine determinism is hardest to audit. */
  def tokenize(u: UTF8String, lowercase: Boolean, stemmer: Stemmer,
      translit: Boolean): ArrayData = {
    val s = (if (lowercase) u.toLowerCase else u).toString
    val identity = stemmer eq IdentityStemmer
    val out = new java.util.ArrayList[AnyRef]()
    val sb = new java.lang.StringBuilder()
    def flush(): Unit = if (sb.length > 0) {
      var w = sb.toString
      if (!identity) w = stemmer.stem(w)
      if (translit) w = Transliterate.transliterate(w)
      // only the translit stage can empty a token (reference
      // transliteratedTokens filterNot(_.isEmpty) — "ъ" → "")
      if (w.nonEmpty) out.add(UTF8String.fromString(w))
      sb.setLength(0)
    }
    var i = 0
    val len = s.length
    while (i < len) {
      val cp = s.codePointAt(i)
      if (Character.isLetterOrDigit(cp)) sb.appendCodePoint(cp) else flush()
      i += Character.charCount(cp)
    }
    flush()
    new GenericArrayData(out.toArray)
  }

  /** Static kernel, callable from generated Java: flatMap of
    * [[tokenize]] over the non-NULL elements (reference
    * ConstantCalculator.scala:142 `a.flatMap(transliteratedTokens)`
    * when `translit` is on). */
  def tokenizeAll(arr: ArrayData, lowercase: Boolean, stemmer: Stemmer,
      translit: Boolean): ArrayData = {
    val out = new java.util.ArrayList[AnyRef]()
    var i = 0
    val n = arr.numElements()
    while (i < n) {
      if (!arr.isNullAt(i)) {
        val toks = tokenize(arr.getUTF8String(i), lowercase, stemmer, translit)
        var j = 0
        val m = toks.numElements()
        while (j < m) { out.add(toks.getUTF8String(j)); j += 1 }
      }
      i += 1
    }
    new GenericArrayData(out.toArray)
  }
}

/**
 * Word n-gram shingles as a native expression: tokenize (lowercase
 * letter/digit runs) and emit the distinct n-token shingle strings in
 * one pass — semantically identical to
 * `array_distinct(transform(sequence(1, greatest(size(toks)-n+1, 1)),
 * i -> concat_ws(" ", slice(toks, i, n))))` over [[Tokens]] output
 * (short docs yield ONE shingle of whatever tokens exist; empty docs
 * the "" shingle), but without the interpreted per-element lambdas.
 */
case class WordShingles(child: Expression, n: Int) extends UnaryExpression {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "graft_word_shingles"

  override protected def nullSafeEval(input: Any): Any =
    WordShingles.shingle(input.asInstanceOf[UTF8String], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = graft.functions.expressions.WordShingles.shingle($c, $n);")

  override protected def withNewChildInternal(newChild: Expression): WordShingles = copy(child = newChild)
}

object WordShingles {
  /** Static kernel, callable from generated Java. */
  def shingle(u: UTF8String, n: Int): ArrayData = {
    val toks = Tokens.tokenize(u, lowercase = true, IdentityStemmer, translit = false)
    val cnt = toks.numElements()
    val out = new java.util.LinkedHashSet[AnyRef]()
    val limit = math.max(cnt - n + 1, 1)
    val sb = new java.lang.StringBuilder()
    var i = 0
    while (i < limit) {
      sb.setLength(0)
      var j = i
      val hi = math.min(i + n, cnt)
      while (j < hi) {
        if (j > i) sb.append(' ')
        sb.append(toks.getUTF8String(j).toString)
        j += 1
      }
      out.add(UTF8String.fromString(sb.toString))
      i += 1
    }
    new GenericArrayData(out.toArray(new Array[AnyRef](out.size())))
  }
}
