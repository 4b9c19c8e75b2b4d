package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftSqlShims
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.UnaryExpression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native BPE merge-chain application: one WORD in, its token array out,
  * the ENTIRE ordered merge-rule list applied greedy-left inside a
  * single compiled fold (r18 verdict #2).
  *
  * The Column algebra this replaces nested one interpreted `aggregate`
  * HOF per merge rule (`Tokenizer.mergeOnce`, replayed verbatim in
  * `BpeChainSpec`), so the expression TREE grew linearly with the merge
  * count: plan depth O(merges), every word bouncing through the HOF
  * interpreter once per rule, and — the measured cost that retired it —
  * a q183b profile (BENCH_NOTES r18) attributed 90-125 s of cold
  * scheduled-exec per JVM to
  * async C2 compilation of exactly that interpreted chain (the proven
  * 4-14x interpreted-HOF pattern: ArgMinCentroid r17; PqEncode/
  * AdcScore/SimHash64 r18). This expression is rule-count-independent
  * in plan shape: the rules ride along as data (task binaries are
  * broadcast per stage, so a 30k-rule list ships once per executor,
  * the same cost class as the `bpeApplyLarge` broadcast it also
  * replaces), and the fold is one compiled loop.
  *
  * Semantics are exactly the spec-pinned pre-r19 pair
  * (`Tokenizer.bpeApply`'s fold chain ≡ `Tokenizer.bpeApplyLarge`'s
  * `bpeFoldWord`, property-pinned equal since r14):
  *   - the word splits into single-CODE-POINT symbols (Spark's
  *     `split(w, "")` semantics — supplementary-plane characters stay
  *     whole);
  *   - rules apply IN ORDER; each rule (a,b) rewrites the symbol array
  *     greedy-left: scanning left to right, an output-tail `a`
  *     followed by input `b` fuses to `a+b`, and the fused symbol can
  *     immediately fuse again with the NEXT input element under the
  *     same rule (an "aaa" word under (a,a) → ["aa","a"]);
  *   - the `w.contains(a+b)` prefilter skips rules that cannot apply
  *     (symbols are always contiguous substrings of the word, so
  *     adjacency of a,b implies `a+b` occurs in the raw text) — the
  *     production trick `bpeFoldWord` used, now inside the expression;
  *   - a PER-THREAD distinct-word memo caches the full fold result (a
  *     corpus tokenizes its VOCABULARY, not its token stream — the
  *     other `bpeApplyLarge` trick). The memo lives on the expression
  *     instance, which task deserialization makes per-stage-per-task,
  *     bounding it exactly like the old per-partition HashMap;
  *   - NULL word → NULL (the old Column fold's `split(null)` chain);
  *     empty word → empty array.
  *
  * Codegen calls [[foldWord]] on the serialized expression instance via
  * `addReferenceObj` — the same compiled loop the interpreted `eval`
  * uses, so codegen/interpreted bit-parity holds by construction (both
  * are asserted against the replayed Column algebra in `BpeChainSpec`
  * anyway). Generating the loop as Java source would buy nothing: the
  * retired wall was per-rule interpreted expression-tree dispatch, and
  * one virtual call per word into a JIT-compiled fold is already flat.
  */
case class BpeMergeChain(child: Expression, rules: Seq[(String, String)])
    extends UnaryExpression {

  override def dataType: DataType =
    ArrayType(StringType, containsNull = false)
  override def prettyName: String = "bpe_merge_chain"

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case StringType => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"bpe_merge_chain expects a string word, got $other")
    }

  private val engine = new BpeRuleEngine(rules)

  /** The compiled fold — shared verbatim by interpreted eval and the
    * generated code. Public only for codegen's reference-object call. */
  def foldWord(u: UTF8String): ArrayData =
    new GenericArrayData(engine.foldWord(u))

  override protected def nullSafeEval(w: Any): Any =
    foldWord(w.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode)
      : ExprCode = {
    val ref = ctx.addReferenceObj("bpeChain", this,
      classOf[BpeMergeChain].getName)
    nullSafeCodeGen(ctx, ev, w => s"${ev.value} = $ref.foldWord($w);")
  }

  override protected def withNewChildInternal(
      newChild: Expression): Expression = copy(child = newChild)
}

/** Whole-row BPE tokenization: a WORD ARRAY in (the codegen'd
  * `split(trim(lower(text)), "\\s+")` projection), the flattened token
  * stream out — `flatten(filter(transform(words, fold), size > 0))`
  * collapsed into ONE expression call.
  *
  * Exists because routing [[BpeMergeChain]] through `transform` left
  * three higher-order functions in the apply plan, and HOFs are
  * CodegenFallback: the projection stayed whole-stage-codegen'd but
  * every row bounced through the interpreted lambda dispatcher, whose
  * C2 warmup is the exact q183b cold-pass signature this rewrite
  * retires (80 s of cold scheduled-exec remained with the HOF routing;
  * the fold itself was already compiled). With this expression the
  * tokenize projection contains NO higher-order function — split/trim/
  * lower generate Java, the per-word fold is one compiled call — so
  * cold JVMs have nothing interpreter-shaped left to compile.
  *
  * Per-element semantics replayed from the HOF composition it replaces
  * (`BpeChainSpec` pins the whole plan against the pre-r19 algebra):
  * NULL words array → NULL; a NULL element is dropped (the old
  * `filter(size(a) > 0)` dropped it via a NULL predicate); an empty
  * word contributes nothing; token order is word order. */
case class BpeTokenizeWords(child: Expression,
    rules: Seq[(String, String)]) extends UnaryExpression {

  override def dataType: DataType =
    ArrayType(StringType, containsNull = false)
  override def prettyName: String = "bpe_tokenize_words"

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"bpe_tokenize_words expects array<string> words, got $other")
    }

  private val engine = new BpeRuleEngine(rules)

  /** Tokenize every word and concatenate — shared by interpreted eval
    * and codegen. Public only for the reference-object call. */
  def tokenize(words: ArrayData): ArrayData = {
    val n = words.numElements()
    val out = new ArrayBuffer0[UTF8String](math.max(n, 8))
    var i = 0
    while (i < n) {
      if (!words.isNullAt(i)) {
        val toks = engine.foldWord(words.getUTF8String(i))
        var j = 0
        while (j < toks.length) { out += toks(j); j += 1 }
      }
      i += 1
    }
    new GenericArrayData(out.toArray)
  }

  override protected def nullSafeEval(words: Any): Any =
    tokenize(words.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode)
      : ExprCode = {
    val ref = ctx.addReferenceObj("bpeTok", this,
      classOf[BpeTokenizeWords].getName)
    nullSafeCodeGen(ctx, ev, w => s"${ev.value} = $ref.tokenize($w);")
  }

  override protected def withNewChildInternal(
      newChild: Expression): Expression = copy(child = newChild)
}

/** Minimal growable ref buffer (no per-append boxing or Scala builder
  * indirection on the per-row hot path). */
private[functions] final class ArrayBuffer0[T <: AnyRef](cap: Int)(
    implicit tag: scala.reflect.ClassTag[T]) {
  private var arr = new Array[T](math.max(cap, 1))
  private var n = 0
  def +=(x: T): Unit = {
    if (n == arr.length) arr = java.util.Arrays.copyOf(
      arr.asInstanceOf[Array[AnyRef]], n * 2).asInstanceOf[Array[T]]
    arr(n) = x
    n += 1
  }
  def toArray: Array[T] =
    if (n == arr.length) arr
    else java.util.Arrays.copyOf(arr.asInstanceOf[Array[AnyRef]], n)
      .asInstanceOf[Array[T]]
}

/** The shared compiled fold + caches behind [[BpeMergeChain]] and
  * [[BpeTokenizeWords]]: ordered rules, the `w.contains(a+b)`
  * prefilter, and the per-thread distinct-word memo. ThreadLocal (not
  * a plain map): the driver can eval one instance from several threads
  * (local relations, subexpression elimination); executor-side the
  * owning expression is per-task after deserialization, so each task
  * thread sees its own vocabulary-bounded map — the old
  * `bpeApplyLarge` per-partition HashMap, relocated. */
private[functions] final class BpeRuleEngine(rules: Seq[(String, String)])
    extends Serializable {

  @transient private lazy val aArr: Array[String] = rules.map(_._1).toArray
  @transient private lazy val bArr: Array[String] = rules.map(_._2).toArray
  @transient private lazy val mergedArr: Array[String] =
    rules.map(r => r._1 + r._2).toArray

  @transient private lazy val memo
      : ThreadLocal[java.util.HashMap[String, Array[UTF8String]]] =
    ThreadLocal.withInitial(() =>
      new java.util.HashMap[String, Array[UTF8String]]())

  /** Greedy-left full-chain fold of one word (see [[BpeMergeChain]]'s
    * semantics contract), memoized per thread. */
  def foldWord(u: UTF8String): Array[UTF8String] = {
    val w = u.toString
    val m = memo.get()
    val cached = m.get(w)
    if (cached != null) return cached
    var sym: Array[String] = graft.operators.Tokenizer.codePointSymbols(w)
    val n = aArr.length
    var r = 0
    while (r < n && sym.length > 1) {
      if (w.contains(mergedArr(r))) {
        val a = aArr(r)
        val b = bArr(r)
        val mg = mergedArr(r)
        var wp = 0
        var rp = 0
        while (rp < sym.length) {
          val x = sym(rp)
          if (wp > 0 && sym(wp - 1) == a && x == b) sym(wp - 1) = mg
          else { sym(wp) = x; wp += 1 }
          rp += 1
        }
        if (wp < sym.length) sym = java.util.Arrays.copyOf(sym, wp)
      }
      r += 1
    }
    val out = new Array[UTF8String](sym.length)
    var i = 0
    while (i < sym.length) { out(i) = UTF8String.fromString(sym(i)); i += 1 }
    m.put(w, out)
    out
  }
}

object SubwordFunctions {
  /** Column form of [[BpeMergeChain]] — usable at top level (codegen)
    * and inside `transform` lambdas (HOF interpreted dispatch; the fold
    * itself stays compiled either way). */
  def bpeMergeChain(word: Column, rules: Seq[(String, String)]): Column =
    GraftSqlShims.columnOf(BpeMergeChain(
      GraftSqlShims.expressionOf(word), rules))

  /** Column form of [[BpeTokenizeWords]] — words array in, flattened
    * token array out, zero higher-order functions in the plan. */
  def bpeTokenizeWords(words: Column,
      rules: Seq[(String, String)]): Column =
    GraftSqlShims.columnOf(BpeTokenizeWords(
      GraftSqlShims.expressionOf(words), rules))
}
