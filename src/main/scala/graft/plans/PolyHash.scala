package graft.plans

import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression for the engine's polynomial rolling hash
  * (base 31, mod 1e9+7 over Unicode code points) — the codegen'd
  * `TextAnalysis.polyFingerprintNative`, one tight loop per row instead
  * of an interpreted lambda per character.
  *
  * Semantics contract (must stay equal to the `q_fingerprint` DuckDB
  * oracle): fold left over the string's Unicode CODE POINTS with
  * `acc = (acc * 31 + codepoint) % 1_000_000_007`, empty string → 0,
  * null → null. Code points, not UTF-16 units: the oracle's
  * `string_split(text, '')` never splits a surrogate pair, so unit-wise
  * iteration would diverge on non-BMP text (emoji).
  *
  * This is extension ladder rung (b) from the build brief: a scalar
  * `Expression` with `doGenCode`, registered via
  * [[GraftExtensions]] (`spark.sql.extensions=graft.plans.GraftExtensions`)
  * and invoked with `call_function("graft_polyhash", col)`.
  */
case class PolyHash(child: Expression)
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_polyhash requires STRING, got ${child.dataType.sql}")
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_polyhash"

  override def nullSafeEval(input: Any): Any =
    PolyHash.hash(input.asInstanceOf[UTF8String].toString)

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val s = ctx.freshName("phStr")
      val i = ctx.freshName("phIdx")
      val cp = ctx.freshName("phCp")
      val acc = ctx.freshName("phAcc")
      s"""
         |String $s = $c.toString();
         |long $acc = 0L;
         |int $i = 0;
         |while ($i < $s.length()) {
         |  int $cp = $s.codePointAt($i);
         |  $acc = ($acc * 31L + (long) $cp) % 1000000007L;
         |  $i += Character.charCount($cp);
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): PolyHash =
    copy(child = newChild)
}

object PolyHash {
  val Mod = 1000000007L

  def hash(s: String): Long = {
    var acc = 0L
    var i = 0
    while (i < s.length) {
      val cp = s.codePointAt(i)
      acc = (acc * 31L + cp.toLong) % Mod
      i += Character.charCount(cp)
    }
    acc
  }
}

/** Winnowing-style fingerprint as ONE native pass: the minimum
  * [[PolyHash]] over every `k`-code-point window of the string, a tight
  * nested loop in codegen (`TextAnalysis.minKgramFingerprintNative`).
  * Contract (mirrored by the `q_fingerprint` oracle): windows over CODE
  * POINTS, whole-string hash when the text is shorter than `k`. */
case class MinKgramHash(child: Expression, k: Int)
    extends UnaryExpression {
  require(k > 0, "window size must be positive")

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_minkgram requires STRING, got ${child.dataType.sql}")
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_minkgram"

  override def nullSafeEval(input: Any): Any =
    MinKgramHash.minHash(input.asInstanceOf[UTF8String].toString, k)

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.plans.MinKgramHash.minHash($c.toString(), $k);")

  override protected def withNewChildInternal(
      newChild: Expression): MinKgramHash = copy(child = newChild)
}

object MinKgramHash {
  /** Shared by interpreted eval and codegen (called directly from the
    * generated code — no reflection, one static-dispatch call per row). */
  def minHash(s: String, k: Int): Long = {
    val cps = s.codePoints().toArray
    if (cps.length < k) return PolyHash.hash(s)
    var best = Long.MaxValue
    var i = 0
    while (i <= cps.length - k) {
      var acc = 0L
      var j = 0
      while (j < k) {
        acc = (acc * 31L + cps(i + j).toLong) % PolyHash.Mod
        j += 1
      }
      if (acc < best) best = acc
      i += 1
    }
    best
  }
}

/** ALL k-gram window hashes of a string at stride offsets, in one
  * rolling pass — the windows/tiles index builder of the substring
  * decontamination family. Returns `array<long>`; element i is the
  * hash of the window starting at 1-based char position `i·stride + 1`.
  *
  * vs per-offset `xxhash64(substr(...))`: that shape recomputes k
  * chars per offset (O(len·k) plus len substring copies); this walks
  * the code points once (O(len), zero copies). The hash itself is a
  * DUAL independent 31-bit polynomial roll packed to 62 bits —
  * per-window collision odds ~2⁻⁶² keep candidate noise nil even at
  * 10¹⁴ windows, without 128-bit arithmetic, and any collision that
  * does occur dies at the downstream anchor-equality check (the hash
  * choice is pure plumbing, same contract as the xxhash64 form). */
case class KgramHashes(child: Expression, k: Int, stride: Int)
    extends UnaryExpression {
  require(k > 0, "window size must be positive")
  require(stride > 0, "stride must be positive")

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_khashes requires STRING, got ${child.dataType.sql}")
  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_khashes"

  override def nullSafeEval(input: Any): Any =
    KgramHashes.hashes(input.asInstanceOf[UTF8String].toString, k, stride)

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.plans.KgramHashes.hashes($c.toString(), $k, $stride);")

  override protected def withNewChildInternal(
      newChild: Expression): KgramHashes = copy(child = newChild)
}

object KgramHashes {
  private val M1 = 2147483647L // 2^31 − 1
  private val M2 = 2147483629L
  private val B1 = 31L
  private val B2 = 131L

  /** Shared by interpreted eval and codegen. All intermediates fit a
    * signed 64-bit long: acc < M < 2³¹, acc·B + cp < 2³⁹, and the
    * roll-out product cp·pow < 2⁵². */
  def hashes(s: String, k: Int,
      stride: Int): org.apache.spark.sql.catalyst.util.GenericArrayData = {
    val cps = s.codePoints().toArray
    val n = cps.length
    if (n < k)
      return new org.apache.spark.sql.catalyst.util.GenericArrayData(
        Array.empty[Long])
    val out = new Array[Long]((n - k) / stride + 1)
    var pow1 = 1L
    var pow2 = 1L
    var j = 1
    while (j < k) { pow1 = pow1 * B1 % M1; pow2 = pow2 * B2 % M2; j += 1 }
    var a1 = 0L
    var a2 = 0L
    var i = 0
    while (i < k) {
      a1 = (a1 * B1 + cps(i)) % M1
      a2 = (a2 * B2 + cps(i)) % M2
      i += 1
    }
    out(0) = (a1 << 31) | a2
    var w = 1
    var oi = 1
    while (w <= n - k) {
      val outCp = cps(w - 1).toLong
      val inCp = cps(w + k - 1).toLong
      a1 = ((a1 - outCp % M1 * pow1 % M1) % M1 + M1) % M1
      a1 = (a1 * B1 + inCp) % M1
      a2 = ((a2 - outCp % M2 * pow2 % M2) % M2 + M2) % M2
      a2 = (a2 * B2 + inCp) % M2
      if (w % stride == 0) { out(oi) = (a1 << 31) | a2; oi += 1 }
      w += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }
}

/** Session extension registering the engine's native functions.
  * Activate with `.config("spark.sql.extensions", "graft.plans.GraftExtensions")`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      new FunctionIdentifier("graft_polyhash"),
      new ExpressionInfo(classOf[PolyHash].getCanonicalName, "graft_polyhash"),
      (children: Seq[Expression]) => {
        require(children.size == 1,
          s"graft_polyhash takes exactly 1 argument, got ${children.size}")
        PolyHash(children.head)
      }))
    ext.injectFunction((
      new FunctionIdentifier("graft_minkgram"),
      new ExpressionInfo(classOf[MinKgramHash].getCanonicalName,
        "graft_minkgram"),
      (children: Seq[Expression]) => {
        require(children.size == 2,
          s"graft_minkgram takes (text, k), got ${children.size} arguments")
        val k = children(1) match {
          case e if e.foldable => e.eval() match {
            case i: Int => i
            case l: Long => l.toInt
            case other => throw new IllegalArgumentException(
              s"graft_minkgram window size must be an integer literal, got $other")
          }
          case _ => throw new IllegalArgumentException(
            "graft_minkgram window size must be a literal")
        }
        MinKgramHash(children.head, k)
      }))
    ext.injectFunction((
      new FunctionIdentifier("graft_entropy"),
      new ExpressionInfo(classOf[CharEntropy].getCanonicalName,
        "graft_entropy"),
      (children: Seq[Expression]) => {
        require(children.size == 1,
          s"graft_entropy takes exactly 1 argument, got ${children.size}")
        CharEntropy(children.head)
      }))
    ext.injectFunction((
      new FunctionIdentifier("graft_zorder"),
      new ExpressionInfo(classOf[ZInterleave].getCanonicalName,
        "graft_zorder"),
      (children: Seq[Expression]) => {
        require(children.size == 2,
          s"graft_zorder takes exactly 2 arguments, got ${children.size}")
        ZInterleave(children.head, children(1))
      }))
    // Spark's own runtime-filter probe expression, exposed for manual
    // bloom pruning (graft.ext.Bloom): null-safe, codegen'd — what
    // InjectRuntimeFilter plans once its build subquery has evaluated —
    // instead of a boxed-Long scalar UDF.
    ext.injectFunction((
      new FunctionIdentifier("graft_bloom_probe"),
      new ExpressionInfo(
        classOf[org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain]
          .getCanonicalName, "graft_bloom_probe"),
      (children: Seq[Expression]) => {
        require(children.size == 2,
          s"graft_bloom_probe takes (bloomBytes, longKey), got ${children.size}")
        org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(
          children.head, children(1))
      }))
    // CMS probe: Spark has no estimateCount expression (unlike bloom's
    // BloomFilterMightContain), so graft supplies one — see CmsEstimate
    ext.injectFunction((
      new FunctionIdentifier("graft_cms_estimate"),
      new ExpressionInfo(classOf[CmsEstimate].getCanonicalName,
        "graft_cms_estimate"),
      (children: Seq[Expression]) => {
        require(children.size == 2,
          s"graft_cms_estimate takes (sketchBytes, value), got ${children.size}")
        CmsEstimate(children.head, children(1))
      }))
    ext.injectFunction((
      new FunctionIdentifier("graft_dot"),
      new ExpressionInfo(classOf[DotProduct].getCanonicalName, "graft_dot"),
      (children: Seq[Expression]) => {
        require(children.size == 2,
          s"graft_dot takes exactly 2 arguments, got ${children.size}")
        DotProduct(children.head, children(1))
      }))
    ext.injectFunction((
      new FunctionIdentifier("graft_lcp"),
      new ExpressionInfo(classOf[StrLcp].getCanonicalName, "graft_lcp"),
      (children: Seq[Expression]) => {
        require(children.size == 2,
          s"graft_lcp takes exactly 2 arguments, got ${children.size}")
        StrLcp(children.head, children(1))
      }))
    ext.injectFunction((
      new FunctionIdentifier("graft_khashes"),
      new ExpressionInfo(classOf[KgramHashes].getCanonicalName,
        "graft_khashes"),
      (children: Seq[Expression]) => {
        require(children.size == 3,
          s"graft_khashes takes (text, k, stride), got ${children.size}")
        def intLit(e: Expression, what: String): Int = e match {
          case l if l.foldable => l.eval() match {
            case i: Int => i
            case l2: Long => l2.toInt
            case other => throw new IllegalArgumentException(
              s"graft_khashes $what must be an integer literal, got $other")
          }
          case _ => throw new IllegalArgumentException(
            s"graft_khashes $what must be a literal")
        }
        KgramHashes(children.head, intLit(children(1), "window size"),
          intLit(children(2), "stride"))
      }))
    ext.injectFunction((
      new FunctionIdentifier("graft_extend"),
      new ExpressionInfo(classOf[StrExtend].getCanonicalName,
        "graft_extend"),
      (children: Seq[Expression]) => {
        require(children.size == 5,
          s"graft_extend takes (a, b, p, q, k), got ${children.size}")
        StrExtend(children(0), children(1), children(2), children(3),
          children(4))
      }))
    ext.injectFunction((
      new FunctionIdentifier("graft_quantize8"),
      new ExpressionInfo(classOf[QuantizeInt8].getCanonicalName,
        "graft_quantize8"),
      (children: Seq[Expression]) => {
        require(children.size == 1,
          s"graft_quantize8 takes exactly 1 argument, got ${children.size}")
        QuantizeInt8(children.head)
      }))
    // Aho–Corasick multi-pattern scan: one pass per document however
    // long the blocklist (see MultiPhrase.scala)
    ext.injectFunction((
      new FunctionIdentifier("graft_blocklist_count"),
      new ExpressionInfo(classOf[MultiPhraseCount].getCanonicalName,
        "graft_blocklist_count"),
      (children: Seq[Expression]) => {
        require(children.size >= 2,
          s"graft_blocklist_count takes (text, p1, ...), got ${children.size}")
        MultiPhraseCount(children.head, MultiPhrase.literalPhrases(
          "graft_blocklist_count", children.tail))
      }))
    ext.injectFunction((
      new FunctionIdentifier("graft_blocklist_first"),
      new ExpressionInfo(classOf[MultiPhraseFirst].getCanonicalName,
        "graft_blocklist_first"),
      (children: Seq[Expression]) => {
        require(children.size >= 2,
          s"graft_blocklist_first takes (text, p1, ...), got ${children.size}")
        MultiPhraseFirst(children.head, MultiPhrase.literalPhrases(
          "graft_blocklist_first", children.tail))
      }))
    // whole-operator extension: plans AsOfJoinNode as the native
    // co-partitioned merge (see org.apache.spark.sql.graft.AsOfJoinNative),
    // with left-side predicate pushdown restored by a custom rule
    // (Catalyst's own pushdown stops at unknown nodes)
    ext.injectPlannerStrategy(_ => org.apache.spark.sql.graft.AsOfJoinStrategy)
    ext.injectOptimizerRule(_ =>
      org.apache.spark.sql.graft.PushFilterThroughAsOfJoin)
  }
}
