package graft.plans

import org.apache.spark.sql.catalyst.expressions.{Expression, ImplicitCastInputTypes, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression for the text-hash hot path: one pass over the
  * string producing the polynomial token hashes directly — no intermediate
  * token array, no per-character single-char strings, no interpreted
  * higher-order-function lambdas.
  *
  * Semantics are IDENTICAL to the composed form
  * `TextFunctions.tokenHashes = transform(filter(split(text, " "), _ =!= ""),
  * w => fold (acc*131 + ascii(c)) % P)` for any text whose characters are
  * single UTF-16 code units (the entire BMP — the corpus/oracle contract is
  * ASCII); property-checked against the composed form in PlansSpec. The
  * composed form splits into per-character strings and takes `ascii` (the
  * first UTF-16 unit's value), so for supplementary-plane characters the two
  * would diverge — both are kept, and the dedup pipelines use the native
  * one only where the composed form's cost shows (every token of every doc).
  *
  * Why it matters at 100 TB: the composed form runs `split` (regex, one
  * UTF8String allocation per CHARACTER) plus two nested interpreted lambda
  * evaluators per token. This expression is a single scan over the UTF-16
  * units inside whole-stage codegen — measured 18× faster on a 200k-doc
  * corpus (composed 9.3 s vs native 0.51 s steady-state, by the
  * `HASHBENCH` Probe mode, last present in commit c68a309 and removed in
  * the commit after it), which on a trillion-token corpus is the difference between
  * a week and half a day for the signature stage.
  */
case class TokenHashes(child: Expression) extends UnaryExpression
    with ImplicitCastInputTypes {
  override def inputTypes = Seq(StringType)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = child.nullable
  override def prettyName: String = "token_hashes"

  override def nullSafeEval(input: Any): Any =
    TokenHashes.hashes(input.asInstanceOf[UTF8String].toString)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.plans.TokenHashes.hashes($c.toString());")

  override protected def withNewChildInternal(newChild: Expression): TokenHashes =
    copy(child = newChild)
}

/** Native MinHash signature: 3-gram shingle hashes and all 16 permutation
  * minima fused into ONE pass over the token-hash array — no shingle array
  * materialization, no 16 interpreted `transform`/`array_min` lambda trees.
  *
  * Semantics identical to
  * `minhashSigFromShingles(shinglesFromHashes(th))` (property-checked in
  * PlansSpec): shingle s_i = ((th_i·131 + th_{i+1})·131 + th_{i+2}) mod P,
  * component j = min over shingles of (a_j·s + b_j) mod P with
  * a_j = 2654435761·(j+1) mod P, b_j = (j·40503 + 17) mod P; fewer than 3
  * tokens → all components NULL. Measured 56× on a 200k-doc corpus
  * (the `SIGBENCH` Probe mode, last present in commit c68a309 and removed
  * in the commit after it): composed 31.6 s vs native sub-second —
  * the dominant cost of the LSH dedup pipeline at corpus scale.
  */
case class MinHashSig(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes() =
    TextExpressions.requireLongArrayNoNulls("minhash_sig", child)
  override def dataType: DataType = ArrayType(LongType, containsNull = true)
  override def nullable: Boolean = child.nullable
  override def prettyName: String = "minhash_sig"

  override def nullSafeEval(input: Any): Any =
    MinHashSig.sig(input.asInstanceOf[ArrayData])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.plans.MinHashSig.sig($c);")

  override protected def withNewChildInternal(newChild: Expression): MinHashSig =
    copy(child = newChild)
}

object MinHashSig {
  private val P = 1000000007L
  private val B = 131L
  private val N = 16
  private val A: Array[Long] = Array.tabulate(N)(j => (j + 1) * 2654435761L % P)
  private val Bc: Array[Long] = Array.tabulate(N)(j => (j * 40503L + 17L) % P)

  /** Exposed as a static for codegen. */
  def sig(th: ArrayData): ArrayData = {
    val m = th.numElements()
    if (m < 3) return new GenericArrayData(new Array[Any](N)) // all NULL
    val mins = Array.fill(N)(Long.MaxValue)
    var i = 0
    while (i + 2 < m) {
      val ab = (th.getLong(i) * B + th.getLong(i + 1)) % P
      val s = (ab * B + th.getLong(i + 2)) % P
      var j = 0
      while (j < N) {
        val h = (A(j) * s + Bc(j)) % P
        if (h < mins(j)) mins(j) = h
        j += 1
      }
      i += 1
    }
    new GenericArrayData(mins)
  }
}

/** Native 3-gram shingle hashes: one pass over the token-hash array.
  * Semantics identical to `TextFunctions.shinglesFromHashes` (zip_with over
  * two shifted slices; property-checked in PlansSpec): shingle_i =
  * ((th_i·131 + th_{i+1})·131 + th_{i+2}) mod P, empty for <3 tokens. Used
  * where the pipeline needs the raw shingles (contamination overlap,
  * Jaccard verify) rather than the fused signature. */
case class ShingleHashes(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes() =
    TextExpressions.requireLongArrayNoNulls("shingle_hashes", child)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = child.nullable
  override def prettyName: String = "shingle_hashes"

  override def nullSafeEval(input: Any): Any =
    ShingleHashes.shingles(input.asInstanceOf[ArrayData])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.plans.ShingleHashes.shingles($c);")

  override protected def withNewChildInternal(newChild: Expression): ShingleHashes =
    copy(child = newChild)
}

object ShingleHashes {
  private val P = 1000000007L
  private val B = 131L

  /** Exposed as a static for codegen. */
  def shingles(th: ArrayData): ArrayData = {
    val m = th.numElements()
    if (m < 3) return new GenericArrayData(Array.emptyLongArray)
    val out = new Array[Long](m - 2)
    var i = 0
    while (i + 2 < m) {
      val ab = (th.getLong(i) * B + th.getLong(i + 1)) % P
      out(i) = (ab * B + th.getLong(i + 2)) % P
      i += 1
    }
    new GenericArrayData(out)
  }
}

/** Native 24-bit SimHash over a token-hash array: per-bit ±1 votes and the
  * bit fold in one pass. Semantics identical to
  * `simhashFromVotes(simhashVotes(th))` (property-checked in PlansSpec):
  * bit j of the result is set iff Σ_tokens (bit j of hash ? +1 : −1) > 0;
  * an empty array votes 0 everywhere → simhash 0. The explode → hash-agg
  * formulation in Dedup.stagedSimhash remains the right shape when the
  * per-doc work must shuffle anyway; this expression is the scan-side path
  * (one doc in, one long out, inside whole-stage codegen). */
case class SimHash24(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes() =
    TextExpressions.requireLongArrayNoNulls("simhash24", child)
  override def dataType: DataType = LongType
  override def nullable: Boolean = child.nullable
  override def prettyName: String = "simhash24"

  override def nullSafeEval(input: Any): Any =
    SimHash24.simhash(input.asInstanceOf[ArrayData])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.plans.SimHash24.simhash($c);")

  override protected def withNewChildInternal(newChild: Expression): SimHash24 =
    copy(child = newChild)
}

object SimHash24 {
  private val BITS = 24

  /** Exposed as a static for codegen. */
  def simhash(th: ArrayData): Long = {
    val m = th.numElements()
    val votes = new Array[Int](BITS)
    var i = 0
    while (i < m) {
      val h = th.getLong(i)
      var j = 0
      while (j < BITS) {
        if (((h >>> j) & 1L) == 1L) votes(j) += 1 else votes(j) -= 1
        j += 1
      }
      i += 1
    }
    var out = 0L
    var j = 0
    while (j < BITS) {
      if (votes(j) > 0) out |= (1L << j)
      j += 1
    }
    out
  }
}

/** Shared input-type contract for the array-consuming native expressions:
  * these are registered session-wide (GraftExtensions), so arbitrary SQL can
  * reach them with e.g. `array(1, CAST(NULL AS BIGINT))`. The kernels read
  * elements with `ArrayData.getLong`, which would silently yield 0 for a
  * null slot — so arrays that may CONTAIN nulls are rejected at analysis
  * time (clean AnalysisException, not garbage). A null ARRAY is still fine:
  * all three are null-intolerant UnaryExpressions and propagate it. */
private[plans] object TextExpressions {
  import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
  def requireLongArrayNoNulls(fn: String, child: Expression): TypeCheckResult =
    child.dataType match {
      case ArrayType(LongType, false) => TypeCheckResult.TypeCheckSuccess
      case ArrayType(LongType, true) => TypeCheckResult.TypeCheckFailure(
        s"$fn needs array<bigint> with non-nullable elements; this array may " +
          "contain nulls — filter(arr, x -> x IS NOT NULL) first")
      case other => TypeCheckResult.TypeCheckFailure(
        s"$fn needs array<bigint> input, got $other")
    }
}

object TokenHashes {
  private val P = 1000000007L
  private val B = 131L

  /** One pass: token boundary is the single space character (matching
    * `split(text, " ")` + drop-empties); per character the rolling hash is
    * (acc*131 + charAt(i)) % P, matching fold-over-`ascii`. Exposed as a
    * static for codegen. */
  def hashes(s: String): ArrayData = {
    val n = s.length
    var count = 0
    var i = 0
    var inTok = false
    while (i < n) { // first pass: token count (avoids growable allocation churn)
      val sp = s.charAt(i) == ' '
      if (!sp && !inTok) { count += 1; inTok = true }
      else if (sp) inTok = false
      i += 1
    }
    val out = new Array[Long](count)
    var k = 0
    var acc = 0L
    inTok = false
    i = 0
    while (i <= n) {
      if (i == n || s.charAt(i) == ' ') {
        if (inTok) { out(k) = acc; k += 1; acc = 0L; inTok = false }
      } else {
        inTok = true
        acc = (acc * B + s.charAt(i).toInt) % P
      }
      i += 1
    }
    new GenericArrayData(out)
  }
}

/** Native content-defined chunking: split the text at positions where the
  * rolling 4-char window hash satisfies `w % 64 == 0` (Rabin-style gear
  * boundary — average chunk ≈ 64 chars on random text) and emit the
  * polynomial hash of each chunk, one pass over the UTF-16 units inside
  * whole-stage codegen. Boundary windows use ABSOLUTE text positions (they
  * may span a just-emitted boundary), so the boundary set — and therefore
  * the chunking — is a pure function of content: insert a byte early in a
  * 100 TB document and every chunk after the next boundary re-aligns, which
  * is the whole point of CDC dedup vs fixed-width blocks (FastCDC, Xia et
  * al., FAST'16). Window hash w = ((c₀·131 + c₁)·131 + c₂)·131 + c₃ (no
  * modulus — max value ≈ 2^47 for BMP input); chunk hash = fold
  * (acc·131 + c) mod 1e9+7 from the chunk's first char, matching
  * SqlText.wordHash's fold exactly so DuckDB can replicate it. Empty text →
  * empty array; text shorter than 4 chars → one chunk. A trailing boundary
  * at the last char emits no empty tail chunk.
  *
  * Character contract (same as TokenHashes): hashes UTF-16 code units, so
  * for supplementary-plane characters (surrogate pairs) it folds two units
  * where a code-point fold (the DuckDB oracle's string_split+ascii) folds
  * one — identical on the entire BMP, which is the corpus/oracle contract.
  */
case class CdcChunks(child: Expression) extends UnaryExpression
    with ImplicitCastInputTypes {
  override def inputTypes = Seq(StringType)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = child.nullable
  override def prettyName: String = "cdc_chunks"

  override def nullSafeEval(input: Any): Any =
    CdcChunks.chunks(input.asInstanceOf[UTF8String].toString)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.plans.CdcChunks.chunks($c.toString());")

  override protected def withNewChildInternal(newChild: Expression): CdcChunks =
    copy(child = newChild)
}

object CdcChunks {
  private val P = 1000000007L
  private val B = 131L
  private val Mask = 64L

  /** Exposed as a static for codegen. */
  def chunks(s: String): ArrayData = {
    val n = s.length
    if (n == 0) return new GenericArrayData(Array.emptyLongArray)
    val out = new scala.collection.mutable.ArrayBuffer[Long](8)
    var start = 0
    var h = 0L
    var i = 0
    while (i < n) {
      h = (h * B + s.charAt(i)) % P
      if (i >= 3) {
        val w = ((s.charAt(i - 3).toLong * B + s.charAt(i - 2)) * B + s.charAt(i - 1)) * B + s.charAt(i)
        if (w % Mask == 0) { out += h; h = 0L; start = i + 1 }
      }
      i += 1
    }
    if (start < n) out += h
    new GenericArrayData(out.toArray)
  }
}
