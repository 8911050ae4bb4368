package graft.functions

import java.security.MessageDigest

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}

/** Fused MinHash-LSH band keys: `MinhashBandKeysExpr(words, n, nBands,
  * rowsPerBand)` = the `nBands` 64-bit band-bucket keys of a document's
  * word array, bit-identical to the composable formulation the LSH
  * candidate stream shipped with (r12–r15, `Streams.bandedDocs`):
  *
  * {{{
  *   shingles = transform(sequence(0, greatest(size(words)-n, 0)),
  *                        i -> array_join(slice(words, i+1, n), ' '))
  *   mh(j)    = array_min(transform(shingles,
  *                s -> conv(substring(sha2(s,256), 8j+1, 8),16,10)::long))
  *   key(b)   = xxhash64(b, mh(b*rowsPerBand), …)      -- seed 42
  * }}}
  *
  * That form is correct but every `transform` lambda evaluates
  * INTERPRETED (higher-order functions have no codegen), and the mh(j)
  * expressions are 8 separate lambdas with no cross-lambda
  * subexpression elimination — so each doc pays 8× the shingle-string
  * builds and 8× the sha256 digests, plus a hex render + substring +
  * radix-16 conv per (shingle, slice). The r16 sf10 streaming LSH
  * replay spent ~85% of its wall in exactly this projection at
  * 2-files-per-trigger parallelism (measured by an A/B of the two
  * banding forms), which r15 had mis-attributed to the stateful
  * operator.
  * Same cure as [[NgramHashesExpr]] (the measured precedent): one fused
  * pass per document — each shingle's bytes are streamed into ONE
  * SHA-256 digest (no joined-string alloc, no hex round trip), the
  * first `nBands×rowsPerBand ≤ 8` big-endian 32-bit chunks update
  * running minima, and the band keys chain through the same
  * `XXH64.hashInt/hashLong` fold Catalyst's `xxhash64(...)` uses.
  *
  * Bit-identity with the composable form (asserted element-wise on
  * real corpus text + adversarial edges by MinhashBandKeysSpec) is
  * what keeps the stream-vs-batch exactness replay on one shared
  * projection and the DuckDB-portable chunk semantics of
  * [[Sha256ChunksExpr]] intact. One deliberate difference: a NULL
  * words array returns NULL (standard null-safe unary semantics, the
  * row vanishes at the downstream posexplode) where the composable
  * form emitted `xxhash64(b)`-of-nothing keys — banding a document
  * with no text is meaningless either way (`split` never returns
  * NULL for non-NULL text). Since r17 both DataFrame formulations
  * filter `text IS NOT NULL` before banding (r16 ADVICE), so their
  * projections are identical by construction on ANY corpus, NULL
  * text included.
  */
case class MinhashBandKeysExpr(child: Expression, shingleLen: Int,
    nBands: Int, rowsPerBand: Int) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _)
        if shingleLen >= 1 && nBands >= 1 && rowsPerBand >= 1 &&
          nBands * rowsPerBand <= 8 =>
      TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      "minhash_band_keys expects (array<string>, shingleLen >= 1, " +
        s"nBands*rowsPerBand in 1..8); got (${other.catalogString}, " +
        s"$shingleLen, $nBands, $rowsPerBand)")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "minhash_band_keys"

  override def nullSafeEval(words: Any): Any =
    MinhashBandKeys.keys(words.asInstanceOf[ArrayData],
      shingleLen, nBands, rowsPerBand)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.MinhashBandKeys.keys($c, $shingleLen, $nBands, $rowsPerBand)")

  override protected def withNewChildInternal(newChild: Expression): MinhashBandKeysExpr =
    copy(child = newChild)
}

object MinhashBandKeys {

  private val Space = ' '.toByte
  // Catalyst's Murmur3Hash/XxHash64 family default seed
  private val Seed = 42L

  // MessageDigest is stateful — one instance per task thread
  private val md = new ThreadLocal[MessageDigest] {
    override def initialValue(): MessageDigest =
      MessageDigest.getInstance("SHA-256")
  }

  /** Called from generated code. One digest per shingle: the shingle
    * `i` covers words `i until min(i+n, len)` (`slice` truncates at the
    * array end, which only matters for documents shorter than one
    * shingle: they yield the single joined-whole shingle, `""` for an
    * empty array — same as the composable form). NULL elements are
    * skipped with their delimiter, matching `array_join`'s two-arg
    * semantics. */
  def keys(words: ArrayData, n: Int, nBands: Int, rowsPerBand: Int): ArrayData = {
    val len = words.numElements()
    val m = math.max(len - n, 0) + 1
    val nh = nBands * rowsPerBand
    val mins = new Array[Long](nh)
    java.util.Arrays.fill(mins, Long.MaxValue)
    val d = md.get()
    var i = 0
    while (i < m) {
      d.reset()
      var k = i
      val end = math.min(i + n, len)
      var first = true
      while (k < end) {
        if (!words.isNullAt(k)) {
          if (!first) d.update(Space)
          val w = words.getUTF8String(k)
          d.update(w.getBytes)
          first = false
        }
        k += 1
      }
      val bytes = d.digest()
      var j = 0
      while (j < nh) {
        val v = ((bytes(4 * j) & 0xffL) << 24) |
          ((bytes(4 * j + 1) & 0xffL) << 16) |
          ((bytes(4 * j + 2) & 0xffL) << 8) |
          (bytes(4 * j + 3) & 0xffL)
        if (v < mins(j)) mins(j) = v
        j += 1
      }
      i += 1
    }
    val out = new Array[Long](nBands)
    var b = 0
    while (b < nBands) {
      var acc = XXH64.hashInt(b, Seed)
      var r = 0
      while (r < rowsPerBand) {
        acc = XXH64.hashLong(mins(b * rowsPerBand + r), acc)
        r += 1
      }
      out(b) = acc
      b += 1
    }
    new GenericArrayData(out)
  }

  /** Shared builder: `minhash_band_keys(words, shingleLen, nBands,
    * rowsPerBand)` — the three geometry arguments must be integer
    * literals (they parameterize the generated code). */
  val builder: Seq[Expression] => Expression = {
    case Seq(words, Literal(n: Int, _), Literal(b: Int, _), Literal(r: Int, _)) =>
      MinhashBandKeysExpr(words, n, b, r)
    case other => throw new IllegalArgumentException(
      "usage: minhash_band_keys(array<string>, shingleLen, nBands, " +
        s"rowsPerBand) with literal int geometry — got ${other.mkString(", ")}")
  }

  def register(spark: SparkSession): Unit =
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "minhash_band_keys", builder, "built-in")
}
