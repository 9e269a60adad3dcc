package graft.functions

import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** `rolling_hash2(text, L)`: THE window key of exact-substring matching
  * — every substring-dedup and substring-decontamination operator keys
  * its grams through it (via `graft.ops.TextGrams.charGramsExpr`). For
  * every L-codepoint window of the text it computes, in one O(n) pass,
  * two polynomial hashes modulo the Mersenne prime 2^61-1 at the fixed
  * bases 131 and 137 [public technique: Karp & Rabin 1987 "Efficient
  * randomized pattern-matching algorithms"], packed big-endian into one
  * 16-byte binary: a 122-bit key, collision-free in practice at corpus
  * scale.
  *
  * Exactness: each half is Σ c_j·B^(L-1-j) mod (2^61-1) over Unicode
  * CODEPOINTS, a pure function whose reference is the BigInt Horner form
  * (test-pinned). The frozen DuckDB oracles hash each window with md5
  * instead, so equal runs and hit counts are a cross-strategy check on
  * every oracle run: equal windows ⇔ equal keys, under either hash.
  *
  * Both hashes come from one codepoint decode and one loop, into one
  * array feeding one `posexplode`: one array per base, zipped, would
  * materialize three O(n) arrays per document. */
case class RollingHash2(child: Expression, len: Int) extends UnaryExpression {

  require(len >= 1, "rolling_hash2 needs len >= 1")

  override def dataType: DataType =
    ArrayType(org.apache.spark.sql.types.BinaryType, containsNull = false)
  override def nullIntolerant: Boolean = true

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case StringType =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"rolling_hash2 needs a string arg, got ${other.simpleString}")
    }

  override protected def nullSafeEval(input: Any): Any =
    RollingHashImpl.compute2(input.asInstanceOf[UTF8String], len)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.RollingHashImpl.compute2($c, $len)")

  override protected def withNewChildInternal(newChild: Expression): RollingHash2 =
    copy(child = newChild)

  override def prettyName: String = "rolling_hash2"
}

/** The O(n) kernel (top-level object: generated Java calls the static
  * forwarder). All arithmetic is exact mod P = 2^61-1: 122-bit products
  * via Math.multiplyHigh, Mersenne folding for the reduction. */
object RollingHashImpl {
  val P: Long = (1L << 61) - 1
  private val B1 = 131L
  private val B2 = 137L

  /** (a·b) mod P for 0 ≤ a,b < P — exact via 128-bit product split.
    * x = hi·2^64 + lo ≡ (hi·8 + lo>>>61)·2^61 + (lo & P)
    *   ≡ hi·8 + (lo>>>61) + (lo & P)  (since 2^61 ≡ 1 mod P). */
  def mulmod(a: Long, b: Long): Long = {
    val hi = Math.multiplyHigh(a, b)
    val lo = a * b
    var r = (lo & P) + ((hi << 3) | (lo >>> 61))
    if (r >= P) r -= P
    if (r >= P) r -= P
    r
  }

  def addmod(a: Long, b: Long): Long = {
    val r = a + b // both < P < 2^61 → no overflow
    if (r >= P) r - P else r
  }

  /** One codepoint decode, both recurrences in one loop, each window's
    * (h1, h2) packed big-endian into 16 bytes; fewer than `l` codepoints
    * give an empty array. */
  def compute2(s: UTF8String,
      l: Int): org.apache.spark.sql.catalyst.util.ArrayData = {
    val str = s.toString
    val n = str.codePointCount(0, str.length)
    if (n < l)
      return new GenericArrayData(Array.empty[Any])
    val cps = new Array[Long](n)
    var ci = 0; var off = 0
    while (off < str.length) {
      val cp = str.codePointAt(off)
      cps(ci) = cp.toLong; ci += 1
      off += Character.charCount(cp)
    }
    // B^(l-1) mod P for the outgoing-codepoint removal, per base
    var bl1 = 1L; var bl2 = 1L
    var j = 0
    while (j < l - 1) {
      bl1 = mulmod(bl1, B1); bl2 = mulmod(bl2, B2); j += 1
    }
    val out = new Array[Any](n - l + 1)
    @inline def pack(h1: Long, h2: Long): Array[Byte] = {
      val b = new Array[Byte](16)
      var k = 0
      while (k < 8) {
        b(k) = (h1 >>> (56 - 8 * k)).toByte
        b(k + 8) = (h2 >>> (56 - 8 * k)).toByte
        k += 1
      }
      b
    }
    var h1 = 0L; var h2 = 0L
    j = 0
    while (j < l) {
      val c = cps(j) % P
      h1 = addmod(mulmod(h1, B1), c)
      h2 = addmod(mulmod(h2, B2), c)
      j += 1
    }
    out(0) = pack(h1, h2)
    var i = 1
    while (i <= n - l) {
      // h ← (h - c_out·B^(l-1))·B + c_in  (mod P), per base
      val cOut = cps(i - 1) % P
      val cIn = cps(i + l - 1) % P
      h1 = addmod(h1, P - mulmod(cOut, bl1))
      h1 = addmod(mulmod(h1, B1), cIn)
      h2 = addmod(h2, P - mulmod(cOut, bl2))
      h2 = addmod(mulmod(h2, B2), cIn)
      out(i) = pack(h1, h2)
      i += 1
    }
    new GenericArrayData(out)
  }
}
