package graft.functions

import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** `rolling_hash2(text, L, B1, B2)`: the polynomial hashes (bases B1 and
  * B2, modulus the Mersenne prime 2^61-1) of EVERY L-codepoint window of
  * the text, in one O(n) pass [public technique: Karp & Rabin 1987
  * "Efficient randomized pattern-matching algorithms"] — the scale path
  * for exact substring-level dedup, replacing the O(n·L) md5-per-position
  * formulation. Each element is the two 61-bit hashes packed big-endian
  * into a 16-byte binary: a 122-bit key, collision-free in practice at
  * corpus scale, and the same width and type as the md5 formulation's
  * `unhex(md5(...))` gram key, so the downstream count/join machinery is
  * shared unchanged.
  *
  * Exactness: each half is Σ c_j·B^(L-1-j) mod (2^61-1) over Unicode
  * CODEPOINTS — a pure mathematical function a SQL oracle can recompute
  * per-position with HUGEINT arithmetic, and which the md5-gram
  * formulation must agree with on which positions collide (equal windows
  * ⇔ equal hashes, up to negligible collision mass).
  *
  * Why fused: the earlier two-call form (one single-base hash array per
  * base + `arrays_zip` + struct explode) materialized THREE O(n) arrays
  * per document and decoded the codepoints twice; under the
  * authoritative bench that allocation overhead made the "O(n) scale
  * path" slower than the md5 form it replaces. This form decodes once,
  * runs both recurrences in the same loop, and feeds a single
  * `posexplode` — one array, one generator, one binary key. */
case class RollingHash2(child: Expression, len: Int, base1: Long, base2: Long)
    extends UnaryExpression {

  require(len >= 1, "rolling_hash2 needs len >= 1")
  require(base1 >= 2 && base1 < RollingHashImpl.P, "bad rolling_hash2 base1")
  require(base2 >= 2 && base2 < RollingHashImpl.P, "bad rolling_hash2 base2")
  require(base1 != base2, "rolling_hash2 bases must differ")

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
    RollingHashImpl.compute2(input.asInstanceOf[UTF8String], len, base1, base2)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.RollingHashImpl.compute2($c, $len, ${base1}L, ${base2}L)")

  override protected def withNewChildInternal(newChild: Expression): RollingHash2 =
    copy(child = newChild)

  override def prettyName: String = "rolling_hash2"
}

/** The O(n) kernel (top-level object: generated Java calls the static
  * forwarder). All arithmetic is exact mod P = 2^61-1: 122-bit products
  * via Math.multiplyHigh, Mersenne folding for the reduction. */
object RollingHashImpl {
  val P: Long = (1L << 61) - 1

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
  def compute2(s: UTF8String, l: Int, base1: Long,
      base2: Long): org.apache.spark.sql.catalyst.util.ArrayData = {
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
      bl1 = mulmod(bl1, base1); bl2 = mulmod(bl2, base2); j += 1
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
      h1 = addmod(mulmod(h1, base1), c)
      h2 = addmod(mulmod(h2, base2), c)
      j += 1
    }
    out(0) = pack(h1, h2)
    var i = 1
    while (i <= n - l) {
      // h ← (h - c_out·B^(l-1))·B + c_in  (mod P), per base
      val cOut = cps(i - 1) % P
      val cIn = cps(i + l - 1) % P
      h1 = addmod(h1, P - mulmod(cOut, bl1))
      h1 = addmod(mulmod(h1, base1), cIn)
      h2 = addmod(h2, P - mulmod(cOut, bl2))
      h2 = addmod(mulmod(h2, base2), cIn)
      out(i) = pack(h1, h2)
      i += 1
    }
    new GenericArrayData(out)
  }
}
