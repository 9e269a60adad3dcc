package graft.functions

import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, BinaryType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** `md5_grams(text, L)`: the 16-byte md5 digest of every L-character
  * window of the text (stride 1), value-identical to the builtin spec
  *
  *   transform(sequence(1, length(text) - L + 1),
  *             i -> unhex(md5(cast(substring(text, i, L) as binary))))
  *
  * on every input. The substring dedup operators feed it only
  * length(text) >= L (they filter shorter docs out first); a shorter
  * input takes a slow path that replays the spec literally — the
  * descending sequence(1, length - L + 1) and SQL substring's clamping
  * of positions <= 0 — so it too returns the builtin's degenerate
  * windows, and NULL stays NULL.
  *
  * Why native (r06, measured): the builtin chain walks the string from
  * position 0 for EVERY window (substring is O(pos) on UTF8String — the
  * whole column is O(n²) per document), hex-encodes each digest only for
  * unhex to undo it, and constructs a fresh MessageDigest per md5() call.
  * This form computes the codepoint offset table once, digests each
  * window's UTF-8 bytes in place via a thread-local MessageDigest, and
  * emits the raw 16-byte keys directly — same bytes, ~4× less work per
  * window. The md5-per-window CONTRACT itself is what the frozen DuckDB
  * oracle replays, so the hash function cannot change, only its cost.
  */
case class Md5Grams(child: Expression, len: Int) extends UnaryExpression {

  require(len >= 1, "md5_grams needs len >= 1")

  override def dataType: DataType = ArrayType(BinaryType, containsNull = false)
  override def nullIntolerant: Boolean = true

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case StringType =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"md5_grams needs a string arg, got ${other.simpleString}")
    }

  override protected def nullSafeEval(input: Any): Any =
    Md5Grams.compute(input.asInstanceOf[UTF8String], len)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.Md5Grams.compute($c, $len)")

  override protected def withNewChildInternal(newChild: Expression): Md5Grams =
    copy(child = newChild)

  override def prettyName: String = "md5_grams"
}

object Md5Grams {

  private val digest = ThreadLocal.withInitial(
    new java.util.function.Supplier[java.security.MessageDigest] {
      def get(): java.security.MessageDigest =
        java.security.MessageDigest.getInstance("MD5")
    })

  def compute(s: UTF8String, l: Int): ArrayData = {
    val bytes = s.getBytes
    // character start offsets, UTF8String semantics (a character = one
    // UTF-8 sequence, starts are bytes != 10xxxxxx) — the same unit
    // length()/substring() count, so window i covers exactly the bytes
    // of substring(text, i+1, l)
    var nChars = 0
    var bi = 0
    while (bi < bytes.length) {
      if ((bytes(bi) & 0xc0) != 0x80) nChars += 1
      bi += 1
    }
    if (nChars < l) return shortInput(s, nChars, l)
    val offs = new Array[Int](nChars + 1)
    var ci = 0
    bi = 0
    while (bi < bytes.length) {
      if ((bytes(bi) & 0xc0) != 0x80) { offs(ci) = bi; ci += 1 }
      bi += 1
    }
    offs(nChars) = bytes.length
    val md = digest.get()
    val out = new Array[Any](nChars - l + 1)
    var i = 0
    while (i <= nChars - l) {
      md.reset()
      md.update(bytes, offs(i), offs(i + l) - offs(i))
      out(i) = md.digest()
      i += 1
    }
    new GenericArrayData(out)
  }

  // below L characters the spec's sequence runs DOWN from 1 and every
  // window is whatever substring(text, i, L) makes of a position <= 1
  private def shortInput(s: UTF8String, nChars: Int, l: Int): ArrayData = {
    val md = digest.get()
    new GenericArrayData((1 to (nChars - l + 1) by -1).map { i =>
      md.reset()
      md.digest(s.substringSQL(i, l).getBytes): Any
    }.toArray)
  }
}
