package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{BinaryType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Allocation-free MD5-prefix fold for the portable hash family.
  *
  * Every portable kernel (MinHash shingles, SimHash tokens, CDC windows)
  * and every md5-prefix Column chain in the registry hashes TINY inputs —
  * 5-char shingles, words, 16-char windows, id strings — and then keeps
  * only the first 7/8/13/15 hex digits as a number. The Column form pays,
  * per value: a 32-char hex string (Spark's `md5` renders the digest),
  * a `substring`, and `conv`'s radix parse + decimal re-render + a
  * string→long cast; [[Md5Prefix]] folds the digest bytes straight into
  * the long. The digest itself stays on the JDK MessageDigest — HotSpot
  * intrinsifies the MD5 block transform, and a hand-rolled RFC 1321
  * single-block implementation measured 1.4× SLOWER (247 vs 177 ns/hash;
  * see OPTIMIZATION_r15.md) — but the thread-local digest + output
  * buffer make the whole fold allocation-free per call.
  *
  * Bit-equality with MessageDigest is pinned in Md5KernelSpec, as is
  * Md5Prefix ≡ conv(substring(md5(x), 1, h), 16, 10) including multi-byte
  * UTF-8 and nulls; the portable-family specs (MinHashExprSpec,
  * CdcExprSpec, StreamContainmentSpec) pin the kernels against the md5
  * Column algebra end-to-end, so the DuckDB oracles are unaffected by
  * construction.
  */
object Md5Kernel {

  private final class Scratch {
    val md: java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
    val out = new Array[Byte](16)
  }
  private val tl = new ThreadLocal[Scratch] {
    override def initialValue(): Scratch = new Scratch
  }

  /** First 8 MD5 digest bytes of `bytes[off, off+len)`, folded big-endian
    * into one long (== the value of the first 16 hex digits of md5;
    * callers shift right for shorter prefixes). Rides the HotSpot MD5
    * intrinsic (a hand-rolled RFC 1321 block transform measured 1.4×
    * SLOWER than the intrinsified MessageDigest — see OPTIMIZATION_r15),
    * with a thread-local digest and output buffer so the only per-call
    * allocation anywhere in the fold is none. THE portable base-hash fold:
    * every md5 kernel (MinHash, shingle set, SimHash, CDC) shifts this
    * value right to its prefix width, so they cannot drift from each other
    * or from the DuckDB side's ('0x' || substr(md5(x), 1, n))::BIGINT. */
  def first8(bytes: Array[Byte], off: Int, len: Int): Long = {
    val sc = tl.get()
    val d = sc.md
    d.update(bytes, off, len)
    val out = sc.out
    d.digest(out, 0, 16) // finishes AND resets the engine
    ((out(0) & 0xffL) << 56) | ((out(1) & 0xffL) << 48) |
      ((out(2) & 0xffL) << 40) | ((out(3) & 0xffL) << 32) |
      ((out(4) & 0xffL) << 24) | ((out(5) & 0xffL) << 16) |
      ((out(6) & 0xffL) << 8) | (out(7) & 0xffL)
  }

  /** First `hexDigits` (<= 15) hex digits of md5(input) as an unsigned
    * long — the runtime of [[Md5Prefix]]. */
  def prefix(bytes: Array[Byte], hexDigits: Int): Long =
    first8(bytes, 0, bytes.length) >>> (64 - 4 * hexDigits)

  def prefixOfString(s: UTF8String, hexDigits: Int): Long = {
    val b = s.getBytes
    first8(b, 0, b.length) >>> (64 - 4 * hexDigits)
  }
}

/** Native `('0x' || substr(md5(x), 1, hexDigits))::BIGINT` — the portable
  * pseudo-random fold used by the sampling/split/ordering chains. Exactly
  * equal to `conv(substring(md5(x), 1, hexDigits), 16, 10).cast("long")`
  * (pinned in Md5KernelSpec) with no hex-string materialization and no
  * decimal parse. Input: string or binary. Output: long. hexDigits <= 15
  * so the value is always non-negative in a signed long. */
case class Md5Prefix(child: Expression, hexDigits: Int) extends UnaryExpression {
  require(hexDigits >= 1 && hexDigits <= 15, "hexDigits must be in [1, 15]")

  override def dataType: DataType = LongType

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case StringType | BinaryType =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"md5_prefix expects string or binary, got $other")
    }

  override protected def nullSafeEval(input: Any): Any = input match {
    case s: UTF8String => Md5Kernel.prefixOfString(s, hexDigits)
    case b: Array[Byte] => Md5Kernel.prefix(b, hexDigits)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    child.dataType match {
      case StringType =>
        defineCodeGen(ctx, ev, c =>
          s"graft.functions.Md5Kernel.prefixOfString($c, $hexDigits)")
      case _ =>
        defineCodeGen(ctx, ev, c =>
          s"graft.functions.Md5Kernel.prefix($c, $hexDigits)")
    }

  override def prettyName: String = "md5_prefix"

  override protected def withNewChildInternal(newChild: Expression): Md5Prefix =
    copy(child = newChild)
}

object Md5Prefix {
  /** Column-API wrapper. */
  def apply(c: Column, hexDigits: Int): Column =
    ColumnBridge.column(Md5Prefix(ColumnBridge.expression(c), hexDigits))
}
