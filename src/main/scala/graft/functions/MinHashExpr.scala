package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Runtime kernel for the MinHash signature: one pass over the shingle
  * array computing `numHashes` seeded-xxhash minima. Kept as a static
  * method so generated code is a single call — compiling the equivalent
  * 32 × `array_min(transform(...))` column expressions cost ~60s of Janino
  * time per plan (measured); this compiles in milliseconds and hashes each
  * shingle once per seed with zero allocation per element.
  */
object MinHashKernel {
  def signature(arr: ArrayData, numHashes: Int): ArrayData = {
    val mins = new Array[Long](numHashes)
    java.util.Arrays.fill(mins, Long.MaxValue)
    val n = arr.numElements()
    var i = 0
    while (i < n) {
      val s = arr.getUTF8String(i)
      if (s != null) {
        var h = 0
        while (h < numHashes) {
          val v = XXH64.hashUTF8String(s, 42L + 7919L * h)
          if (v < mins(h)) mins(h) = v
          h += 1
        }
      }
      i += 1
    }
    new GenericArrayData(mins)
  }

  /** MinHash signature over PRE-HASHED shingles, using the SAME per-seed
    * long-mix family as signatureOfText (h0 = xxhash64(shingle, 42);
    * seed h>0 = xxhash64_long(h0, 42 + 7919h)). With h0 produced by the
    * `xxhash64` builtin over character shingles, this yields signatures
    * bit-identical to the fused byte path on ASCII text while shingling
    * by true characters — the non-ASCII-correct variant. */
  def signatureOfHashes(arr: ArrayData, numHashes: Int): ArrayData = {
    val mins = new Array[Long](numHashes)
    java.util.Arrays.fill(mins, Long.MaxValue)
    val n = arr.numElements()
    var i = 0
    while (i < n) {
      // ArrayData.getLong on a null slot returns 0 — skip nulls explicitly
      // (mirrors the null check in the string variant above) rather than
      // silently treating a null element as base hash 0.
      if (!arr.isNullAt(i)) {
        val h0 = arr.getLong(i)
        if (h0 < mins(0)) mins(0) = h0
        var h = 1
        while (h < numHashes) {
          val v = XXH64.hashLong(h0, 42L + 7919L * h)
          if (v < mins(h)) mins(h) = v
          h += 1
        }
      }
      i += 1
    }
    new GenericArrayData(mins)
  }

  /** Distinct hashed byte-shingles: the verify-side twin of
    * signatureOfText. Produces exactly the values of
    * `array_distinct(transform(shingles(text, k), s => xxhash64(s)))`
    * for ASCII text (xxhash64's default seed 42), with no substring or
    * array allocation: hash each window in place, sort, dedup. */
  def shingleHashes(text: UTF8String, k: Int): ArrayData = {
    val n = text.numBytes()
    val base = text.getBaseObject
    val off = text.getBaseOffset
    val windows = if (n <= k) 1 else n - k + 1
    val arr = new Array[Long](windows)
    var i = 0
    while (i < windows) {
      arr(i) = XXH64.hashUnsafeBytes(base, off + i, math.min(k, n - i), 42L)
      i += 1
    }
    java.util.Arrays.sort(arr)
    var w = 0
    i = 0
    while (i < windows) {
      if (i == 0 || arr(i) != arr(i - 1)) { arr(w) = arr(i); w += 1 }
      i += 1
    }
    new GenericArrayData(java.util.Arrays.copyOf(arr, w))
  }

  /** Fused PORTABLE MinHash — the md5-based proof family of
    * llm/Dedup.minhashPortable computed in one kernel call, bit-identical
    * to the Column algebra
    * `min((conv(substring(md5(shingle),1,7),16,10) * a_i + b_i) % p)`
    * over the character k-shingles of lower(text):
    *   - shingling is CHARACTER-based on the lowercased text (UTF8String
    *     substringSQL — same operator the Column `substr` lowers to), so
    *     multi-byte codepoints shingle identically;
    *   - the base hash is the first 7 hex digits of md5(shingle-utf8) =
    *     the top 28 bits of the digest, read off the digest bytes without
    *     materializing the hex string;
    *   - the per-seed k-universal transforms reuse PORTABLE_P and the
    *     (a_i, b_i) family shared verbatim with the DuckDB oracle side
    *     (equality with the Column algebra is property-pinned in
    *     MinHashExprSpec, so the constants cannot drift silently).
    * Eliminates the per-shingle hex-string + conv + array allocation and,
    * at the call sites, the explode/groupBy shuffle of one row PER
    * SHINGLE. */
  val PORTABLE_P = 268435399L // largest prime < 2^28

  /** The k-universal coefficient family shared verbatim by the kernel,
    * the Column algebra (llm/Dedup delegates here), and the DuckDB
    * oracle SQL — ONE canonical definition so the three cannot drift. */
  def portableCoef(i: Int): (Long, Long) =
    ((2L * i + 3) * 12582917L % PORTABLE_P, (i + 1) * 15485863L % PORTABLE_P)

  def portableSignature(text: UTF8String, k: Int, numHashes: Int): ArrayData = {
    val t = text.toLowerCase
    val nChars = t.numChars()
    val windows = math.max(nChars - k + 1, 1)
    val mins = new Array[Long](numHashes)
    java.util.Arrays.fill(mins, Long.MaxValue)
    // hoisted: the (a, b) pairs are loop-invariant per seed
    val as = new Array[Long](numHashes)
    val bs = new Array[Long](numHashes)
    var s0 = 0
    while (s0 < numHashes) {
      val (a, b) = portableCoef(s0); as(s0) = a; bs(s0) = b; s0 += 1
    }
    // ASCII fast path: bytes == chars, so each k-char window is a byte
    // slice hashed in place (no per-window UTF8String + byte-array
    // allocation). Multi-byte text keeps the substringSQL windowing the
    // dd3d contract pins.
    val ascii = t.numBytes() == nChars
    val raw = if (ascii) t.getBytes else null
    var i = 0
    while (i < windows) {
      val h =
        if (ascii) Md5Kernel.first8(raw, i, math.min(k, nChars - i)) >>> 36
        else {
          // substringSQL is 1-based and clamps past the end — identical
          // to the Column algebra's t.substr(i, k)
          val b = t.substringSQL(i + 1, k).getBytes
          Md5Kernel.first8(b, 0, b.length) >>> 36
        }
      var s = 0
      while (s < numHashes) {
        val v = (h * as(s) + bs(s)) % PORTABLE_P
        if (v < mins(s)) mins(s) = v
        s += 1
      }
      i += 1
    }
    new GenericArrayData(mins)
  }

  /** Distinct PORTABLE shingle hashes: the exact-set sibling of
    * [[portableSignature]] — every character k-window of lower(text)
    * hashed to the md5-28 base (identical windowing + hash family), then
    * sorted + deduped. The engine-portable twin of [[shingleHashes]]:
    * DuckDB reproduces each value as
    * `('0x' || substr(md5(substr(lower(text), i, k)), 1, 7))::BIGINT`,
    * so set algebra over these hashes (corpus overlap, containment) is
    * oracle-checkable. */
  def portableShingleHashes(text: UTF8String, k: Int): ArrayData = {
    val t = text.toLowerCase
    val nChars = t.numChars()
    val windows = math.max(nChars - k + 1, 1)
    val arr = new Array[Long](windows)
    // same ASCII byte-window fast path as portableSignature
    val ascii = t.numBytes() == nChars
    val raw = if (ascii) t.getBytes else null
    var i = 0
    while (i < windows) {
      arr(i) =
        if (ascii) Md5Kernel.first8(raw, i, math.min(k, nChars - i)) >>> 36
        else {
          val b = t.substringSQL(i + 1, k).getBytes
          Md5Kernel.first8(b, 0, b.length) >>> 36
        }
      i += 1
    }
    java.util.Arrays.sort(arr)
    var w = 0
    i = 0
    while (i < windows) {
      if (i == 0 || arr(i) != arr(i - 1)) { arr(w) = arr(i); w += 1 }
      i += 1
    }
    new GenericArrayData(java.util.Arrays.copyOf(arr, w))
  }

  /** Fused portable SimHash — the 60-bit md5 fingerprint of
    * llm/Dedup.simhashPortable in one kernel call, bit-identical to the
    * Column algebra: tokens = lower(text) split on a single space (empty
    * tokens kept, as the regex split keeps them), token hash = first 15
    * hex digits of md5 (top 60 bits of the digest), bit i votes +1/−1 by
    * the hash's bit i, fingerprint bit i set iff the vote sum is
    * positive. Replaces an explode of one row PER TOKEN plus a 60-column
    * aggregate shuffle with a single per-row pass. */
  def portableSimhash(text: UTF8String): Long = {
    // Valid UTF-8 is assumed: the pre-r15 path round-tripped through
    // String (toString.split), which replaces MALFORMED UTF-8 sequences
    // with U+FFFD before hashing — for invalid input this byte path
    // hashes the raw bytes instead and the fingerprint differs. The
    // tier's corpora are valid UTF-8 (parquet string columns), so the
    // case is unreachable here; sanitize upstream if that ever changes.
    // byte-level split on 0x20: UTF-8 never embeds a space byte inside a
    // multi-byte sequence, so the segments (empties kept, incl. trailing)
    // are exactly String.split(" ", -1)'s tokens — with no String/token/
    // byte-array allocations per token
    val bytes = text.toLowerCase.getBytes
    val votes = new Array[Int](60)
    val n = bytes.length
    var start = 0
    var bi = 0
    while (bi <= n) {
      if (bi == n || bytes(bi) == ' '.toByte) {
        val h = Md5Kernel.first8(bytes, start, bi - start) >>> 4
        var i = 0
        while (i < 60) {
          if (((h >>> i) & 1L) == 1L) votes(i) += 1 else votes(i) -= 1
          i += 1
        }
        start = bi + 1
      }
      bi += 1
    }
    var fp = 0L
    var i = 0
    while (i < 60) {
      if (votes(i) > 0) fp |= 1L << i
      i += 1
    }
    fp
  }

  /** Portable LCG signature over PRE-HASHED md5-28 gram values: per seed
    * i < numHashes, the minimum of `(h·a_i + b_i) % PORTABLE_P` over the
    * array — exactly the Column algebra
    * `array((0 until n).map(i => array_min(transform(h, x => (x*a_i+b_i) % P))))`
    * of llm/Dedup.estimateGramTable, in ONE pass. The Column form pays
    * numHashes interpreted `transform` evaluations per row (higher-order
    * functions are CodegenFallback) and allocates numHashes intermediate
    * arrays per row; this folds all seeds over one traversal with zero
    * allocation per element. Inputs are md5-28 values (< 2^28) and the
    * coefficients are < PORTABLE_P (< 2^28), so `h·a + b` stays below
    * 2^57 — exact in a long, identical to the Column arithmetic. Null
    * elements are skipped exactly as `array_min` skips them; if NO
    * non-null element exists (empty array / all-null), every entry is
    * null, matching `array_min`'s null-on-empty. */
  def portableSignatureOfHashes(arr: ArrayData, numHashes: Int): ArrayData = {
    val n = arr.numElements()
    val mins = new Array[Long](numHashes)
    java.util.Arrays.fill(mins, Long.MaxValue)
    val as = new Array[Long](numHashes)
    val bs = new Array[Long](numHashes)
    var s0 = 0
    while (s0 < numHashes) {
      val (a, b) = portableCoef(s0); as(s0) = a; bs(s0) = b; s0 += 1
    }
    var seen = false
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) {
        seen = true
        val h = arr.getLong(i)
        var s = 0
        while (s < numHashes) {
          val v = (h * as(s) + bs(s)) % PORTABLE_P
          if (v < mins(s)) mins(s) = v
          s += 1
        }
      }
      i += 1
    }
    if (!seen) new GenericArrayData(new Array[Any](numHashes)) // all-null entries
    else new GenericArrayData(mins)
  }

  /** Fused byte-shingle MinHash: slides a k-byte window directly over the
    * text's backing bytes — no substring allocation, no intermediate
    * shingle array, no dedup (min is duplicate-insensitive). Each window
    * pays ONE xxhash64 of its bytes; the other numHashes-1 family members
    * are cheap long-mixes of that base hash. Shingles are BYTE windows
    * (identical to character windows for ASCII text; a deliberate,
    * documented difference for multi-byte codepoints). Texts shorter than
    * k yield their single short window, like substr(1, k). */
  def signatureOfText(text: UTF8String, k: Int, numHashes: Int): ArrayData = {
    val mins = new Array[Long](numHashes)
    java.util.Arrays.fill(mins, Long.MaxValue)
    val n = text.numBytes()
    val base = text.getBaseObject
    val off = text.getBaseOffset
    val windows = if (n <= k) 1 else n - k + 1
    var i = 0
    while (i < windows) {
      val len = math.min(k, n - i)
      val h0 = XXH64.hashUnsafeBytes(base, off + i, len, 42L)
      if (h0 < mins(0)) mins(0) = h0
      var h = 1
      while (h < numHashes) {
        val v = XXH64.hashLong(h0, 42L + 7919L * h)
        if (v < mins(h)) mins(h) = v
        h += 1
      }
      i += 1
    }
    new GenericArrayData(mins)
  }
}

/** Native Catalyst expression for the MinHash signature (SURVEY §2.10 /
  * custom-operator tier (b): a scalar `Expression` with codegen, used when
  * composing built-ins is semantically possible but pathological).
  *
  * Input: array<string> shingles. Output: array<long> of `numHashes`
  * per-seed minima. Deterministic, null-safe, foldable-aware.
  */
case class MinHashSignature(child: Expression, numHashes: Int)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    child.dataType match {
      case ArrayType(StringType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"minhash_signature expects array<string>, got $other")
    }
  }

  override protected def nullSafeEval(input: Any): Any =
    MinHashKernel.signature(input.asInstanceOf[ArrayData], numHashes)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.MinHashKernel.signature($c, $numHashes)")

  override def prettyName: String = "minhash_signature"

  override protected def withNewChildInternal(newChild: Expression): MinHashSignature =
    copy(child = newChild)
}

/** MinHash signature over pre-hashed shingles (array<long> → array<long>),
  * same seed family as MinHashText (see MinHashKernel.signatureOfHashes). */
case class MinHashFromHashes(child: Expression, numHashes: Int)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(LongType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"minhash_from_hashes expects array<bigint>, got $other")
    }

  override protected def nullSafeEval(input: Any): Any =
    MinHashKernel.signatureOfHashes(input.asInstanceOf[ArrayData], numHashes)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.MinHashKernel.signatureOfHashes($c, $numHashes)")

  override def prettyName: String = "minhash_from_hashes"

  override protected def withNewChildInternal(newChild: Expression): MinHashFromHashes =
    copy(child = newChild)
}

object MinHashFromHashes {
  /** Column-API wrapper. */
  def apply(hashes: Column, numHashes: Int): Column =
    ColumnBridge.column(MinHashFromHashes(ColumnBridge.expression(hashes), numHashes))
}

/** Portable LCG minhash signature over pre-hashed md5-28 grams
  * (array<long> → array<long>), the (a_i, b_i)/PORTABLE_P family shared
  * with the DuckDB oracle side (see MinHashKernel.portableSignatureOfHashes
  * for the bit-identity argument vs the Column algebra it replaces). */
case class PortableMinHashFromHashes(child: Expression, numHashes: Int)
    extends UnaryExpression {

  // array_min yields null on an empty/all-null array, so entries are nullable
  override def dataType: DataType = ArrayType(LongType, containsNull = true)

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(LongType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"portable_minhash_from_hashes expects array<bigint>, got $other")
    }

  override protected def nullSafeEval(input: Any): Any =
    MinHashKernel.portableSignatureOfHashes(input.asInstanceOf[ArrayData], numHashes)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.MinHashKernel.portableSignatureOfHashes($c, $numHashes)")

  override def prettyName: String = "portable_minhash_from_hashes"

  override protected def withNewChildInternal(newChild: Expression): PortableMinHashFromHashes =
    copy(child = newChild)
}

object PortableMinHashFromHashes {
  /** Column-API wrapper. */
  def apply(hashes: Column, numHashes: Int): Column =
    ColumnBridge.column(PortableMinHashFromHashes(ColumnBridge.expression(hashes), numHashes))
}

/** Fused text→signature form: byte-shingling and hashing in one kernel
  * call over the raw text (see MinHashKernel.signatureOfText). Input:
  * string. Output: array<long> of numHashes minima. */
case class MinHashText(child: Expression, k: Int, numHashes: Int)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case StringType =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"minhash_text expects string, got $other")
    }

  override protected def nullSafeEval(input: Any): Any =
    MinHashKernel.signatureOfText(input.asInstanceOf[UTF8String], k, numHashes)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.MinHashKernel.signatureOfText($c, $k, $numHashes)")

  override def prettyName: String = "minhash_text"

  override protected def withNewChildInternal(newChild: Expression): MinHashText =
    copy(child = newChild)
}

object MinHashText {
  /** Column-API wrapper. */
  def apply(text: Column, k: Int, numHashes: Int): Column =
    ColumnBridge.column(MinHashText(ColumnBridge.expression(text), k, numHashes))
}

/** Fused portable (md5-family) MinHash signature (see
  * MinHashKernel.portableSignature). Input: string. Output: array<long>
  * of numHashes portable minima. */
case class PortableMinHash(child: Expression, k: Int, numHashes: Int)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case StringType =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"portable_minhash expects string, got $other")
    }

  override protected def nullSafeEval(input: Any): Any =
    MinHashKernel.portableSignature(input.asInstanceOf[UTF8String], k, numHashes)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.MinHashKernel.portableSignature($c, $k, $numHashes)")

  override def prettyName: String = "portable_minhash"

  override protected def withNewChildInternal(newChild: Expression): PortableMinHash =
    copy(child = newChild)
}

object PortableMinHash {
  /** Column-API wrapper. */
  def apply(text: Column, k: Int, numHashes: Int): Column =
    ColumnBridge.column(PortableMinHash(ColumnBridge.expression(text), k, numHashes))
}

/** Fused portable (md5-family) 60-bit SimHash fingerprint (see
  * MinHashKernel.portableSimhash). Input: string. Output: long. */
case class PortableSimHash(child: Expression) extends UnaryExpression {

  override def dataType: DataType = LongType

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case StringType =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"portable_simhash expects string, got $other")
    }

  override protected def nullSafeEval(input: Any): Any =
    MinHashKernel.portableSimhash(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.MinHashKernel.portableSimhash($c)")

  override def prettyName: String = "portable_simhash"

  override protected def withNewChildInternal(newChild: Expression): PortableSimHash =
    copy(child = newChild)
}

object PortableSimHash {
  /** Column-API wrapper. */
  def apply(text: Column): Column =
    ColumnBridge.column(PortableSimHash(ColumnBridge.expression(text)))
}

/** Distinct portable (md5-28) character-shingle hash set of a text (see
  * MinHashKernel.portableShingleHashes). Input: string. Output:
  * array<long>, sorted ascending. */
case class PortableShingleHashes(child: Expression, k: Int) extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case StringType =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"portable_shingle_hashes expects string, got $other")
    }

  override protected def nullSafeEval(input: Any): Any =
    MinHashKernel.portableShingleHashes(input.asInstanceOf[UTF8String], k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.MinHashKernel.portableShingleHashes($c, $k)")

  override def prettyName: String = "portable_shingle_hashes"

  override protected def withNewChildInternal(newChild: Expression): PortableShingleHashes =
    copy(child = newChild)
}

object PortableShingleHashes {
  /** Column-API wrapper. */
  def apply(text: Column, k: Int): Column =
    ColumnBridge.column(PortableShingleHashes(ColumnBridge.expression(text), k))
}

/** Distinct hashed byte-shingle set of a text (see
  * MinHashKernel.shingleHashes). Input: string. Output: array<long>. */
case class ShingleHashes(child: Expression, k: Int) extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case StringType =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"shingle_hashes expects string, got $other")
    }

  override protected def nullSafeEval(input: Any): Any =
    MinHashKernel.shingleHashes(input.asInstanceOf[UTF8String], k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.MinHashKernel.shingleHashes($c, $k)")

  override def prettyName: String = "shingle_hashes"

  override protected def withNewChildInternal(newChild: Expression): ShingleHashes =
    copy(child = newChild)
}

object ShingleHashes {
  /** Column-API wrapper. */
  def apply(text: Column, k: Int): Column =
    ColumnBridge.column(ShingleHashes(ColumnBridge.expression(text), k))
}

object MinHashSignature {
  /** Column-API wrapper. */
  def apply(shingles: Column, numHashes: Int): Column =
    ColumnBridge.column(MinHashSignature(ColumnBridge.expression(shingles), numHashes))

  private val info = new ExpressionInfo(classOf[MinHashSignature].getName, "minhash_signature")

  private val builder: Seq[Expression] => Expression = { args =>
    require(args.size == 2, "minhash_signature(shingles, numHashes)")
    val n = args(1) match {
      case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
      case other => throw new IllegalArgumentException(s"numHashes must be an int literal, got $other")
    }
    MinHashSignature(args.head, n)
  }

  /** Register `minhash_signature` in an existing session (SQL-callable). */
  def register(spark: SparkSession): Unit =
    spark.sessionState.functionRegistry.registerFunction(
      FunctionIdentifier("minhash_signature"), info, builder)
}

/** SparkSessionExtensions entry point — custom-operator tier (c) plumbing:
  * `spark.sql.extensions=graft.functions.GraftExtensions` makes the native
  * functions available to pure-SQL users of the engine. */
class GraftExtensions extends (org.apache.spark.sql.SparkSessionExtensions => Unit) {
  override def apply(ext: org.apache.spark.sql.SparkSessionExtensions): Unit = {
    ext.injectFunction((FunctionIdentifier("minhash_signature"),
      new ExpressionInfo(classOf[MinHashSignature].getName, "minhash_signature"),
      (args: Seq[Expression]) => {
        val n = args(1) match {
          case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
          case other => throw new IllegalArgumentException(s"numHashes must be an int literal, got $other")
        }
        MinHashSignature(args.head, n)
      }))
  }
}
