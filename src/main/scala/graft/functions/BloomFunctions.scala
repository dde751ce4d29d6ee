package graft.functions

import org.apache.spark.sql.{Column, Encoder, Encoders}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions.udaf
import org.apache.spark.sql.graftshim.GraftSqlBridge.{column, expression}
import org.apache.spark.sql.types.{BinaryType, BooleanType, DataType, LongType}

/** Self-describing bloom-filter bitmaps over 64-bit key hashes — the
  * storage format of the merge tables' file-level key index
  * (`graft.merge.KeyIndex`), the engine's analogue of Hudi's default
  * BLOOM record index (the reference pins Hudi 0.10,
  * `glue/interactive.sh:12`, whose upsert path prunes candidate files
  * with exactly this structure before any data is read).
  *
  * Layout: a 16-byte header (magic "GBF1", numBits, numHashes, pad)
  * followed by the bitmap. The filter is self-describing so a probe
  * needs no side-channel parameters — entries written with different
  * sizings coexist in one index.
  *
  * Bit positions derive from ONE xxhash64 input hash via
  * Kirsch–Mitzenmacher double hashing (`g_i = h + i·mix(h)` with a
  * splitmix64 finalizer supplying the second hash): build and probe
  * share this code, so a key present at build time can never probe
  * negative — false positives only, which for index pruning means
  * harmless extra candidate files.
  */
object BloomBits {

  val HeaderBytes: Int = 16
  private val Magic: Int = 0x47424631 // "GBF1"

  /** splitmix64 finalizer — the independent second hash for
    * Kirsch–Mitzenmacher, derived from the first so the DataFrame-level
    * interface needs only one hash column. */
  def mix(h: Long): Long = {
    var z = h + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  private def readInt(b: Array[Byte], off: Int): Int =
    ((b(off) & 0xFF) << 24) | ((b(off + 1) & 0xFF) << 16) |
      ((b(off + 2) & 0xFF) << 8) | (b(off + 3) & 0xFF)

  private def writeInt(b: Array[Byte], off: Int, v: Int): Unit = {
    b(off) = (v >>> 24).toByte; b(off + 1) = (v >>> 16).toByte
    b(off + 2) = (v >>> 8).toByte; b(off + 3) = v.toByte
  }

  /** Empty filter of `mBits` bits (must be a power of two — bit
    * positions are masked, not modulo'd) probing with `kHashes` bits
    * per key. */
  def empty(mBits: Int, kHashes: Int): Array[Byte] = {
    require(mBits > 0 && (mBits & (mBits - 1)) == 0,
      s"mBits must be a positive power of two, got $mBits")
    require(kHashes >= 1, s"kHashes must be >= 1, got $kHashes")
    val b = new Array[Byte](HeaderBytes + (mBits >>> 3))
    writeInt(b, 0, Magic); writeInt(b, 4, mBits); writeInt(b, 8, kHashes)
    b
  }

  def add(filter: Array[Byte], hash: Long): Unit = {
    val m = readInt(filter, 4); val k = readInt(filter, 8)
    val h2 = mix(hash)
    var i = 0
    var g = hash
    while (i < k) {
      val pos = (g & (m - 1)).toInt
      filter(HeaderBytes + (pos >>> 3)) =
        (filter(HeaderBytes + (pos >>> 3)) | (1 << (pos & 7))).toByte
      g += h2; i += 1
    }
  }

  /** In-place OR of `other` into `acc` (headers must agree — both come
    * from the same aggregation's `empty`). */
  def or(acc: Array[Byte], other: Array[Byte]): Array[Byte] = {
    require(acc.length == other.length &&
      readInt(acc, 4) == readInt(other, 4),
      "cannot merge bloom filters with different sizings")
    var i = HeaderBytes
    while (i < acc.length) { acc(i) = (acc(i) | other(i)).toByte; i += 1 }
    acc
  }

  /** Membership probe. Called from generated code (static forwarder) —
    * keep it allocation-free. */
  def maybeContains(filter: Array[Byte], hash: Long): Boolean = {
    if (filter.length < HeaderBytes || readInt(filter, 0) != Magic)
      return true // unrecognized filter: fail open (extra candidate)
    val m = readInt(filter, 4); val k = readInt(filter, 8)
    val h2 = mix(hash)
    var i = 0
    var g = hash
    while (i < k) {
      val pos = (g & (m - 1)).toInt
      if ((filter(HeaderBytes + (pos >>> 3)) & (1 << (pos & 7))) == 0)
        return false
      g += h2; i += 1
    }
    true
  }

  /** Sizing for `n` expected keys: ~10 bits/key rounded up to a power
    * of two (fpp < 1% at k=7), clamped to [2^10, 2^23] — a 1 MiB cap
    * per filter, the same order Hudi's dynamic blooms settle at. */
  def sizeFor(n: Long): (Int, Int) = {
    val want = math.max(1024L, n * 10L)
    var m = 1024
    while (m < want && m < (1 << 23)) m <<= 1
    (m, 7)
  }
}

/** `graft_bloom_maybe(filter binary, hash bigint) -> boolean` — native
  * probe into a [[BloomBits]] filter. A join condition in the key
  * index's candidate pruning evaluates this once per (file, probe key)
  * pair, so it must not deserialize or allocate — the expression indexes
  * straight into the binary. */
case class BloomMaybe(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType == BinaryType && right.dataType == LongType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires (binary, bigint), got " +
        s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")

  override def dataType: DataType = BooleanType
  override def prettyName: String = "graft_bloom_maybe"

  override def nullSafeEval(f: Any, h: Any): Any =
    BloomBits.maybeContains(f.asInstanceOf[Array[Byte]],
      h.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (f, h) =>
      s"${ev.value} = graft.functions.BloomBits.maybeContains($f, $h);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Typed aggregator building one [[BloomBits]] filter per group from a
  * column of xxhash64 values. Runs once per merge commit over just the
  * newly written files' key hashes (batch-sized input, map-side
  * partials merge with a byte OR) — not in any query hot path, which is
  * why an Aggregator is acceptable here where a scalar UDF would not
  * be. */
class BloomBuildAgg(mBits: Int, kHashes: Int)
    extends Aggregator[Long, Array[Byte], Array[Byte]] {
  override def zero: Array[Byte] = BloomBits.empty(mBits, kHashes)
  override def reduce(b: Array[Byte], h: Long): Array[Byte] = {
    BloomBits.add(b, h); b
  }
  override def merge(a: Array[Byte], b: Array[Byte]): Array[Byte] =
    BloomBits.or(a, b)
  override def finish(b: Array[Byte]): Array[Byte] = b
  override def bufferEncoder: Encoder[Array[Byte]] = Encoders.BINARY
  override def outputEncoder: Encoder[Array[Byte]] = Encoders.BINARY
}

/** Column builders for the bloom functions (the SQL name is injected
  * by [[graft.GraftExtensions]]). */
object BloomFunctions {

  val maybeName = "graft_bloom_maybe"

  /** Codegen'd membership probe. */
  def bloomMaybe(filter: Column, hash: Column): Column =
    column(BloomMaybe(expression(filter), expression(hash)))

  /** Bloom-build aggregate over a bigint hash column, sized `(mBits,
    * kHashes)` for every group of this aggregation (callers size from
    * the largest group — see [[BloomBits.sizeFor]]). */
  def bloomAgg(hash: Column, mBits: Int, kHashes: Int): Column =
    udaf(new BloomBuildAgg(mBits, kHashes), Encoders.scalaLong)(hash)
}
