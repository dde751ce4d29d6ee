package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftshim.GraftSqlBridge.{column, expression}
import org.apache.spark.sql.types.{ArrayType, BinaryType, DataType, IntegerType}

/** Content-defined chunk boundaries as a native expression.
  *
  * A rolling polynomial hash (buzhash/Rabin family) over the trailing
  * `k` bytes marks a boundary wherever `hash % divisor == 0` — so
  * boundaries move WITH the content: the same region embedded at ANY
  * offset in two payloads chunks identically, which is exactly the
  * shift-invariance the stride-aligned window detector
  * ([[graft.multimodal.Multimodal.contentOverlap]]) documents it lacks.
  * This is the storage-dedup primitive (LBFS/Venti lineage, every
  * modern backup store) applied to training-media payloads.
  *
  * Semantics (mirrored exactly by the m09 oracle's SQL restatement):
  * hash(p) = (Σ_{j=0}^{k−1} byte[p−j]·B^j) mod M over 1-based end
  * positions p ∈ [k, len]; the boundary list is the sorted distinct
  * hash positions plus a final boundary at len. Integer-only — no
  * float drift surface. The expression runs inside whole-stage codegen
  * as an O(len) rolling update (one multiply, one subtract per byte),
  * not the O(len·k) direct restatement the oracle can afford.
  *
  * No min/max chunk-size clamps (declared contract): clamps improve
  * size distribution but break the "identical content ⇒ identical
  * chunks" law at region edges; callers needing bounded chunks can
  * post-split oversized ones without losing the dedup property. */
case class CdcBounds(child: Expression, k: Int, base: Int,
    modulus: Int, divisor: Int) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case BinaryType => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires a binary argument, got ${other.simpleString}")
    }

  override def dataType: DataType = ArrayType(IntegerType,
    containsNull = false)
  override def prettyName: String = "graft_cdc_bounds"

  override def nullSafeEval(input: Any): Any =
    CdcBounds.bounds(input.asInstanceOf[Array[Byte]], k, base, modulus,
      divisor)

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.CdcBounds.bounds($c, $k, $base, $modulus, $divisor)")

  override protected def withNewChildInternal(
      newChild: Expression): Expression = copy(child = newChild)
}

object CdcBounds {
  /** Shared by interpreted eval and codegen. */
  def bounds(bytes: Array[Byte], k: Int, base: Int, modulus: Int,
      divisor: Int): ArrayData = {
    val n = bytes.length
    val out = scala.collection.mutable.ArrayBuffer.empty[Int]
    if (n >= k) {
      var bk = 1L
      var j = 0
      while (j < k) { bk = (bk * base) % modulus; j += 1 }
      var h = 0L
      var i = 0
      while (i < n) {
        h = (h * base + (bytes(i) & 0xFF)) % modulus
        if (i >= k)
          h = (h - ((bytes(i - k) & 0xFF) * bk) % modulus + modulus) % modulus
        if (i >= k - 1 && h % divisor == 0) out += (i + 1)
        i += 1
      }
    }
    // ALWAYS terminate with a boundary at len — including len=0, where
    // the single boundary yields one zero-length chunk (fp=sha256("")).
    // This matches the oracle's `UNION SELECT id, length(text)` exactly;
    // dropping it made two empty payloads invisible to chunk dedup
    // while the oracle reported their shared empty chunk.
    if (out.isEmpty || out.last != n) out += n
    new GenericArrayData(out.toArray)
  }
}

/** The SQL builder [[graft.GraftExtensions]] injects, and the Column
  * builder that goes through it. */
object ChunkFunctions {

  val cdcName = "graft_cdc_bounds"

  private def intArg(e: Expression, what: String): Int = {
    require(e.foldable, s"$cdcName: $what must be a literal")
    e.eval().asInstanceOf[Number].intValue
  }

  def builder(children: Seq[Expression]): Expression = {
    require(children.size == 5,
      s"$cdcName(payload, k, base, modulus, divisor) takes 5 arguments")
    CdcBounds(children.head,
      intArg(children(1), "k"), intArg(children(2), "base"),
      intArg(children(3), "modulus"), intArg(children(4), "divisor"))
  }

  /** Codegen'd content-defined boundary positions. */
  def cdcBounds(payload: Column, k: Int = 8, base: Int = 31,
      modulus: Int = 1 << 20, divisor: Int = 16): Column =
    column(builder(expression(payload) +:
      Seq(k, base, modulus, divisor).map(Literal(_))))
}
