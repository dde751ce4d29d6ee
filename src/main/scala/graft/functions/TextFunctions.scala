package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.graftshim.GraftSqlBridge.{column, expression}
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Unicode NFC normalization as a native expression.
  *
  * A multilingual training corpus mixes composed ('é', U+00E9) and
  * decomposed ('e' + U+0301) encodings of the SAME text — exact dedup,
  * shingling, fingerprints and token counts all silently fracture on
  * the byte difference unless every document is canonicalized first.
  * Spark has no builtin for this (the usual fallback is a Scala UDF —
  * opaque to codegen and ~an order of magnitude slower on the hot
  * path); this expression calls the JDK's canonical composer inside
  * whole-stage codegen. Identical canonical tables on the oracle side
  * (DuckDB `nfc_normalize`), so results hash-match.
  *
  * ASCII fast path: normalization allocates two conversions per row,
  * but canonical composition can only change text containing non-ASCII
  * code points — for pure-ASCII rows (the overwhelming majority of an
  * English web corpus) the expression returns the input UTF8String
  * untouched, no allocation. */
case class NormalizeNfc(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case _: StringType => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires a string argument, got ${other.simpleString}")
    }

  override def dataType: DataType = child.dataType
  override def prettyName: String = "graft_nfc"

  override def nullSafeEval(input: Any): Any =
    NormalizeNfc.nfc(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.NormalizeNfc.nfc($c)")

  override protected def withNewChildInternal(
      newChild: Expression): Expression = copy(child = newChild)
}

object NormalizeNfc {
  /** Shared by interpreted eval and codegen (static call from the
    * generated Java). */
  def nfc(s: UTF8String): UTF8String = {
    // ASCII can't change under canonical composition — skip the
    // String round-trip entirely
    if (s.isFullAscii) s
    else UTF8String.fromString(java.text.Normalizer.normalize(
      s.toString, java.text.Normalizer.Form.NFC))
  }
}

/** Column builder (the SQL name is injected by
  * [[graft.GraftExtensions]]). */
object TextFunctions {

  val nfcName = "graft_nfc"

  /** Codegen'd NFC normalization. */
  def nfcNormalize(c: Column): Column = column(NormalizeNfc(expression(c)))
}
