package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types.{DataType, LongType}

/** The order-8 (256×256) Hilbert-curve distance kernel, shared verbatim
  * by interpreted eval and generated code so both paths run the
  * identical arithmetic (the [[PqKernels]] discipline). */
object HilbertKernels {

  /** xy→d on the 256×256 Hilbert curve — the rotate-and-accumulate
    * conversion (the shape of the public convert-xy-to-d loop, e.g.
    * Wikipedia "Hilbert curve"): walk bit planes from the top,
    * accumulate s²·gray(quadrant), rotate/reflect the frame into the
    * quadrant. All integer; inputs must sit in [0, 256).
    *
    * DELIBERATE DIVERGENCE FROM THE CANONICAL LOOP — do not "fix" one
    * side alone (r17 ADVICE): the reflection uses the CURRENT plane's
    * `s - 1 - x`, not the canonical whole-grid `n - 1 - x`, so
    * intermediate coordinates go NEGATIVE (x=255, s=128 reflects to
    * y=-128). The curve is still a valid Hilbert variant — HilbertSpec
    * proves bijectivity onto [0, 65536) and unit-step adjacency over the
    * full 256×256 grid, which is ALL the layout query's tile-locality
    * claim needs — but the subsequent rounds' `x & s` then operates on
    * negative values, and the oracle's unrolled CTE chain replays
    * bit-for-bit ONLY because DuckDB's `&` on negative BIGINTs is the
    * same two's-complement operation as Java's. Canonicalizing the loop
    * to `n - 1 - x` on one side (kernel OR oracle CTEs) silently breaks
    * the hash-match while leaving both curves individually plausible —
    * any change here must land in [[HilbertD2]]'s codegen string, this
    * eval, AND the ParityQueries `hilbertRoundsSql` CTE chain together,
    * re-proven by HilbertSpec. */
  def d2(x0: Long, y0: Long): Long = {
    var x = x0; var y = y0
    var d = 0L
    var s = 128L
    while (s > 0) {
      val rx = if ((x & s) > 0) 1L else 0L
      val ry = if ((y & s) > 0) 1L else 0L
      d += s * s * ((3L * rx) ^ ry)
      if (ry == 0) {
        if (rx == 1) { x = s - 1 - x; y = s - 1 - y }
        val t = x; x = y; y = t
      }
      s >>= 1
    }
    d
  }
}

/** `hilbert_d2(bx, by)` — the Hilbert-curve distance of an 8-bit bucket
  * pair as ONE codegen'd kernel call.
  *
  * WHY AN EXPRESSION: unrolling the 8 rotate-and-reflect rounds as
  * Column CASE arithmetic triples the (x, y) expression tree per round
  * (each new coordinate references both old ones up to twice), and
  * CollapseProject re-inlines any per-round withColumn staging — a
  * ~3^8-node tree per row is exactly the giant-literal-plan shape that
  * blows janino into the silent interpreted fallback (see
  * [[PqExpressions]]). One kernel call keeps the plan one node. */
case class HilbertD2(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType == LongType && right.dataType == LongType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"hilbert_d2 expects two BIGINT arguments, " +
        s"got ${left.dataType.sql} and ${right.dataType.sql}")

  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def prettyName: String = "hilbert_d2"

  override def nullSafeEval(l: Any, r: Any): Any =
    HilbertKernels.d2(l.asInstanceOf[Long], r.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.functions.HilbertKernels.d2($a, $b);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): HilbertD2 =
    copy(left = newLeft, right = newRight)
}

object HilbertFunctions {

  /** hilbert_d2(bx, by) — the analyzing session needs the extension or
    * [[graft.Session.install]]. */
  def hilbertD2(bx: Column, by: Column): Column =
    call_function("hilbert_d2", bx, by)
}
