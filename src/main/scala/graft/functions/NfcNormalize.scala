package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Unicode NFC normalization as a native codegen expression — the
  * pinned canonicalization stage ahead of the text dedup families
  * (r15 verdict "What's missing" #3): NFD and NFC encodings of the
  * SAME text ("é" as U+00E9 vs e + U+0301) are byte-distinct, so every
  * fingerprint / shingle / simhash family treats them as different
  * documents while the byte-level BPE dutifully round-trips both. One
  * deterministic `java.text.Normalizer.normalize(_, NFC)` projection
  * ahead of the fingerprint closes the miss; DuckDB's `nfc_normalize`
  * replays it on the oracle side (the same cross-engine pinning
  * discipline as the BPE pretokenizer regex — NfcSpec certifies the
  * two engines' normalizers agree on the canonical-equivalence
  * fixtures, and the corpus-level hash match in CORRECTNESS carries
  * the lineage).
  *
  * Cost: the ASCII fast path (`numBytes == numChars`) returns the
  * input UTF8String untouched — zero allocation on the overwhelmingly
  * common case — and non-ASCII strings take `Normalizer.isNormalized`
  * (a cheap quick-check pass) before paying for an actual normalize.
  */
case class NfcNormalize(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"nfc_normalize expects STRING, got ${t.sql}")
  }

  override def dataType: DataType = StringType
  override def nullable: Boolean = child.nullable
  override def prettyName: String = "nfc_normalize"

  override def nullSafeEval(v: Any): Any =
    NfcNormalize.nfc(v.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.NfcNormalize$$.MODULE$$.nfc($c)")

  override protected def withNewChildInternal(
      newChild: Expression): NfcNormalize = copy(child = newChild)
}

object NfcNormalize {
  /** The one normalization kernel both eval paths share. ASCII strings
    * (numBytes == numChars ⇔ every byte < 0x80) are NFC by definition
    * and return the input reference unchanged. */
  def nfc(s: UTF8String): UTF8String = {
    if (s.numBytes == s.numChars) s
    else {
      val j = s.toString
      if (java.text.Normalizer.isNormalized(j,
          java.text.Normalizer.Form.NFC)) s
      else UTF8String.fromString(java.text.Normalizer.normalize(j,
        java.text.Normalizer.Form.NFC))
    }
  }

  /** Registry builder for [[graft.plans.GraftExtensions.functions]]. */
  private[graft] val builder: Seq[Expression] => Expression = {
    case Seq(c) => NfcNormalize(c)
    case _ => throw new IllegalArgumentException("nfc_normalize(text)")
  }
}
