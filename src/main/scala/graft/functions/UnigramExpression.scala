package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** A trained unigram-LM tokenizer vocabulary: piece → 1e-6-tick log
  * probability ([[graft.queries.TextQueries]]'s LM snap). Matching runs
  * in codepoint space like [[WpVocab]]. */
case class UgVocab(pieces: Seq[(String, Long)]) {
  @transient lazy val map: java.util.HashMap[UTF8String, java.lang.Long] = {
    val m = new java.util.HashMap[UTF8String, java.lang.Long](
      math.max(pieces.size * 2, 16))
    pieces.foreach { case (p, lp) =>
      m.put(UTF8String.fromString(p), java.lang.Long.valueOf(lp))
    }
    m
  }
  @transient lazy val maxLen: Int =
    if (pieces.isEmpty) 1
    else pieces.iterator.map(p => UTF8String.fromString(p._1).numChars()).max
}

/** The unigram-LM Viterbi segmenter (Kudo 2018's inference rule under
  * this engine's integer-tick discipline): per word, the segmentation
  * maximizing the sum of piece log-prob ticks — exact BIGINT sums, so
  * the DP argmax is a pure integer comparison — with the deterministic
  * tie-break (score DESC, piece count ASC, longer last piece). Words
  * longer than [[UgKernels.MaxWordLen]] (or with an unreachable DP end
  * state) fall back to per-character pieces, the same rule the oracle's
  * unrolled chain takes by construction. */
object UgKernels {

  /** The DP unroll bound shared with the generated oracle chain: the
    * oracle materializes one CTE per position, so the segmenter only
    * runs the DP where the replay can follow; longer words take the
    * char fallback in BOTH engines. */
  val MaxWordLen = 16

  private def charFallback(w: UTF8String): ArrayData = {
    val n = w.numChars()
    val out = new Array[Any](n)
    var i = 0
    while (i < n) { out(i) = w.substringSQL(i + 1, 1); i += 1 }
    new GenericArrayData(out)
  }

  /** segment(word) → the Viterbi-best piece sequence (see object doc). */
  def segment(w: UTF8String, vocab: UgVocab): ArrayData = {
    val n = w.numChars()
    if (n == 0) return new GenericArrayData(Array.empty[Any])
    if (n > MaxWordLen) return charFallback(w)
    val NEG = java.lang.Long.MIN_VALUE
    val sco = Array.fill(n + 1)(NEG)
    val np = new Array[Long](n + 1)
    val pl = new Array[Int](n + 1)
    sco(0) = 0L
    var j = 1
    while (j <= n) {
      val maxL = math.min(vocab.maxLen, j)
      var l = 1
      while (l <= maxL) {
        if (sco(j - l) != NEG) {
          val s = vocab.map.get(w.substringSQL(j - l + 1, l))
          if (s != null) {
            val cs = sco(j - l) + s.longValue()
            val cn = np(j - l) + 1
            if (sco(j) == NEG || cs > sco(j) ||
                (cs == sco(j) && (cn < np(j) ||
                  (cn == np(j) && l > pl(j))))) {
              sco(j) = cs; np(j) = cn; pl(j) = l
            }
          }
        }
        l += 1
      }
      j += 1
    }
    if (sco(n) == NEG) return charFallback(w)
    val out = new Array[Any](np(n).toInt)
    var pos = n
    var k = np(n).toInt - 1
    while (pos > 0) {
      out(k) = w.substringSQL(pos - pl(pos) + 1, pl(pos))
      pos -= pl(pos); k -= 1
    }
    new GenericArrayData(out)
  }
}

/** `ug_segment(word)` → ARRAY<STRING> — the Viterbi segmentation as ONE
  * codegen'd kernel call bound to a trained [[UgVocab]] (the
  * [[WpStats]]/[[PqEncode]] codebook-bound pattern). */
case class UgSegment(child: Expression, vocab: UgVocab)
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"ug_segment expects a STRING argument, got ${t.sql}")
  }

  override def dataType: DataType =
    ArrayType(StringType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "ug_segment"

  override def nullSafeEval(v: Any): Any =
    UgKernels.segment(v.asInstanceOf[UTF8String], vocab)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val b = ctx.addReferenceObj("ugVocab", vocab, classOf[UgVocab].getName)
      s"${ev.value} = graft.functions.UgKernels.segment($a, $b);"
    })

  override protected def withNewChildInternal(newChild: Expression): UgSegment =
    copy(child = newChild)
}

/** Registration + Column API — content-digest-tagged registered names
  * like [[WpFunctions]]/[[PqFunctions]], so two vocabularies bound in
  * one session can never collide. */
object UgFunctions {

  private def tag(vocab: UgVocab): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    vocab.pieces.foreach { case (p, lp) =>
      md.update(p.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      md.update(0.toByte)
      md.update(java.lang.Long.toHexString(lp)
        .getBytes(java.nio.charset.StandardCharsets.US_ASCII))
      md.update(0.toByte)
    }
    md.digest().take(8).map(b => f"$b%02x").mkString
  }

  /** Registers `ug_segment_<tag>` bound to exactly this vocabulary and
    * returns its Column builder. */
  def bind(spark: SparkSession, vocab: UgVocab): Column => Column = {
    val t = tag(vocab)
    graft.Session.registerIfAbsent(spark, s"ug_segment_$t",
      classOf[UgSegment], exprs => UgSegment(exprs.head, vocab))
    c => call_function(s"ug_segment_$t", c)
  }
}
