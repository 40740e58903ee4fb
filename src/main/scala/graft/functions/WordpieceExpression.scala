package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types.{DataType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** A trained WordPiece vocabulary: the piece set the greedy
  * longest-match segmenter probes. Pieces are held as [[UTF8String]] so
  * all matching runs in codepoint space — the same unit DuckDB's
  * `substr`/`length` count — and the set/maxLen are built once per
  * (executor, codebook) and shared by every row. */
case class WpVocab(pieces: Seq[String]) {
  @transient lazy val set: java.util.HashSet[UTF8String] = {
    val s = new java.util.HashSet[UTF8String](math.max(pieces.size * 2, 16))
    pieces.foreach(p => s.add(UTF8String.fromString(p)))
    s
  }
  @transient lazy val maxLen: Int =
    if (pieces.isEmpty) 1
    else pieces.iterator.map(p => UTF8String.fromString(p).numChars()).max
}

/** The WordPiece greedy longest-match-first segmenter (Schuster &
  * Nakajima 2012 — the published WordPiece INFERENCE rule): at each
  * position take the longest vocabulary piece that matches; when none
  * does, consume one character as an out-of-vocabulary token. Shared by
  * interpreted eval and generated code. */
object WpKernels {

  /** stats(word) → (n_tokens, n_oov_chars) under greedy longest match.
    * All offsets are CODEPOINTS ([[UTF8String.substringSQL]]), matching
    * the oracle's `substr`. */
  def stats(w: UTF8String, vocab: WpVocab): InternalRow = {
    val n = w.numChars()
    var pos = 1 // 1-based, the SQL convention
    var ntok = 0L
    var oov = 0L
    while (pos <= n) {
      var l = math.min(vocab.maxLen, n - pos + 1)
      var matched = 0
      while (l >= 1 && matched == 0) {
        if (vocab.set.contains(w.substringSQL(pos, l))) matched = l
        else l -= 1
      }
      if (matched == 0) { oov += 1; pos += 1 }
      else pos += matched
      ntok += 1
    }
    new GenericInternalRow(Array[Any](ntok, oov))
  }
}

/** `wp_stats(word)` → STRUCT<wp_tokens BIGINT, oov_chars BIGINT> — the
  * greedy segmentation's token and OOV-char counts as ONE codegen'd
  * kernel call bound to a trained [[WpVocab]] (the [[PqEncode]]
  * codebook-bound pattern: per-word work is a tight loop over a shared
  * hash set, never a join or a per-piece Column expression). */
case class WpStats(child: Expression, vocab: WpVocab)
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"wp_stats expects a STRING argument, got ${t.sql}")
  }

  override def dataType: DataType = StructType(Seq(
    StructField("wp_tokens", LongType, nullable = false),
    StructField("oov_chars", LongType, nullable = false)))
  override def nullable: Boolean = true
  override def prettyName: String = "wp_stats"

  override def nullSafeEval(v: Any): Any =
    WpKernels.stats(v.asInstanceOf[UTF8String], vocab)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val b = ctx.addReferenceObj("wpVocab", vocab, classOf[WpVocab].getName)
      s"${ev.value} = graft.functions.WpKernels.stats($a, $b);"
    })

  override protected def withNewChildInternal(newChild: Expression): WpStats =
    copy(child = newChild)
}

/** Registration + Column API. Like [[PqFunctions]], the registered name
  * carries a CONTENT-digest tag of the vocabulary, so two vocabularies
  * bound in one session can never collide or silently overwrite each
  * other's registration. */
object WpFunctions {

  private def tag(vocab: WpVocab): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    vocab.pieces.foreach { p =>
      md.update(p.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      md.update(0.toByte)
    }
    md.digest().take(8).map(b => f"$b%02x").mkString
  }

  /** Registers `wp_stats_<tag>` bound to exactly this vocabulary and
    * returns its Column builder. */
  def bind(spark: SparkSession, vocab: WpVocab): Column => Column = {
    val t = tag(vocab)
    graft.Session.registerIfAbsent(spark, s"wp_stats_$t", classOf[WpStats],
      exprs => WpStats(exprs.head, vocab))
    c => call_function(s"wp_stats_$t", c)
  }
}
