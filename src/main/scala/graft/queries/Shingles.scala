package graft.queries

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.IntegerType
import graft.functions.WordShingles

/** The single source of the word w-shingle definition shared by the
  * dedup family (distinct shingles for Jaccard/MinHash), the text
  * quality metrics (non-distinct for repetition rates), and the curation
  * suite (decontamination / leakage grams) — one place to fix means all
  * consumers stay in sync with each other and with the DuckDB oracles'
  * `list_transform(range(...))` replay.
  *
  * The windowing itself is the codegen'd [[graft.functions.WordShingles]]
  * expression (installed on the analyzing session if missing): the
  * composable `transform(sequence(...), i -> concat_ws(...))` it
  * replaced is an interpreted higher-order function — per-element lambda
  * dispatch on the hottest path of seven queries (measured before/after
  * in the round-6 commit). Documents with fewer than `w` tokens fall
  * back to one whole-text shingle, so the output is never empty; null
  * token arrays keep the old `when(...)` semantics (size(null) = -1
  * takes the fallback branch, yielding `[""]`).
  */
object Shingles {

  /** Registry builder for [[graft.plans.GraftExtensions.functions]]. */
  private[graft] val builder
      : Seq[org.apache.spark.sql.catalyst.expressions.Expression]
        => org.apache.spark.sql.catalyst.expressions.Expression = {
    case Seq(arr, Literal(v, IntegerType)) =>
      WordShingles(arr, v.asInstanceOf[Int])
    case _ => throw new IllegalArgumentException(
      "word_shingles(tokens, literal width)")
  }

  /** Callers pass the session that will ANALYZE the plan (the
    * [[graft.Session.install]] contract) — the thread-local
    * active session is the wrong one whenever plans are built for a
    * different/new session or off-thread. */
  def of(spark: SparkSession, t: Column, w: Int,
         distinct: Boolean = true): Column = {
    graft.Session.install(spark)
    val grams = when(size(t) >= w, call_function("word_shingles", t, lit(w)))
      .otherwise(array(concat_ws(" ", t)))
    if (distinct) array_distinct(grams) else grams
  }
}
