package graft.queries

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._

/** The Unicode-canonicalization stage for text pipelines — the
  * [[Shingles]] wrapper pattern over [[graft.functions.NfcNormalize]]:
  * installed on the analyzing session if missing, named exactly
  * like DuckDB's `nfc_normalize` so the oracle SQL and the Spark plan
  * read identically. Compose it AHEAD of [[graft.Clean.fingerprint]]
  * (or any shingle/simhash derivation) to make canonically-equivalent
  * texts — NFD vs NFC encodings of the same characters — collapse into
  * one dedup group; q_dedup_exact_nfc is the oracle-backed face and
  * NfcSpec pins the cross-engine fixture equivalence. */
object Nfc {

  /** NFC-normalize a string column. Callers pass the session that will
    * ANALYZE the plan (the [[Shingles.of]] contract). */
  def of(spark: SparkSession, c: Column): Column = {
    graft.Session.install(spark)
    call_function("nfc_normalize", c)
  }
}
