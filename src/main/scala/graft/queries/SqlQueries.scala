package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.functions.VectorFunctions
import graft.sources.Views

/** The SQL front door — the last surface an "engine" owes its users:
  * every testdata table registered as a temp view ([[Views]]), every
  * graft function session-registered (GraftExtensions / the explicit
  * registrars), and the operator library reachable through plain
  * `spark.sql`. Catalyst sees the same logical operators either way
  * (the Views scaladoc), so these entries carry their DataFrame twins'
  * DuckDB oracles VERBATIM — the correctness gate itself proves the
  * two surfaces agree, and SqlFrontDoorSpec additionally pins collected
  * row-identity twin-vs-twin in one session.
  *
  * Twins chosen to span the surface: a null-keeping filter (reference
  * parity), a broadcast-join top-k, exact dedup over the md5
  * fingerprint, an event-time rollup, sessionization (the window-
  * function witness: lag + running-sum numbering + grouped rollup),
  * brute-force ANN through the registered `cosine_sim` function — the
  * one entry the SQL surface could not express without the
  * custom-expression registry — span-removal dedup (the generator +
  * struct-collect witness), and the composed curation slice. */
object SqlQueries {

  private def sqlOver(q: String)(s: SparkSession, dir: String): DataFrame = {
    Views.registerTestdata(s, dir)
    graft.Session.install(s)
    s.sql(q)
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // q_filter_status through SQL: the null-keeping `<>` contract is
    // explicit in the predicate, exactly as Clean.neqKeepNull encodes it
    "q_sql_filter_status" -> (sqlOver(
      """SELECT o_orderkey, o_orderstatus FROM orders
        |WHERE o_orderstatus IS NULL OR o_orderstatus <> 'F'
        |ORDER BY o_orderkey""".stripMargin) _),

    // q_topk through SQL: the broadcast hint keeps the DataFrame twin's
    // plan (dimension broadcast, no shuffle join)
    "q_sql_topk" -> (sqlOver(
      """SELECT /*+ BROADCAST(nation) */ n_name, avg_acctbal FROM (
        |  SELECT c_nationkey,
        |    floor(avg(c_acctbal) * 100 + 0.5) / 100 AS avg_acctbal
        |  FROM customer GROUP BY c_nationkey) s
        |JOIN nation ON c_nationkey = n_nationkey
        |ORDER BY avg_acctbal DESC NULLS LAST, n_name LIMIT 5""".stripMargin) _),

    // q_dedup_exact through SQL: the Clean.fingerprint normalization
    // spelled out — the same md5 the oracle replays
    "q_sql_dedup_exact" -> (sqlOver(
      """SELECT fingerprint, min(doc_id) AS keep_doc_id,
        |  count(*) AS copy_count
        |FROM (SELECT doc_id,
        |        md5(regexp_replace(lower(trim(text)), '\\s+', ' '))
        |          AS fingerprint
        |      FROM documents)
        |GROUP BY fingerprint ORDER BY keep_doc_id""".stripMargin) _),

    // q_events_hourly through SQL (the events view carries Tables'
    // NANOS-timestamp normalization, so SQL users get the same
    // footer-probed reader as the DataFrame surface)
    "q_sql_events_hourly" -> (sqlOver(
      """SELECT date_trunc('hour', ts) AS hour_ts, event_type,
        |  count(*) AS event_count,
        |  count(DISTINCT user_id) AS user_count,
        |  floor(sum(value) * 100 + 0.5) / 100 AS total_value
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) _),

    // q_events_sessions through SQL — the surface's first WINDOW-
    // FUNCTION twin (lag + running-sum session numbering + grouped
    // rollup): extends the checked "two surfaces, one operator set"
    // claim from projections/aggregates into window territory. The
    // nested-query shape mirrors the DataFrame twin's withColumn
    // stacking exactly, so both surfaces optimize to one canonical
    // plan (SqlFrontDoorSpec pins it).
    "q_sql_events_sessions" -> (sqlOver(
      """SELECT user_id, session_seq,
        |  count(*) AS event_count,
        |  min(date_trunc('second', ts)) AS session_start,
        |  max(date_trunc('second', ts)) AS session_end,
        |  floor(sum(value) * 100 + 0.5) / 100 AS session_value
        |FROM (
        |  SELECT event_id, ts, user_id, value, is_new,
        |    sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS session_seq
        |  FROM (
        |    SELECT event_id, ts, user_id, value, sec, prev_sec,
        |      CASE WHEN prev_sec IS NULL OR sec - prev_sec > 1800 THEN 1L
        |           ELSE 0L END AS is_new
        |    FROM (
        |      SELECT event_id, ts, user_id, value, sec,
        |        lag(sec, 1) OVER (
        |          PARTITION BY user_id ORDER BY ts, event_id) AS prev_sec
        |      FROM (
        |        SELECT event_id, ts, user_id, value,
        |          unix_timestamp(date_trunc('second', ts)) AS sec
        |        FROM events))))
        |GROUP BY user_id, session_seq
        |ORDER BY user_id, session_seq""".stripMargin) _),

    // q_events_attrib through SQL: the stream-stream join family's
    // batch twin on its THIRD surface — the binned interval equi-join
    // (generator-expanded probe buckets + exact residual), the
    // left-outer null arm as NOT EXISTS, in one statement
    "q_sql_events_attrib" -> (sqlOver(
      """WITH ev AS (
        |  SELECT event_id, user_id, event_type, value,
        |    unix_timestamp(date_trunc('second', ts)) AS sec
        |  FROM events),
        |p AS (SELECT event_id AS purchase_id, user_id,
        |        sec AS purchase_sec, value AS revenue
        |      FROM ev WHERE event_type = 'purchase'),
        |v AS (SELECT event_id AS view_id, user_id AS v_user,
        |        sec AS view_sec
        |      FROM ev WHERE event_type = 'view'),
        |pb AS (SELECT purchase_id, user_id, purchase_sec, revenue,
        |         explode(array(
        |           CAST(floor(purchase_sec / 7200) AS BIGINT),
        |           CAST(floor(purchase_sec / 7200) AS BIGINT) - 1L))
        |           AS bin
        |       FROM p),
        |vb AS (SELECT view_id, v_user, view_sec,
        |         CAST(floor(view_sec / 7200) AS BIGINT) AS bin
        |       FROM v),
        |pairs AS (
        |  SELECT purchase_id, user_id, purchase_sec, revenue,
        |    view_id, view_sec, purchase_sec - view_sec AS delay_sec
        |  FROM pb JOIN vb ON pb.bin = vb.bin AND pb.user_id = vb.v_user
        |   AND vb.view_sec > pb.purchase_sec - 7200
        |   AND vb.view_sec <= pb.purchase_sec),
        |unmatched AS (
        |  SELECT purchase_id, user_id, purchase_sec, revenue,
        |    CAST(NULL AS BIGINT) AS view_id,
        |    CAST(NULL AS BIGINT) AS view_sec,
        |    CAST(NULL AS BIGINT) AS delay_sec
        |  FROM p WHERE NOT EXISTS
        |    (SELECT 1 FROM pairs WHERE pairs.purchase_id = p.purchase_id))
        |SELECT * FROM (SELECT * FROM pairs
        |               UNION ALL SELECT * FROM unmatched)
        |ORDER BY purchase_id, coalesce(view_id, -1L)""".stripMargin) _),

    // the FULL-outer attribution through SQL — the attrib twin plus the
    // symmetric view-side NOT-EXISTS arm, completing the outer family's
    // third surface (DataFrame / SQL / stream); shares
    // q_events_attrib_full's hard oracle verbatim
    "q_sql_events_attrib_full" -> (sqlOver(
      """WITH ev AS (
        |  SELECT event_id, user_id, event_type, value,
        |    unix_timestamp(date_trunc('second', ts)) AS sec
        |  FROM events),
        |p AS (SELECT event_id AS purchase_id, user_id,
        |        sec AS purchase_sec, value AS revenue
        |      FROM ev WHERE event_type = 'purchase'),
        |v AS (SELECT event_id AS view_id, user_id AS v_user,
        |        sec AS view_sec
        |      FROM ev WHERE event_type = 'view'),
        |pb AS (SELECT purchase_id, user_id, purchase_sec, revenue,
        |         explode(array(
        |           CAST(floor(purchase_sec / 7200) AS BIGINT),
        |           CAST(floor(purchase_sec / 7200) AS BIGINT) - 1L))
        |           AS bin
        |       FROM p),
        |vb AS (SELECT view_id, v_user, view_sec,
        |         CAST(floor(view_sec / 7200) AS BIGINT) AS bin
        |       FROM v),
        |pairs AS (
        |  SELECT purchase_id, user_id, purchase_sec, revenue,
        |    view_id, view_sec, purchase_sec - view_sec AS delay_sec
        |  FROM pb JOIN vb ON pb.bin = vb.bin AND pb.user_id = vb.v_user
        |   AND vb.view_sec > pb.purchase_sec - 7200
        |   AND vb.view_sec <= pb.purchase_sec),
        |unmatched_p AS (
        |  SELECT purchase_id, user_id, purchase_sec, revenue,
        |    CAST(NULL AS BIGINT) AS view_id,
        |    CAST(NULL AS BIGINT) AS view_sec,
        |    CAST(NULL AS BIGINT) AS delay_sec
        |  FROM p WHERE NOT EXISTS
        |    (SELECT 1 FROM pairs WHERE pairs.purchase_id = p.purchase_id)),
        |unmatched_v AS (
        |  SELECT CAST(NULL AS BIGINT) AS purchase_id, v_user AS user_id,
        |    CAST(NULL AS BIGINT) AS purchase_sec,
        |    CAST(NULL AS DOUBLE) AS revenue,
        |    view_id, view_sec,
        |    CAST(NULL AS BIGINT) AS delay_sec
        |  FROM v WHERE NOT EXISTS
        |    (SELECT 1 FROM pairs WHERE pairs.view_id = v.view_id))
        |SELECT * FROM (SELECT * FROM pairs
        |               UNION ALL SELECT * FROM unmatched_p
        |               UNION ALL SELECT * FROM unmatched_v)
        |ORDER BY coalesce(purchase_id, -1L), coalesce(view_id, -1L)""".stripMargin) _),

    // q_knn_brute through SQL via the registered codegen'd cosine_sim —
    // custom Catalyst expressions are first-class SQL functions here
    "q_sql_knn_brute" -> (sqlOver(
      """WITH vecs AS (
        |  SELECT vec_id, CAST(embedding AS ARRAY<DOUBLE>) AS v
        |  FROM embeddings),
        |scored AS (
        |  SELECT /*+ BROADCAST(p) */ p.vec_id AS query_id,
        |    c.vec_id AS neighbor_id,
        |    floor(cosine_sim(p.v, c.v) * 10000 + 0.5) / 10000 AS cosine
        |  FROM vecs c JOIN vecs p
        |    ON c.vec_id <> p.vec_id AND p.vec_id < 10),
        |ranked AS (
        |  SELECT query_id, neighbor_id, cosine,
        |    row_number() OVER (PARTITION BY query_id
        |      ORDER BY cosine DESC, neighbor_id) AS rank
        |  FROM scored)
        |SELECT query_id, rank, neighbor_id, cosine FROM ranked
        |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin) _),

    // q_dedup_span through SQL: the tiling LATERAL VIEW explode, the
    // corpus-wide first-wins aggregation, and the ordered-signature
    // collect — the surface's first GENERATOR + struct-collect twin,
    // proving the span-removal semantics need nothing outside plain
    // Spark SQL (the DataFrame twin's localCheckpoint is a measured
    // optimization, not semantics — one oracle checks both)
    "q_sql_dedup_span" -> (sqlOver(
      s"""WITH docs AS (
         |  SELECT doc_id, lang, source, split(trim(text), '\\\\s+') AS t
         |  FROM documents WHERE length(trim(text)) > 0),
         |tiles AS (
         |  SELECT doc_id, lang, source,
         |    CAST((s - 1) div 20 AS INT) AS idx,
         |    size(slice(t, s, 20)) AS tile_tokens,
         |    md5(concat_ws(' ', slice(t, s, 20))) AS tile_hash,
         |    doc_id * 2147483648L + CAST((s - 1) div 20 AS BIGINT)
         |      AS win_key
         |  FROM docs LATERAL VIEW explode(sequence(1, size(t), 20)) AS s),
         |winners AS (
         |  SELECT tile_hash, min(win_key) AS first_key
         |  FROM tiles GROUP BY tile_hash),
         |flagged AS (
         |  SELECT doc_id, lang, source, idx, tile_tokens, tile_hash,
         |    win_key = first_key AS kept
         |  FROM tiles JOIN winners USING (tile_hash))
         |SELECT doc_id, lang, source,
         |  count(*) AS n_tiles,
         |  sum(CASE WHEN kept THEN 1L ELSE 0L END) AS kept_tiles,
         |  sum(CASE WHEN NOT kept THEN 1L ELSE 0L END) AS removed_tiles,
         |  sum(CASE WHEN kept THEN CAST(tile_tokens AS BIGINT)
         |      ELSE 0L END) AS kept_tokens,
         |  sum(CASE WHEN NOT kept THEN CAST(tile_tokens AS BIGINT)
         |      ELSE 0L END) AS removed_tokens,
         |  md5(concat_ws(' ', transform(
         |    array_sort(collect_list(
         |      CASE WHEN kept THEN struct(idx, tile_hash) END)),
         |    x -> x.tile_hash))) AS cleaned_sig
         |FROM flagged GROUP BY doc_id, lang, source
         |ORDER BY doc_id""".stripMargin) _),

    // The COMPOSED flagship: a 3-stage curation slice — quality drop →
    // exact-dedup keep-first → per-lang top-5 — in ONE statement. The
    // six twins above each exercise one operator; this one proves the
    // surface COMPOSES: filters, the fingerprint group, the keep-set
    // join, and the ranking window stack in a single spark.sql exactly
    // as the q_curation_lite DataFrame lineage stacks them, and
    // SqlFrontDoorSpec pins the two canonicalized optimized plans EQUAL
    // — same logical operators from either surface, checked not claimed.
    "q_sql_curation_lite" -> (sqlOver(
      """WITH src AS (
        |  SELECT doc_id, lang, n_chars,
        |    md5(regexp_replace(lower(trim(text)), '\\s+', ' '))
        |      AS fingerprint
        |  FROM documents
        |  WHERE text IS NOT NULL AND length(trim(text)) > 0
        |    AND lang IS NOT NULL),
        |kept AS (SELECT min(doc_id) AS doc_id FROM src
        |         GROUP BY fingerprint),
        |ranked AS (
        |  SELECT s.lang, s.doc_id, s.n_chars,
        |    row_number() OVER (PARTITION BY s.lang
        |      ORDER BY s.n_chars DESC, s.doc_id) AS rank
        |  FROM src s JOIN kept USING (doc_id))
        |SELECT lang, rank, doc_id, n_chars FROM ranked
        |WHERE rank <= 5 ORDER BY lang, rank""".stripMargin) _))

  /** The DataFrame twins' oracles, verbatim: one oracle, two surfaces —
    * a hash mismatch on either would localize the divergence to the
    * surface, not the semantics. */
  def oracleSql: Map[String, String] = Map(
    "q_sql_filter_status" -> ParityQueries.oracleSql("q_filter_status"),
    "q_sql_topk" -> ParityQueries.oracleSql("q_topk"),
    "q_sql_dedup_exact" -> DedupQueries.oracleSql("q_dedup_exact"),
    "q_sql_events_hourly" -> EventQueries.oracleSql("q_events_hourly"),
    "q_sql_events_sessions" -> EventQueries.oracleSql("q_events_sessions"),
    "q_sql_events_attrib" -> EventQueries.oracleSql("q_events_attrib"),
    "q_sql_events_attrib_full" ->
      EventQueries.oracleSql("q_events_attrib_full"),
    "q_sql_knn_brute" -> SimilarityQueries.oracleSql("q_knn_brute"),
    "q_sql_dedup_span" -> TextQueries.oracleSql("q_dedup_span"),
    "q_sql_curation_lite" -> CurationQueries.curationLiteOracle)
}
