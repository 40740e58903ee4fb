package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.{Clean, Tables}

/** SURVEY.md §2 operator inventory, one named query per operator family,
  * expressed over the driver's TPC-H-ish testdata with a DuckDB oracle for
  * each (SURVEY.md §7.2 role mapping: nation≈departments, customer≈employees,
  * orders/lineitem≈facts).
  *
  * Conventions shared with the oracles:
  *  - deterministic ORDER BY on a unique key in every query (Catalyst's
  *    EliminateSorts removes it under Bench's `.count()`, so it costs
  *    nothing at benchmark time);
  *  - rounded doubles use [[Clean.roundHalfUp]]'s floor formula on BOTH
  *    sides — `round()`'s halfway tie-breaking differs between engines and
  *    money-like values hit exact `.xx5` halves routinely;
  *  - integer-typed derived columns are BIGINT on both sides (DuckDB
  *    `sum(int)` is HUGEINT — always cast in the SQL);
  *  - date-valued outputs stay day-truncated TIMESTAMPs (`date_trunc`) so
  *    both engines serialize the same logical type (testdata stores NTZ
  *    timestamps, session timezone UTC).
  */
object ParityQueries {

  /** Injected "today" for active-project-style predicates (reference
    * transform.py:122-124 used Timestamp.today(); see SURVEY.md §7.4). */
  private val AsOf = "2000-01-01"

  /** SQL integer division (`a div b`) as a Column — the layout queries'
    * range-bucket arithmetic must be EXACT integer division matching the
    * oracle's `//`, not `floor(double)`: for key ranges past ~2^45 a
    * quotient within half an ulp of an integer can floor differently
    * across engines and flip a bucket (r17 ADVICE). Operands here are
    * always non-negative with a positive divisor, where Spark's
    * truncate-toward-zero `div` and DuckDB's `//` agree exactly. */
  private def idiv(a: org.apache.spark.sql.Column,
      b: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    call_function("div", a, b)

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // S1/P1/P3: scan + narrow projection; pruning reaches the parquet reader.
    "q_scan_project" -> ((s, dir) => {
      Tables.table(s, dir, "lineitem")
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")
        // (l_orderkey, l_linenumber) is NOT unique in the testdata: order
        // by every output column so row order is total on both engines
        .orderBy("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")
    }),

    // F1/F2: null-keeping not-equal (pandas `!=` keeps NaN rows).
    "q_filter_status" -> ((s, dir) => {
      import s.implicits._
      Tables.table(s, dir, "orders")
        .filter(Clean.neqKeepNull($"o_orderstatus", "F"))
        .select("o_orderkey", "o_orderstatus")
        .orderBy("o_orderkey")
    }),

    // F3/F5: closed-range predicate.
    "q_filter_range" -> ((s, dir) => {
      import s.implicits._
      Tables.table(s, dir, "lineitem")
        .filter(Clean.between($"l_discount", 0.02, 0.04))
        .select("l_orderkey", "l_linenumber", "l_discount")
        .orderBy("l_orderkey", "l_linenumber", "l_discount")
    }),

    // F6/F7: null-OR-predicate ("still active as of date").
    "q_filter_null_or" -> ((s, dir) => {
      import s.implicits._
      Tables.table(s, dir, "orders")
        .filter(Clean.nullOr($"o_orderdate", _ > lit(AsOf).cast("timestamp_ntz")))
        .select($"o_orderkey", date_trunc("day", $"o_orderdate").as("order_date"))
        .orderBy("o_orderkey")
    }),

    // E5/E7: bucket CASE (null falls to top bucket like the pandas lambda).
    "q_derive_case" -> ((s, dir) => {
      import s.implicits._
      Tables.table(s, dir, "customer")
        .select($"c_custkey", $"c_acctbal",
          Clean.bucket3($"c_acctbal", 1000.0, 5000.0).as("acctbal_bucket"))
        .orderBy("c_custkey")
    }),

    // E2/E4: date parse + datediff + fractional-year round.
    "q_derive_dates" -> ((s, dir) => {
      import s.implicits._
      val asOf = lit("2002-01-01").cast("date")
      Tables.table(s, dir, "lineitem")
        .select($"l_orderkey", $"l_linenumber",
          date_trunc("day", $"l_shipdate").as("ship_date"),
          datediff(asOf, to_date($"l_shipdate")).as("days_since_ship"),
          Clean.tenureYears(to_date($"l_shipdate"), asOf).as("years_since_ship"))
        .orderBy("l_orderkey", "l_linenumber", "ship_date")
    }),

    // E8/E9: duration + guarded divide (ANSI-safe CASE).
    "q_derive_cond_div" -> ((s, dir) => {
      import s.implicits._
      val asOf = lit("2002-01-01").cast("date")
      Tables.table(s, dir, "orders")
        .select($"o_orderkey", $"o_totalprice",
          datediff(asOf, to_date($"o_orderdate")).as("age_days"))
        .select($"o_orderkey", $"age_days",
          Clean.guardedDiv($"o_totalprice", $"age_days", 2).as("daily_value"))
        .orderBy("o_orderkey")
    }),

    // E1/E3/E6: enum->int map, null-safe equality flag, FK sentinel.
    "q_derive_map" -> ((s, dir) => {
      import s.implicits._
      Tables.table(s, dir, "customer")
        .select($"c_custkey",
          when($"c_mktsegment" === "BUILDING", 1)
            .when($"c_mktsegment" === "AUTOMOBILE", 0).as("segment_flag"),
          Clean.eqFlag($"c_custkey" % 25, $"c_nationkey".cast("long")).as("key_match"),
          coalesce(when($"c_nationkey" =!= 0, $"c_nationkey"), lit(-1)).as("nation_sentinel"))
        .orderBy("c_custkey")
    }),

    // E10: title-casing (reference str.title(); Spark initcap).
    "q_initcap" -> ((s, dir) => {
      import s.implicits._
      Tables.table(s, dir, "nation")
        .select($"n_nationkey", initcap(lower($"n_name")).as("nation_title"))
        .orderBy("n_nationkey")
    }),

    // D1: full-row dedup.
    "q_dedup_full" -> ((s, dir) => {
      Tables.table(s, dir, "part")
        .select("p_brand", "p_type")
        .dropDuplicates()
        .orderBy("p_brand", "p_type")
    }),

    // D2: keyed keep-first-after-sort dedup. (l_orderkey, l_linenumber) is
    // NOT unique in the synthetic testdata, so the ordering lists every
    // remaining column — a total order up to exact duplicate rows, which
    // are interchangeable. Keep-first under a total ASC order IS
    // min(struct(sort cols)) — Spark structs compare field-by-field in
    // declaration order — and the aggregate form partial-combines
    // map-side: each input task reduces its split to one candidate row
    // per key before the exchange, where the row_number window it
    // replaces had to shuffle and SORT the entire table (measured 1.1s ->
    // 0.3s at sf0.1; at 100 TB the difference is the whole job). The
    // oracle keeps the row_number formulation, pinning the equivalence.
    "q_dedup_keyed" -> ((s, dir) => {
      import s.implicits._
      val sortKey = struct($"l_shipdate", $"l_linenumber", $"l_quantity",
        $"l_extendedprice", $"l_discount", $"l_tax", $"l_partkey",
        $"l_suppkey", $"l_returnflag", $"l_linestatus")
      Tables.table(s, dir, "lineitem")
        .groupBy($"l_orderkey")
        .agg(min(sortKey).as("first"))
        .select($"l_orderkey", $"first.l_linenumber".as("l_linenumber"),
          date_trunc("day", $"first.l_shipdate").as("first_ship_date"),
          $"first.l_quantity".as("l_quantity"))
        .orderBy("l_orderkey")
    }),

    // J3 + E11: left equi-join enrich with broadcast dim + Unknown fill.
    "q_join_left_enrich" -> ((s, dir) => {
      import s.implicits._
      val nation = Tables.table(s, dir, "nation")
      Tables.table(s, dir, "customer")
        .join(broadcast(nation), $"c_nationkey" === $"n_nationkey", "left")
        .select($"c_custkey",
          Clean.fillNull($"n_name", "Unknown").as("nation_name"), $"c_acctbal")
        .orderBy("c_custkey")
    }),

    // J1/J4 + E12: dim left-joined to aggregated stats, null-filled.
    "q_join_agg_enrich" -> ((s, dir) => {
      import s.implicits._
      val stats = Tables.table(s, dir, "customer")
        .groupBy($"c_nationkey")
        .agg(count($"c_custkey").as("customer_count"),
          Clean.roundHalfUp(avg($"c_acctbal"), 2).as("avg_acctbal"))
      Tables.table(s, dir, "nation")
        .join(broadcast(stats), $"n_nationkey" === $"c_nationkey", "left")
        .select($"n_nationkey", $"n_name",
          Clean.fillNull($"customer_count", 0L).cast("long").as("customer_count"),
          Clean.fillNull($"avg_acctbal", 0.0).as("avg_acctbal"))
        .orderBy("n_nationkey")
    }),

    // J6/F8: referential-integrity anti-join count (sentinel -1 excluded).
    "q_anti_fk" -> ((s, dir) => {
      import s.implicits._
      val customer = Tables.table(s, dir, "customer").select($"c_custkey")
      Tables.table(s, dir, "orders")
        .filter($"o_custkey".isNotNull && $"o_custkey" =!= -1)
        .select($"o_custkey").distinct()
        .join(broadcast(customer), $"o_custkey" === $"c_custkey", "left_anti")
        .agg(count(lit(1)).as("invalid_fk_count"))
    }),

    // A1/A2 + J1/J2 composite: the dept-summary mart analog (flagship;
    // reference transform.py:96-147). Fact side pre-aggregates before the
    // dim join; both stat sides broadcast.
    "q_agg_dept_summary" -> ((s, dir) => {
      import s.implicits._
      val custStats = Tables.table(s, dir, "customer")
        .groupBy($"c_nationkey".as("nationkey"))
        .agg(count($"c_custkey").as("total_customers"),
          Clean.roundHalfUp(avg($"c_acctbal"), 2).as("avg_acctbal"))
      val activeOrderStats = Tables.table(s, dir, "orders")
        .filter(Clean.nullOr($"o_orderdate", _ > lit(AsOf).cast("timestamp_ntz")))
        .join(Tables.table(s, dir, "customer").select($"c_custkey", $"c_nationkey"),
          $"o_custkey" === $"c_custkey")
        .groupBy($"c_nationkey".as("nationkey"))
        .agg(count($"o_orderkey").as("active_orders"),
          Clean.roundHalfUp(sum($"o_totalprice"), 2).as("active_order_value"))
      Tables.table(s, dir, "nation")
        .join(broadcast(custStats), $"n_nationkey" === custStats("nationkey"), "left")
        .drop("nationkey")
        .join(broadcast(activeOrderStats), $"n_nationkey" === activeOrderStats("nationkey"), "left")
        .select($"n_nationkey", $"n_name",
          Clean.fillNull($"total_customers", 0L).cast("long").as("total_customers"),
          Clean.fillNull($"avg_acctbal", 0.0).as("avg_acctbal"),
          Clean.fillNull($"active_orders", 0L).cast("long").as("active_orders"),
          Clean.fillNull($"active_order_value", 0.0).as("active_order_value"))
        .orderBy("n_nationkey")
    }),

    // A3: order-dependent `last` as max_by over a unique (date, key) struct.
    "q_agg_last_maxby" -> ((s, dir) => {
      import s.implicits._
      Tables.table(s, dir, "orders")
        .groupBy($"o_custkey")
        .agg(Clean.roundHalfUp(avg($"o_totalprice"), 2).as("avg_price"),
          count($"o_orderkey").as("order_count"),
          max_by($"o_totalprice", struct($"o_orderdate", $"o_orderkey")).as("latest_price"),
          max(date_trunc("day", $"o_orderdate")).as("latest_order_date"))
        .orderBy("o_custkey")
    }),

    // A4: distinct-count + plain aggregates.
    "q_agg_distinct" -> ((s, dir) => {
      import s.implicits._
      Tables.table(s, dir, "lineitem")
        .groupBy($"l_partkey")
        .agg(countDistinct($"l_suppkey").as("supplier_count"),
          Clean.roundHalfUp(sum($"l_quantity"), 1).as("total_qty"),
          Clean.roundHalfUp(avg($"l_quantity"), 1).as("avg_qty"))
        .orderBy("l_partkey")
    }),

    // A6: grouped-transform `last` broadcast to every row = unbounded-frame
    // window analytic (reference transform.py:51-52).
    "q_window_last" -> ((s, dir) => {
      import s.implicits._
      val w = Window.partitionBy($"l_orderkey")
        .orderBy($"l_shipdate", $"l_linenumber", $"l_quantity",
          $"l_extendedprice", $"l_discount", $"l_tax", $"l_partkey",
          $"l_suppkey", $"l_returnflag", $"l_linestatus")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      Tables.table(s, dir, "lineitem")
        .select($"l_orderkey", $"l_linenumber", $"l_extendedprice",
          last($"l_extendedprice").over(w).as("latest_price"))
        .orderBy("l_orderkey", "l_linenumber", "l_extendedprice")
    }),

    // T2-T5: top-k with deterministic tiebreak.
    "q_topk" -> ((s, dir) => {
      import s.implicits._
      val nation = Tables.table(s, dir, "nation")
      Tables.table(s, dir, "customer")
        .groupBy($"c_nationkey")
        .agg(Clean.roundHalfUp(avg($"c_acctbal"), 2).as("avg_acctbal"))
        .join(broadcast(nation), $"c_nationkey" === $"n_nationkey")
        .select($"n_name", $"avg_acctbal")
        .orderBy($"avg_acctbal".desc_nulls_last, $"n_name")
        .limit(5)
    }),

    // A7: completeness existence aggregates (null PK / dup PK / null FK).
    "q_dq_completeness" -> ((s, dir) => {
      import s.implicits._
      Tables.table(s, dir, "orders")
        .agg(count(lit(1)).as("total_rows"),
          sum(when($"o_custkey".isNull, 1L).otherwise(0L)).as("null_fk_rows"),
          (count($"o_orderkey") - countDistinct($"o_orderkey")).as("duplicate_pk_rows"))
    }),

    // A8/F9/F10: accuracy-violation counts (enum membership + conditional).
    "q_dq_accuracy" -> ((s, dir) => {
      import s.implicits._
      Tables.table(s, dir, "orders")
        .agg(
          sum(when(!$"o_orderstatus".isin("O", "F", "P"), 1L).otherwise(0L))
            .as("invalid_status_rows"),
          sum(when($"o_orderstatus" === "O" && $"o_totalprice" <= 0, 1L).otherwise(0L))
            .as("nonpositive_open_rows"))
    }),

    // Approximate distinct counts (HyperLogLog++): the constant-memory
    // path for distinct cardinality at 100 TB. No SQL oracle — sketch
    // implementations differ across engines; PlanSpec pins the relative
    // error against exact countDistinct instead.
    "q_agg_approx_distinct" -> ((s, dir) => {
      import s.implicits._
      Tables.table(s, dir, "lineitem")
        .groupBy($"l_returnflag")
        .agg(approx_count_distinct($"l_orderkey", rsd = 0.02).as("approx_orders"),
          approx_count_distinct($"l_partkey", rsd = 0.02).as("approx_parts"))
        .orderBy("l_returnflag")
    }),

    // Exact interpolated quantiles per group (both engines use linear
    // interpolation at (n-1)*p over the sorted values, so doubles match).
    "q_agg_quantiles" -> ((s, dir) => {
      import s.implicits._
      Tables.table(s, dir, "lineitem")
        .groupBy($"l_returnflag")
        .agg(expr("percentile(l_quantity, 0.25)").as("qty_p25"),
          expr("percentile(l_quantity, 0.5)").as("qty_median"),
          expr("percentile(l_quantity, 0.75)").as("qty_p75"),
          Clean.roundHalfUp(expr("percentile(l_extendedprice, 0.5)"), 2)
            .as("price_median"))
        .orderBy("l_returnflag")
    }),

    // Approximate percentiles (Greenwald-Khanna sketch): the
    // constant-memory quantile path at 100 TB, where exact percentile's
    // per-group value buffer is unbounded. accuracy=10000 bounds the RANK
    // error at n/10000. (No SQL oracle — DuckDB's approx_quantile is a
    // t-digest, a different sketch; PlanSpec pins the rank-error bound
    // against exact percentile instead, the same treatment as the HLL
    // approx-distinct query.)
    "q_agg_approx_quantiles" -> ((s, dir) => {
      import s.implicits._
      Tables.table(s, dir, "lineitem")
        .groupBy($"l_returnflag")
        .agg(expr("approx_percentile(l_quantity, 0.5, 10000)")
            .as("qty_median_approx"),
          expr("approx_percentile(l_extendedprice, 0.5, 10000)")
            .as("price_median_approx"))
        .orderBy("l_returnflag")
    }),

    // Hierarchical subtotals: ROLLUP over region -> nation with a grand
    // total row; subtotal key levels are null on both engines.
    "q_agg_rollup" -> ((s, dir) => {
      import s.implicits._
      val nation = Tables.table(s, dir, "nation")
      val region = Tables.table(s, dir, "region")
      Tables.table(s, dir, "customer")
        .join(broadcast(nation), $"c_nationkey" === $"n_nationkey")
        .join(broadcast(region), $"n_regionkey" === $"r_regionkey")
        .rollup($"r_name", $"n_name")
        .agg(count(lit(1)).as("customer_count"),
          Clean.roundHalfUp(sum($"c_acctbal"), 2).as("total_acctbal"))
        .orderBy($"r_name".asc_nulls_first, $"n_name".asc_nulls_first)
    }),

    // Cube: all four grouping combinations of (status, priority) in one
    // pass — the full-lattice sibling of q_agg_rollup's hierarchy. Spark
    // expands the lattice BELOW the partial aggregate, so each combination
    // still map-side combines before the single shuffle.
    "q_agg_cube" -> ((s, dir) => {
      import s.implicits._
      Tables.table(s, dir, "orders")
        .cube($"o_orderstatus", $"o_orderpriority")
        .agg(count(lit(1)).as("order_count"),
          Clean.roundHalfUp(sum($"o_totalprice"), 2).as("total_price"))
        .orderBy($"o_orderstatus".asc_nulls_first,
          $"o_orderpriority".asc_nulls_first)
    }),

    // Skew-salted aggregation (operators/Skew.scala) surfaced as a query:
    // two-phase (key, salt) pre-aggregation whose merged result is
    // provably the plain groupBy — which is exactly what the oracle
    // checks. The salt spreads one hostile hot key over 16 reducers; the
    // phase-2 shuffle carries at most |keys|x16 partial rows.
    "q_agg_salted" -> ((s, dir) => {
      import s.implicits._
      graft.operators.Skew
        .saltedCountSum(Tables.table(s, dir, "events"),
          $"event_type", $"event_id", $"value")
        .select($"key".as("event_type"), $"cnt".as("event_count"),
          Clean.roundHalfUp($"total", 2).as("total_value"))
        .orderBy("event_type")
    }),

    // Bounded-state per-group top-k values via the custom TopKLongs
    // aggregate (graft.functions): k-element heap per group however hot
    // the key — where the composable collect_list formulation buffers
    // the whole group (executor OOM on a 100 TB hot key) — and it
    // partial-aggregates map-side, so each scan task contributes at most
    // k values per group to the exchange. Exploded to (lang, rk, value)
    // rows; the oracle replays it as a rank window over the raw table.
    "q_agg_topk_bounded" -> ((s, dir) => {
      import s.implicits._
      graft.Session.install(s)
      Tables.table(s, dir, "documents")
        .groupBy($"lang")
        .agg(graft.functions.TopKFunctions.topkLongs($"n_chars", 5)
          .as("top_chars"))
        .select($"lang", posexplode($"top_chars"))
        .toDF("lang", "pos", "n_chars")
        .select($"lang", ($"pos" + 1).cast("int").as("rk"), $"n_chars")
        .orderBy("lang", "rk")
    }),

    // Z-order (Morton) layout index over (o_custkey, o_orderdate) — the
    // multi-dimensional clustering key a 100 TB lake sorts files by so
    // parquet min/max stats prune on BOTH dimensions (a single-column
    // sort gives locality on one dim and destroys it on the other; bit
    // interleaving bounds the spread on each). The write path is
    // repartitionByRange(z) + sortWithinPartitions(z) (sources/Layout
    // owns physical layout); this query is the index computation plus
    // the per-tile locality report that PROVES the clustering: each
    // 16-z-value tile's min/max span on both raw dimensions. Plan: one
    // scalar aggregate broadcast back onto the scan (1-row build side),
    // then the z value is pure codegen'd bit arithmetic — bx/by are
    // 8-bit range-normalized buckets, z interleaves them into 16 bits.
    // Integer DIV and bit shifts replay exactly in DuckDB.
    "q_layout_zorder" -> ((s, dir) => {
      import s.implicits._
      val o = Tables.table(s, dir, "orders")
        .select($"o_orderkey", $"o_custkey",
          datediff(to_date($"o_orderdate"),
            lit("1992-01-01").cast("date")).as("day"))
      val stats = o.agg(
        min($"o_custkey").as("min_c"), max($"o_custkey").as("max_c"),
        min($"day").as("min_d"), max($"day").as("max_d"))
      val bucketed = o.join(broadcast(stats))
        .select($"o_custkey", $"day",
          idiv(($"o_custkey" - $"min_c") * 256L, $"max_c" - $"min_c" + 1L)
            .as("bx"),
          idiv(($"day" - $"min_d") * 256L, $"max_d" - $"min_d" + 1L)
            .as("by"))
      val z = (0 until 8).map { i =>
        shiftleft(shiftright($"bx", i).bitwiseAND(1L), 2 * i) +
          shiftleft(shiftright($"by", i).bitwiseAND(1L), 2 * i + 1)
      }.reduce(_ + _)
      bucketed
        .select($"o_custkey", $"day", (z / 16).cast("long").as("z_tile"))
        .groupBy($"z_tile")
        .agg(count(lit(1)).as("rows"),
          min($"o_custkey").as("min_custkey"),
          max($"o_custkey").as("max_custkey"),
          min($"day").as("min_day"), max($"day").as("max_day"))
        .orderBy("z_tile")
    }),

    // Hilbert-curve layout index over the same (o_custkey, o_orderdate)
    // bucket pair as q_layout_zorder — the layout family's second curve.
    // The Morton curve's bit interleave has "seams": consecutive z
    // values can jump across the whole key space (z=0x0FFF→0x1000 walks
    // from one quadrant corner to another), so a z tile occasionally
    // spans a huge raw range on one dimension and its parquet min/max
    // stat prunes nothing. The Hilbert curve is the space-filling curve
    // WITHOUT seams — consecutive d values are always grid-adjacent
    // cells (HilbertSpec proves bijectivity + unit-step adjacency over
    // the full 256×256 grid) — so per-tile spans are uniformly tight and
    // files sorted by d prune better on BOTH dimensions. Same tile
    // report as the z query, directly comparable.
    //
    // Plan: the same 1-row stats broadcast, then d is ONE codegen'd
    // kernel call ([[graft.functions.HilbertD2]] — unrolling the 8
    // rotate rounds as Column CASEs would triple the expression tree per
    // round and risk the janino fallback). Hard oracle: the rotate loop
    // unrolled as 8 chained integer CTEs.
    "q_layout_hilbert" -> ((s, dir) => {
      import s.implicits._
      graft.Session.install(s)
      val o = Tables.table(s, dir, "orders")
        .select($"o_orderkey", $"o_custkey",
          datediff(to_date($"o_orderdate"),
            lit("1992-01-01").cast("date")).as("day"))
      val stats = o.agg(
        min($"o_custkey").as("min_c"), max($"o_custkey").as("max_c"),
        min($"day").as("min_d"), max($"day").as("max_d"))
      val bucketed = o.join(broadcast(stats))
        .select($"o_custkey", $"day",
          idiv(($"o_custkey" - $"min_c") * 256L, $"max_c" - $"min_c" + 1L)
            .as("bx"),
          idiv(($"day" - $"min_d") * 256L, $"max_d" - $"min_d" + 1L)
            .as("by"))
      bucketed
        .select($"o_custkey", $"day",
          (graft.functions.HilbertFunctions.hilbertD2($"bx", $"by") / 16)
            .cast("long").as("h_tile"))
        .groupBy($"h_tile")
        .agg(count(lit(1)).as("rows"),
          min($"o_custkey").as("min_custkey"),
          max($"o_custkey").as("max_custkey"),
          min($"day").as("min_day"), max($"day").as("max_day"))
        .orderBy("h_tile")
    }),

    // Column profiling — the DQ suite's fourth face (after completeness /
    // accuracy / referential): per-column row, null, and distinct counts
    // over customer in ONE scan. All profile aggregates compute in a
    // single aggregation row (count + count(col) + countDistinct per
    // column), then unpivot to rows via stack — no per-column rescans.
    "q_dq_profile" -> ((s, dir) => {
      import s.implicits._
      val cols = Seq("c_custkey", "c_name", "c_nationkey", "c_acctbal",
        "c_mktsegment")
      val aggs = cols.flatMap(c => Seq(
        count(col(c)).as(s"nn_$c"), countDistinct(col(c)).as(s"d_$c")))
      val stackExpr = cols.map(c => s"'$c', nn_$c, d_$c").mkString(", ")
      val allAggs = count(lit(1)).as("n_rows") +: aggs
      Tables.table(s, dir, "customer")
        .agg(allAggs.head, allAggs.tail: _*)
        .select($"n_rows", expr(
          s"stack(${cols.length}, $stackExpr) AS (column_name, non_null_count, distinct_count)"))
        .select($"column_name", $"n_rows",
          $"non_null_count",
          ($"n_rows" - $"non_null_count").as("null_count"),
          $"distinct_count")
        .orderBy("column_name")
    }),

    // Running totals: per-user cumulative event value over an explicit
    // ROWS frame — the §2.8 window family beyond lag/last/row_number.
    // The frame order is a TOTAL order ((ts, event_id) — ts alone has
    // duplicates), so the sequential in-frame summation is deterministic
    // and bit-identical in any engine despite being floating-point.
    "q_window_running" -> ((s, dir) => {
      import s.implicits._
      // second-truncated ts (the events-suite convention: nanos don't
      // survive the cross-engine timestamp normalization); event_id
      // restores the total order the frame needs
      val w = Window.partitionBy($"user_id")
        .orderBy($"sec", $"event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.table(s, dir, "events")
        .filter($"event_type" === "purchase")
        .withColumn("sec", date_trunc("second", $"ts"))
        .select($"user_id", $"event_id", $"sec",
          Clean.roundHalfUp(sum($"value").over(w), 2)
            .as("running_value"),
          count(lit(1)).over(w).as("running_count"))
        .orderBy("user_id", "sec", "event_id")
    }),

    // Keyed MERGE surfaced as a query: split the per-user event profile
    // by event_id parity, then upsert the odd-half profile into the
    // even-half one — users in both halves take the update row, even-only
    // users survive, odd-only users insert. The oracle spells out the
    // FULL OUTER + CASE the merge lowers to; operators/Upsert owns the
    // combinator (marker-based null-out, versioning, tombstones are
    // spec-tested in UpsertSpec).
    "q_merge_upsert" -> ((s, dir) => {
      import s.implicits._
      val ev = Tables.table(s, dir, "events")
      def profile(p: org.apache.spark.sql.Column) = ev.filter(p)
        .groupBy($"user_id")
        .agg(count(lit(1)).as("n_events"),
          Clean.roundHalfUp(sum($"value"), 2).as("total_value"))
      graft.operators.Upsert.upsert(
        profile($"event_id" % 2 === 0),
        profile($"event_id" % 2 === 1),
        Seq("user_id"))
        .orderBy("user_id")
    }),

    // Pivot: event types to columns via conditional aggregation (the
    // oracle spells out the CASE sums the pivot lowers to).
    "q_pivot_events" -> ((s, dir) => {
      import s.implicits._
      Tables.table(s, dir, "events")
        .groupBy($"user_id")
        .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
        .agg(count(lit(1)))
        .na.fill(0L)
        .orderBy("user_id")
    }),

    // S3: per-table volume stats from parquet FOOTER metadata. A count(*)
    // that scans data pages does distributed row-iteration for an answer
    // the storage layer already wrote down: even as a single tagged-union
    // job (tried first for r4 VERDICT #8) the 7 scans cost ~0.65s of
    // tiny-task scheduling at sf0.1. Instead: list each table's files
    // (driver-side, as Spark's own FileIndex does), read the footers'
    // record counts in a distributed map over the file list — at 100 TB
    // with millions of files that job parallelizes over files and moves
    // only (table, count) pairs — and sum per table.
    "q_volume_counts" -> ((s, dir) => {
      import s.implicits._
      val names = Seq("customer", "lineitem", "nation", "orders", "part",
        "region", "supplier")
      val hconf = s.sparkContext.hadoopConfiguration
      val files: Seq[(String, String)] = names.flatMap { n =>
        val p = new org.apache.hadoop.fs.Path(s"$dir/$n.parquet")
        val fs = p.getFileSystem(hconf)
        val st = fs.getFileStatus(p)
        val parts =
          if (st.isDirectory)
            fs.listStatus(p).toSeq
              .filter(_.getPath.getName.endsWith(".parquet"))
          else Seq(st)
        parts.map(f => n -> f.getPath.toString)
      }
      files.toDF("table_name", "path")
        .as[(String, String)]
        .mapPartitions { it =>
          // executor-side footer reads; a fresh Configuration suffices
          // for the schemes in play (file/hdfs defaults) — the driver's
          // Hadoop conf is not serializable to ship here
          val conf = new org.apache.hadoop.conf.Configuration()
          it.map { case (n, path) =>
            val in = org.apache.parquet.hadoop.util.HadoopInputFile
              .fromPath(new org.apache.hadoop.fs.Path(path), conf)
            val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
            try (n, r.getRecordCount) finally r.close()
          }
        }
        .toDF("table_name", "cnt")
        .groupBy($"table_name")
        .agg(sum($"cnt").as("row_count"))
        .orderBy("table_name")
    }),

    // JSONL ingest face: documents serialized to JSON-lines text and read
    // back through the schema'd PERMISSIVE json reader — the third source
    // format next to parquet/CSV, and the interchange format most raw
    // text-corpus drops actually arrive in. The oracle never touches the
    // staged file: it is a plain SELECT over the parquet table, so the
    // hash-match proves WRITE→READ IDENTITY (escaping round-trips
    // newlines/quotes/unicode inside text; ignoreNullFields drops null
    // fields on write and PERMISSIVE restores them as nulls on read).
    // Corrupt-line tolerance is pinned separately in JsonlSourceSpec —
    // injecting corruption here would break the identity by design.
    "q_scan_jsonl" -> ((s, dir) => {
      import s.implicits._
      // staging path keyed by INPUT dir AND by JVM: the input-dir hash
      // stops concurrent invocations on different inputs (QuerySmokeSpec
      // at sf0.001 races EmptyInputSpec under sbt's parallel suite
      // execution) from overwriting each other; the pid discriminator
      // stops two JVMs on the SAME input (parallel CI shards, a Verify
      // run overlapping a Bench run) from overwriting a stage mid-read —
      // within one JVM same-input invocations are sequential (Verify/
      // Bench run queries one at a time). The pid key means the dir
      // name never repeats across JVMs, so each process must remove its
      // own stages on exit (deleteOnExit below) — without that, every
      // CI/test JVM would orphan one corpus dump in tmp forever.
      val pid = java.lang.ProcessHandle.current().pid()
      val tmpDir = new java.io.File(sys.props("java.io.tmpdir"))
      // deleteOnExit never runs on SIGKILL/OOM: a killed JVM orphans its
      // pid-keyed stage forever. Best-effort-prune dead siblings here —
      // the pid embedded in the name makes "owner is gone" checkable, so
      // each healthy run garbage-collects the crashed ones' leavings.
      val StageName = raw"graft_jsonl_stage_(\d+)_[0-9a-f]+".r
      // each per-file prune rides inside a Try: /tmp is world-writable,
      // so a crafted or garbage sibling name (>19-digit "pid" overflowing
      // toLong, pid 0 rejected by ProcessHandle.of) must never escalate
      // from "unprunable litter" to failing the query itself
      Option(tmpDir.listFiles()).foreach(_.foreach { f =>
        scala.util.Try {
          f.getName match {
            case StageName(p) if p.toLong != pid &&
                !java.lang.ProcessHandle.of(p.toLong)
                  .map[Boolean](_.isAlive).orElse(false) =>
              def rm(g: java.io.File): Unit = {
                Option(g.listFiles()).foreach(_.foreach(rm)); g.delete()
              }
              rm(f)
            case _ => ()
          }
        }
      })
      val stageFile = new java.io.File(tmpDir,
        "graft_jsonl_stage_" + pid + "_" +
          java.security.MessageDigest.getInstance("MD5")
          .digest(dir.getBytes("UTF-8")).take(4).map("%02x".format(_))
          .mkString)
      val stage = stageFile.getAbsolutePath
      Tables.table(s, dir, "documents")
        .select(to_json(struct($"doc_id", $"text", $"lang", $"source",
          $"n_chars")).as("value"))
        .write.mode("overwrite").text(stage)
      // deleteOnExit runs in reverse registration order: dir first,
      // then its contents — registering parent-before-children makes
      // the children delete first, leaving the dir empty for its turn
      def registerCleanup(f: java.io.File): Unit = {
        f.deleteOnExit()
        Option(f.listFiles()).foreach(_.foreach(registerCleanup))
      }
      registerCleanup(stageFile)
      s.read.schema(graft.streaming.DocStream.docSchema).json(stage)
        .select($"doc_id", $"text", $"lang", $"source", $"n_chars")
        .orderBy("doc_id")
    }),

    // SCD2 history maintenance surfaced as a query (etl/Scd2 owns the
    // full-outer + hash-compare combinator; Scd2Spec pins close/append/
    // delete semantics). One snapshot of customer is initialized as
    // history, then a deterministic update batch is applied:
    //   - custkey % 3 == 0: acctbal bumped +100 -> close + new version
    //   - custkey % 3 == 1: identical row resubmitted -> untouched (the
    //     hash compare must NOT churn a version for a no-op update)
    //   - custkey % 100 == 0: re-keyed +10M -> brand-new key, appended
    // The oracle derives the same history DIRECTLY by case analysis
    // (changed iff %3==0 and acctbal non-null — a null bumps to null,
    // which the tracked-column hash treats as unchanged), so a green
    // hash-match is an independent proof of the merge lowering, not a
    // replay of it. Dates surface as day-truncated timestamps (the
    // cross-engine date convention suite-wide).
    "q_scd2_history" -> ((s, dir) => {
      import s.implicits._
      val dim = Tables.table(s, dir, "customer")
        .select($"c_custkey", $"c_name", $"c_nationkey", $"c_acctbal",
          $"c_mktsegment")
      val t0 = java.sql.Date.valueOf("2026-01-01")
      val t1 = java.sql.Date.valueOf("2026-06-01")
      val history = graft.etl.Scd2.init(dim, t0)
      val updates = dim.filter($"c_custkey" % 3 === 0)
        .withColumn("c_acctbal", $"c_acctbal" + 100.0)
        .unionByName(dim.filter($"c_custkey" % 3 === 1))
        .unionByName(dim.filter($"c_custkey" % 100 === 0)
          .withColumn("c_custkey", $"c_custkey" + 10000000L))
      graft.etl.Scd2.applyChanges(history, updates, "c_custkey", t1,
        Seq("c_name", "c_nationkey", "c_acctbal", "c_mktsegment"))
        .select($"c_custkey", $"c_name", $"c_nationkey", $"c_acctbal",
          $"c_mktsegment",
          $"valid_from".cast("timestamp").as("valid_from"),
          $"valid_to".cast("timestamp").as("valid_to"),
          $"is_current")
        .orderBy("c_custkey", "valid_from")
    }),

    // Point-in-time view through the SAME merge pipeline as
    // q_scd2_history, read back as of a date BETWEEN the snapshot and
    // the update batch: closed versions are still valid, fresh versions
    // not yet, new keys absent — so the as-of read must reconstruct the
    // ORIGINAL dimension snapshot exactly. The oracle is therefore just
    // `SELECT * FROM customer`: deliberately trivial on the oracle side
    // and maximally demanding on the Spark side, where one wrong
    // validity bound anywhere in init/applyChanges/asOf breaks the
    // identity (the time-travel invariant every SCD2 consumer relies
    // on).
    "q_scd2_asof" -> ((s, dir) => {
      import s.implicits._
      val dim = Tables.table(s, dir, "customer")
        .select($"c_custkey", $"c_name", $"c_nationkey", $"c_acctbal",
          $"c_mktsegment")
      val t0 = java.sql.Date.valueOf("2026-01-01")
      val t1 = java.sql.Date.valueOf("2026-06-01")
      val updates = dim.filter($"c_custkey" % 3 === 0)
        .withColumn("c_acctbal", $"c_acctbal" + 100.0)
        .unionByName(dim.filter($"c_custkey" % 100 === 0)
          .withColumn("c_custkey", $"c_custkey" + 10000000L))
      val hist = graft.etl.Scd2.applyChanges(
        graft.etl.Scd2.init(dim, t0), updates, "c_custkey", t1,
        Seq("c_name", "c_nationkey", "c_acctbal", "c_mktsegment"))
      graft.etl.Scd2.asOf(hist, java.sql.Date.valueOf("2026-03-15"))
        .select($"c_custkey", $"c_name", $"c_nationkey", $"c_acctbal",
          $"c_mktsegment")
        .orderBy("c_custkey")
    })
  )

  /** The 16 bit-interleave terms of the Morton z value, generated so the
    * DuckDB replay and the Spark expression share one definition. */
  private def zInterleaveSql: String =
    (0 until 8).map(i =>
      s"(((bx >> $i) & 1) << ${2 * i}) + (((by >> $i) & 1) << ${2 * i + 1})")
      .mkString(" + ")

  /** The [[graft.functions.HilbertKernels.d2]] rotate-and-accumulate
    * loop unrolled as 8 chained CTEs (s = 128 … 1), generated so the
    * DuckDB replay and the kernel share one definition of each round:
    * d += s²·((3·rx) xor ry), then the quadrant rotation/reflection of
    * (x, y). Expects an upstream CTE `h0(o_custkey, day, x, y, d)` with
    * d = 0. */
  private def hilbertRoundsSql: String =
    (0 until 8).map { i =>
      val s = 128L >> i
      val rx = s"(CASE WHEN (x & $s) > 0 THEN 1 ELSE 0 END)"
      s"""h${i + 1} AS (
         |  SELECT o_custkey, day,
         |    CASE WHEN (y & $s) = 0 THEN
         |      (CASE WHEN (x & $s) > 0 THEN ${s - 1} - y ELSE y END)
         |    ELSE x END AS x,
         |    CASE WHEN (y & $s) = 0 THEN
         |      (CASE WHEN (x & $s) > 0 THEN ${s - 1} - x ELSE x END)
         |    ELSE y END AS y,
         |    d + ${s * s} * xor(3 * $rx,
         |      (CASE WHEN (y & $s) > 0 THEN 1 ELSE 0 END)) AS d
         |  FROM h$i)""".stripMargin
    }.mkString(",\n")

  def oracleSql: Map[String, String] = Map(
    "q_layout_zorder" ->
      s"""WITH o AS (
        |  SELECT o_custkey,
        |    date_diff('day', DATE '1992-01-01', CAST(o_orderdate AS DATE))
        |      AS day
        |  FROM orders),
        |s AS (SELECT min(o_custkey) AS min_c, max(o_custkey) AS max_c,
        |             min(day) AS min_d, max(day) AS max_d FROM o),
        |b AS (SELECT o_custkey, day,
        |        ((o_custkey - min_c) * 256) // (max_c - min_c + 1) AS bx,
        |        ((day - min_d) * 256) // (max_d - min_d + 1) AS by
        |      FROM o, s),
        |z AS (SELECT o_custkey, day, ($zInterleaveSql) // 16 AS z_tile
        |      FROM b)
        |SELECT z_tile, CAST(count(*) AS BIGINT) AS rows,
        |  min(o_custkey) AS min_custkey, max(o_custkey) AS max_custkey,
        |  CAST(min(day) AS INT) AS min_day, CAST(max(day) AS INT) AS max_day
        |FROM z GROUP BY z_tile ORDER BY z_tile""".stripMargin,

    "q_layout_hilbert" ->
      s"""WITH o AS (
        |  SELECT o_custkey,
        |    date_diff('day', DATE '1992-01-01', CAST(o_orderdate AS DATE))
        |      AS day
        |  FROM orders),
        |s AS (SELECT min(o_custkey) AS min_c, max(o_custkey) AS max_c,
        |             min(day) AS min_d, max(day) AS max_d FROM o),
        |h0 AS (SELECT o_custkey, day,
        |        ((o_custkey - min_c) * 256) // (max_c - min_c + 1) AS x,
        |        ((day - min_d) * 256) // (max_d - min_d + 1) AS y,
        |        CAST(0 AS BIGINT) AS d
        |      FROM o, s),
        |$hilbertRoundsSql
        |SELECT d // 16 AS h_tile, CAST(count(*) AS BIGINT) AS rows,
        |  min(o_custkey) AS min_custkey, max(o_custkey) AS max_custkey,
        |  CAST(min(day) AS INT) AS min_day, CAST(max(day) AS INT) AS max_day
        |FROM h8 GROUP BY h_tile ORDER BY h_tile""".stripMargin,

    "q_scan_project" ->
      """SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
        |FROM lineitem
        |ORDER BY l_orderkey, l_linenumber, l_quantity, l_extendedprice""".stripMargin,

    "q_filter_status" ->
      """SELECT o_orderkey, o_orderstatus FROM orders
        |WHERE o_orderstatus IS NULL OR o_orderstatus <> 'F'
        |ORDER BY o_orderkey""".stripMargin,

    "q_filter_range" ->
      """SELECT l_orderkey, l_linenumber, l_discount FROM lineitem
        |WHERE l_discount BETWEEN 0.02 AND 0.04
        |ORDER BY l_orderkey, l_linenumber, l_discount""".stripMargin,

    "q_filter_null_or" ->
      """SELECT o_orderkey, date_trunc('day', o_orderdate) AS order_date FROM orders
        |WHERE o_orderdate IS NULL OR o_orderdate > TIMESTAMP '2000-01-01'
        |ORDER BY o_orderkey""".stripMargin,

    "q_derive_case" ->
      """SELECT c_custkey, c_acctbal,
        |  CASE WHEN c_acctbal < 1000 THEN 'Low'
        |       WHEN c_acctbal <= 5000 THEN 'Medium'
        |       ELSE 'High' END AS acctbal_bucket
        |FROM customer ORDER BY c_custkey""".stripMargin,

    "q_derive_dates" ->
      """SELECT l_orderkey, l_linenumber,
        |  date_trunc('day', l_shipdate) AS ship_date,
        |  CAST(date_diff('day', CAST(l_shipdate AS DATE), DATE '2002-01-01') AS INT)
        |    AS days_since_ship,
        |  floor(date_diff('day', CAST(l_shipdate AS DATE), DATE '2002-01-01')
        |        / 365.25 * 10 + 0.5) / 10 AS years_since_ship
        |FROM lineitem ORDER BY l_orderkey, l_linenumber, ship_date""".stripMargin,

    "q_derive_cond_div" ->
      """SELECT o_orderkey, age_days,
        |  CASE WHEN age_days > 0
        |       THEN floor(o_totalprice / age_days * 100 + 0.5) / 100
        |       ELSE 0.0 END AS daily_value
        |FROM (
        |  SELECT o_orderkey, o_totalprice,
        |    CAST(date_diff('day', CAST(o_orderdate AS DATE), DATE '2002-01-01') AS INT)
        |      AS age_days
        |  FROM orders)
        |ORDER BY o_orderkey""".stripMargin,

    "q_derive_map" ->
      """SELECT c_custkey,
        |  CASE WHEN c_mktsegment = 'BUILDING' THEN 1
        |       WHEN c_mktsegment = 'AUTOMOBILE' THEN 0 END AS segment_flag,
        |  COALESCE(c_custkey % 25 = CAST(c_nationkey AS BIGINT), FALSE) AS key_match,
        |  COALESCE(CASE WHEN c_nationkey <> 0 THEN c_nationkey END, -1)
        |    AS nation_sentinel
        |FROM customer ORDER BY c_custkey""".stripMargin,

    "q_initcap" ->
      """SELECT n_nationkey,
        |  array_to_string(
        |    list_transform(string_split(lower(n_name), ' '),
        |                   x -> concat(upper(x[1]), x[2:])),
        |    ' ') AS nation_title
        |FROM nation ORDER BY n_nationkey""".stripMargin,

    "q_dedup_full" ->
      "SELECT DISTINCT p_brand, p_type FROM part ORDER BY p_brand, p_type",

    "q_dedup_keyed" ->
      """SELECT l_orderkey, l_linenumber,
        |  date_trunc('day', l_shipdate) AS first_ship_date, l_quantity
        |FROM (
        |  SELECT *, row_number() OVER (PARTITION BY l_orderkey
        |    ORDER BY l_shipdate, l_linenumber, l_quantity, l_extendedprice,
        |             l_discount, l_tax, l_partkey, l_suppkey, l_returnflag,
        |             l_linestatus) AS rn
        |  FROM lineitem)
        |WHERE rn = 1 ORDER BY l_orderkey""".stripMargin,

    "q_join_left_enrich" ->
      """SELECT c_custkey, COALESCE(n_name, 'Unknown') AS nation_name, c_acctbal
        |FROM customer LEFT JOIN nation ON c_nationkey = n_nationkey
        |ORDER BY c_custkey""".stripMargin,

    "q_join_agg_enrich" ->
      """SELECT n_nationkey, n_name,
        |  CAST(COALESCE(customer_count, 0) AS BIGINT) AS customer_count,
        |  COALESCE(avg_acctbal, 0.0) AS avg_acctbal
        |FROM nation LEFT JOIN (
        |  SELECT c_nationkey, count(c_custkey) AS customer_count,
        |         floor(avg(c_acctbal) * 100 + 0.5) / 100 AS avg_acctbal
        |  FROM customer GROUP BY c_nationkey) s ON n_nationkey = c_nationkey
        |ORDER BY n_nationkey""".stripMargin,

    "q_anti_fk" ->
      """SELECT CAST(count(*) AS BIGINT) AS invalid_fk_count
        |FROM (SELECT DISTINCT o_custkey FROM orders
        |      WHERE o_custkey IS NOT NULL AND o_custkey <> -1) o
        |WHERE NOT EXISTS (SELECT 1 FROM customer WHERE c_custkey = o.o_custkey)"""
        .stripMargin,

    "q_agg_dept_summary" ->
      """SELECT n_nationkey, n_name,
        |  CAST(COALESCE(cs.total_customers, 0) AS BIGINT) AS total_customers,
        |  COALESCE(cs.avg_acctbal, 0.0) AS avg_acctbal,
        |  CAST(COALESCE(os.active_orders, 0) AS BIGINT) AS active_orders,
        |  COALESCE(os.active_order_value, 0.0) AS active_order_value
        |FROM nation
        |LEFT JOIN (
        |  SELECT c_nationkey, count(c_custkey) AS total_customers,
        |         floor(avg(c_acctbal) * 100 + 0.5) / 100 AS avg_acctbal
        |  FROM customer GROUP BY c_nationkey) cs ON n_nationkey = cs.c_nationkey
        |LEFT JOIN (
        |  SELECT c_nationkey, count(o_orderkey) AS active_orders,
        |         floor(sum(o_totalprice) * 100 + 0.5) / 100 AS active_order_value
        |  FROM orders JOIN customer ON o_custkey = c_custkey
        |  WHERE o_orderdate IS NULL OR o_orderdate > TIMESTAMP '2000-01-01'
        |  GROUP BY c_nationkey) os ON n_nationkey = os.c_nationkey
        |ORDER BY n_nationkey""".stripMargin,

    "q_agg_last_maxby" ->
      """SELECT a.o_custkey, a.avg_price, a.order_count,
        |       l.latest_price, a.latest_order_date
        |FROM (
        |  SELECT o_custkey, floor(avg(o_totalprice) * 100 + 0.5) / 100 AS avg_price,
        |         count(o_orderkey) AS order_count,
        |         max(date_trunc('day', o_orderdate)) AS latest_order_date
        |  FROM orders GROUP BY o_custkey) a
        |JOIN (
        |  SELECT o_custkey, o_totalprice AS latest_price
        |  FROM (SELECT o_custkey, o_totalprice,
        |          row_number() OVER (PARTITION BY o_custkey
        |            ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
        |        FROM orders)
        |  WHERE rn = 1) l ON a.o_custkey IS NOT DISTINCT FROM l.o_custkey
        |ORDER BY a.o_custkey NULLS FIRST""".stripMargin,

    "q_agg_distinct" ->
      """SELECT l_partkey,
        |  CAST(count(DISTINCT l_suppkey) AS BIGINT) AS supplier_count,
        |  floor(sum(l_quantity) * 10 + 0.5) / 10 AS total_qty,
        |  floor(avg(l_quantity) * 10 + 0.5) / 10 AS avg_qty
        |FROM lineitem GROUP BY l_partkey ORDER BY l_partkey""".stripMargin,

    "q_window_last" ->
      """SELECT l_orderkey, l_linenumber, l_extendedprice,
        |  last_value(l_extendedprice) OVER (PARTITION BY l_orderkey
        |    ORDER BY l_shipdate, l_linenumber, l_quantity, l_extendedprice,
        |             l_discount, l_tax, l_partkey, l_suppkey, l_returnflag,
        |             l_linestatus
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
        |    AS latest_price
        |FROM lineitem ORDER BY l_orderkey, l_linenumber, l_extendedprice""".stripMargin,

    "q_topk" ->
      """SELECT n_name, avg_acctbal FROM (
        |  SELECT c_nationkey, floor(avg(c_acctbal) * 100 + 0.5) / 100 AS avg_acctbal
        |  FROM customer GROUP BY c_nationkey) s
        |JOIN nation ON c_nationkey = n_nationkey
        |ORDER BY avg_acctbal DESC NULLS LAST, n_name LIMIT 5""".stripMargin,

    "q_dq_completeness" ->
      """SELECT CAST(count(*) AS BIGINT) AS total_rows,
        |  CAST(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    AS null_fk_rows,
        |  CAST(count(o_orderkey) - count(DISTINCT o_orderkey) AS BIGINT)
        |    AS duplicate_pk_rows
        |FROM orders""".stripMargin,

    "q_dq_accuracy" ->
      """SELECT
        |  CAST(sum(CASE WHEN o_orderstatus NOT IN ('O','F','P') THEN 1 ELSE 0 END)
        |    AS BIGINT) AS invalid_status_rows,
        |  CAST(sum(CASE WHEN o_orderstatus = 'O' AND o_totalprice <= 0 THEN 1
        |    ELSE 0 END) AS BIGINT) AS nonpositive_open_rows
        |FROM orders""".stripMargin,

    "q_agg_quantiles" ->
      """SELECT l_returnflag,
        |  quantile_cont(l_quantity, 0.25) AS qty_p25,
        |  quantile_cont(l_quantity, 0.5) AS qty_median,
        |  quantile_cont(l_quantity, 0.75) AS qty_p75,
        |  floor(quantile_cont(l_extendedprice, 0.5) * 100 + 0.5) / 100
        |    AS price_median
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "q_agg_rollup" ->
      """SELECT r_name, n_name,
        |  CAST(count(*) AS BIGINT) AS customer_count,
        |  floor(sum(c_acctbal) * 100 + 0.5) / 100 AS total_acctbal
        |FROM customer
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY ROLLUP (r_name, n_name)
        |ORDER BY r_name ASC NULLS FIRST, n_name ASC NULLS FIRST""".stripMargin,

    "q_dq_profile" ->
      """WITH a AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_rows,
        |    CAST(count(c_custkey) AS BIGINT) AS nn_c_custkey,
        |    CAST(count(DISTINCT c_custkey) AS BIGINT) AS d_c_custkey,
        |    CAST(count(c_name) AS BIGINT) AS nn_c_name,
        |    CAST(count(DISTINCT c_name) AS BIGINT) AS d_c_name,
        |    CAST(count(c_nationkey) AS BIGINT) AS nn_c_nationkey,
        |    CAST(count(DISTINCT c_nationkey) AS BIGINT) AS d_c_nationkey,
        |    CAST(count(c_acctbal) AS BIGINT) AS nn_c_acctbal,
        |    CAST(count(DISTINCT c_acctbal) AS BIGINT) AS d_c_acctbal,
        |    CAST(count(c_mktsegment) AS BIGINT) AS nn_c_mktsegment,
        |    CAST(count(DISTINCT c_mktsegment) AS BIGINT) AS d_c_mktsegment
        |  FROM customer)
        |SELECT column_name, n_rows, non_null_count,
        |  n_rows - non_null_count AS null_count, distinct_count
        |FROM (
        |  SELECT 'c_custkey' AS column_name, n_rows,
        |    nn_c_custkey AS non_null_count, d_c_custkey AS distinct_count FROM a
        |  UNION ALL SELECT 'c_name', n_rows, nn_c_name, d_c_name FROM a
        |  UNION ALL SELECT 'c_nationkey', n_rows, nn_c_nationkey,
        |    d_c_nationkey FROM a
        |  UNION ALL SELECT 'c_acctbal', n_rows, nn_c_acctbal,
        |    d_c_acctbal FROM a
        |  UNION ALL SELECT 'c_mktsegment', n_rows, nn_c_mktsegment,
        |    d_c_mktsegment FROM a)
        |ORDER BY column_name""".stripMargin,

    "q_window_running" ->
      """SELECT user_id, event_id, date_trunc('second', ts) AS sec,
        |  floor(sum(value) OVER w * 100 + 0.5) / 100 AS running_value,
        |  CAST(count(*) OVER w AS BIGINT) AS running_count
        |FROM events WHERE event_type = 'purchase'
        |WINDOW w AS (PARTITION BY user_id
        |  ORDER BY date_trunc('second', ts), event_id
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |ORDER BY user_id, sec, event_id""".stripMargin,

    "q_merge_upsert" ->
      """WITH t AS (
        |  SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
        |    floor(sum(value) * 100 + 0.5) / 100 AS total_value
        |  FROM events WHERE event_id % 2 = 0 GROUP BY user_id),
        |u AS (
        |  SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
        |    floor(sum(value) * 100 + 0.5) / 100 AS total_value
        |  FROM events WHERE event_id % 2 = 1 GROUP BY user_id)
        |SELECT COALESCE(u.user_id, t.user_id) AS user_id,
        |  CASE WHEN u.user_id IS NOT NULL THEN u.n_events
        |       ELSE t.n_events END AS n_events,
        |  CASE WHEN u.user_id IS NOT NULL THEN u.total_value
        |       ELSE t.total_value END AS total_value
        |FROM t FULL OUTER JOIN u ON t.user_id = u.user_id
        |ORDER BY user_id""".stripMargin,

    "q_agg_cube" ->
      """SELECT o_orderstatus, o_orderpriority,
        |  CAST(count(*) AS BIGINT) AS order_count,
        |  floor(sum(o_totalprice) * 100 + 0.5) / 100 AS total_price
        |FROM orders
        |GROUP BY CUBE (o_orderstatus, o_orderpriority)
        |ORDER BY o_orderstatus ASC NULLS FIRST,
        |  o_orderpriority ASC NULLS FIRST""".stripMargin,

    "q_agg_salted" ->
      """SELECT event_type, CAST(count(*) AS BIGINT) AS event_count,
        |  floor(sum(value) * 100 + 0.5) / 100 AS total_value
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q_agg_topk_bounded" ->
      """SELECT lang, CAST(rk AS INT) AS rk, n_chars FROM (
        |  SELECT lang, n_chars, row_number() OVER (PARTITION BY lang
        |    ORDER BY n_chars DESC) AS rk
        |  -- the aggregate skips nulls (SQL convention); mirror it, or a
        |  -- corpus with null n_chars would rank them into the window
        |  FROM documents WHERE n_chars IS NOT NULL)
        |WHERE rk <= 5 ORDER BY lang, rk""".stripMargin,

    "q_pivot_events" ->
      """SELECT user_id,
        |  CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS click,
        |  CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS error,
        |  CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchase,
        |  CAST(sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS signup,
        |  CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS view
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,

    "q_volume_counts" ->
      """SELECT 'customer' AS table_name, CAST(count(*) AS BIGINT) AS row_count FROM customer
        |UNION ALL SELECT 'lineitem', CAST(count(*) AS BIGINT) FROM lineitem
        |UNION ALL SELECT 'nation', CAST(count(*) AS BIGINT) FROM nation
        |UNION ALL SELECT 'orders', CAST(count(*) AS BIGINT) FROM orders
        |UNION ALL SELECT 'part', CAST(count(*) AS BIGINT) FROM part
        |UNION ALL SELECT 'region', CAST(count(*) AS BIGINT) FROM region
        |UNION ALL SELECT 'supplier', CAST(count(*) AS BIGINT) FROM supplier
        |ORDER BY table_name""".stripMargin,

    // Direct case-analysis derivation of the SCD2 result (NOT a replay of
    // the full-outer merge): changed iff custkey%3=0 AND acctbal non-null.
    "q_scd2_history" ->
      """WITH dim AS (
        |  SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment
        |  FROM customer),
        |changed AS (
        |  SELECT * FROM dim WHERE c_custkey % 3 = 0 AND c_acctbal IS NOT NULL)
        |SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment,
        |  TIMESTAMP '2026-01-01' AS valid_from,
        |  CAST(NULL AS TIMESTAMP) AS valid_to, TRUE AS is_current
        |FROM dim WHERE NOT (c_custkey % 3 = 0 AND c_acctbal IS NOT NULL)
        |UNION ALL
        |SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment,
        |  TIMESTAMP '2026-01-01', TIMESTAMP '2026-06-01', FALSE
        |FROM changed
        |UNION ALL
        |SELECT c_custkey, c_name, c_nationkey, c_acctbal + 100.0, c_mktsegment,
        |  TIMESTAMP '2026-06-01', CAST(NULL AS TIMESTAMP), TRUE
        |FROM changed
        |UNION ALL
        |SELECT c_custkey + 10000000, c_name, c_nationkey, c_acctbal,
        |  c_mktsegment, TIMESTAMP '2026-06-01', CAST(NULL AS TIMESTAMP), TRUE
        |FROM dim WHERE c_custkey % 100 = 0
        |ORDER BY c_custkey, valid_from""".stripMargin,

    // The time-travel identity: as-of a date before the update batch,
    // the history must read back as the untouched original snapshot.
    "q_scd2_asof" ->
      """SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment
        |FROM customer ORDER BY c_custkey""".stripMargin,

    // Round-trip identity: the staged JSONL must read back as the table.
    "q_scan_jsonl" ->
      """SELECT doc_id, text, lang, source, n_chars
        |FROM documents ORDER BY doc_id""".stripMargin
  )
}
