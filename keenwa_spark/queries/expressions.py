"""Scalar expression + function inventory — SURVEY.md §2c rows 22-55.

One oracle-checked query per variant family of the reference's
29-variant expression enum (reference src/operators/scalar/expr.rs:17-155),
its 5 aggregate functions (reference src/operators/scalar/aggregates.rs:10-16),
and its 8 scalar string functions (reference src/operators/scalar/funcs.rs:9-18).

Dialect-divergence notes (probed against DuckDB 1.0 + Spark 4.1):
- Spark SQL array indexing ``arr[i]`` is 0-based, DuckDB 1-based
  (SURVEY §7 risk 4) — array queries use separate oracle text;
- DuckDB ``concat()`` skips NULLs, Spark's returns NULL — `||` agrees
  (NULL-propagating) in both, so shared text uses `||` when args are
  nullable;
- DuckDB lacks ``char_length``/``named_struct`` — oracle uses
  ``length``/struct literals;
- NULLs are manufactured deterministically via NULLIF (the TPC-H-ish
  testdata has no NULL cells).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from keenwa_spark.litdf import local_df
from keenwa_spark.queries import df_query, sql_query

# ---------------------------------------------------------------------------
# BinaryExpr: arithmetic, comparison, logic, concat (expr.rs:30-37, 1090-1119)
# ---------------------------------------------------------------------------

sql_query(
    "expr_arithmetic",
    """
    SELECT
      l_orderkey,
      l_linenumber,
      l_quantity + l_tax            AS add_c,
      l_quantity - l_discount       AS sub_c,
      l_extendedprice * l_discount  AS mul_c,
      l_extendedprice / l_quantity  AS div_c,
      l_linenumber % 3              AS mod_c,
      CAST(l_orderkey / 2 AS DOUBLE) AS int_div_is_double
    FROM lineitem
    WHERE l_orderkey < 500
    """,
    doc="BinaryExpr arithmetic ops Plus/Minus/Multiply/Divide/Modulo "
    "(reference expr.rs:1090-1119). Per-row double arithmetic is "
    "bit-deterministic across engines (no reordering).",
    tags=("expr",),
)

sql_query(
    "expr_comparison_logic",
    """
    SELECT o_orderkey, o_orderstatus, o_totalprice
    FROM orders
    WHERE (o_totalprice > 300000 AND o_orderstatus = 'F')
       OR (o_totalprice <= 5000 AND o_orderstatus <> 'P')
       OR (o_totalprice >= 449000 AND NOT (o_orderstatus = 'O'))
    """,
    doc="BinaryExpr comparison (Eq/NotEq/Lt/LtEq/Gt/GtEq) + And/Or/Not "
    "(reference expr.rs:1090-1110, Not expr.rs:46).",
    tags=("expr",),
)

sql_query(
    "expr_concat",
    """
    SELECT
      c_custkey,
      c_name || ':' || c_mktsegment AS tagline,
      c_name || NULLIF(c_mktsegment, c_mktsegment) AS null_prop
    FROM customer
    WHERE c_custkey <= 100
    """,
    doc="BinaryOp::Concat `||` (reference expr.rs:1117) incl. NULL "
    "propagation (NULLIF manufactures a NULL; `||` is NULL-propagating in "
    "both engines, unlike DuckDB's concat()).",
    tags=("expr",),
)

# ---------------------------------------------------------------------------
# Cast / Not / Negation (expr.rs:39-48)
# ---------------------------------------------------------------------------

sql_query(
    "expr_cast",
    """
    SELECT
      o_orderkey,
      CAST(FLOOR(o_totalprice) AS INT)     AS price_int,
      CAST(o_orderkey AS STRING)           AS key_str,
      CAST(CAST(o_orderkey AS STRING) AS BIGINT) AS roundtrip,
      CAST(CAST(o_orderdate AS DATE) AS STRING) AS od_str,
      CAST(o_totalprice > 100000 AS INT)   AS flag_int
    FROM orders
    WHERE o_orderkey < 400
    """,
    doc="Expr::Cast (reference expr.rs:39-44) across numeric/string/date/"
    "bool domains.",
    tags=("expr",),
)

sql_query(
    "expr_not_negation",
    """
    SELECT
      c_custkey,
      -c_acctbal AS neg_bal,
      NOT (c_acctbal > 0) AS not_positive
    FROM customer
    WHERE NOT (c_mktsegment = 'BUILDING') AND c_custkey < 200
    """,
    doc="Expr::Not / Expr::Negation (reference expr.rs:46-48).",
    tags=("expr",),
)

# ---------------------------------------------------------------------------
# InList / IS family / Between (expr.rs:50-73)
# ---------------------------------------------------------------------------

sql_query(
    "expr_in_list",
    """
    SELECT o_orderkey, o_orderpriority
    FROM orders
    WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')
      AND o_orderkey % 10 NOT IN (3, 5, 7)
      AND o_orderkey < 3000
    """,
    doc="Expr::InList with NOT (reference expr.rs:50-54).",
    tags=("expr",),
)

sql_query(
    "expr_is_family",
    """
    SELECT
      c_custkey,
      NULLIF(c_acctbal, 0.0) IS NULL                    AS bal_zeroed,
      c_name IS NOT NULL                                AS has_name,
      (NULLIF(c_acctbal, c_acctbal) > 0) IS UNKNOWN     AS cmp_unknown,
      (c_acctbal > 5000) IS TRUE                        AS rich_true,
      (c_acctbal > 5000) IS NOT FALSE                   AS rich_not_false,
      (c_acctbal < 0) IS FALSE                          AS nonneg
    FROM customer
    WHERE c_custkey <= 300
    """,
    doc="IS [NOT] NULL / TRUE / FALSE / UNKNOWN (reference expr.rs:56-62); "
    "NULLIF manufactures NULL and UNKNOWN cells.",
    tags=("expr",),
)

sql_query(
    "expr_between",
    """
    SELECT l_orderkey, l_linenumber, l_quantity
    FROM lineitem
    WHERE l_quantity BETWEEN 10 AND 15
      AND l_linenumber NOT BETWEEN 3 AND 5
      AND l_shipdate BETWEEN TIMESTAMP '1996-01-01' AND TIMESTAMP '1996-12-31'
    """,
    doc="Expr::Between with NOT, over numeric and timestamp domains "
    "(reference expr.rs:64-73).",
    tags=("expr",),
)

# ---------------------------------------------------------------------------
# Case — simple + searched (expr.rs:78-85)
# ---------------------------------------------------------------------------

sql_query(
    "expr_case",
    """
    SELECT
      o_orderkey,
      CASE o_orderstatus
        WHEN 'F' THEN 'finished'
        WHEN 'O' THEN 'open'
        ELSE 'other'
      END AS status_word,
      CASE
        WHEN o_totalprice >= 300000 THEN 'large'
        WHEN o_totalprice >= 100000 THEN 'medium'
        ELSE 'small'
      END AS size_band,
      CASE WHEN o_orderpriority = '1-URGENT' THEN 1 END AS urgent_or_null
    FROM orders
    WHERE o_orderkey < 2000
    """,
    doc="Expr::Case — simple (with operand) and searched forms, incl. "
    "missing ELSE → NULL (reference expr.rs:78-85).",
    tags=("expr",),
)

# ---------------------------------------------------------------------------
# Tuple / Array (expr.rs:87-98)
# ---------------------------------------------------------------------------

sql_query(
    "expr_tuple",
    """
    SELECT l_orderkey, l_linenumber, l_returnflag, l_linestatus
    FROM lineitem
    WHERE (l_returnflag, l_linestatus) = ('R', 'F')
      AND (l_orderkey, l_linenumber) < (CAST(200 AS BIGINT), 3)
    """,
    doc="Expr::Tuple (reference expr.rs:87): row-value construction, "
    "equality and lexicographic comparison.",
    tags=("expr",),
)

sql_query(
    "expr_tuple_field",
    """
    SELECT t.pair.lo AS lo, t.pair.hi AS hi
    FROM (
      SELECT named_struct('lo', MIN(c_acctbal), 'hi', MAX(c_acctbal)) AS pair
      FROM customer
    ) t
    """,
    oracle="""
    SELECT t.pair.lo AS lo, t.pair.hi AS hi
    FROM (
      SELECT {'lo': MIN(c_acctbal), 'hi': MAX(c_acctbal)} AS pair
      FROM customer
    ) t
    """,
    doc="Tuple (struct) construction + field access — Spark named_struct "
    "vs DuckDB struct literal (reference expr.rs:87, Tuple DataType "
    "datatypes.rs:32).",
    tags=("expr",),
)

# expr_array lives in keenwa_spark/queries/arrays.py — registered inside
# the driver's checked registry prefix (its r2 row was the sole FAIL).

# ---------------------------------------------------------------------------
# Like / ILike (expr.rs:102-113)
# ---------------------------------------------------------------------------

sql_query(
    "expr_like",
    """
    SELECT p_partkey, p_name, p_type
    FROM part
    WHERE p_type LIKE '%OMO%'
      AND p_name NOT LIKE 'small%'
      AND p_brand ILIKE 'brand#1%'
    """,
    doc="Expr::Like / ILIKE with NOT (reference expr.rs:102-113).",
    tags=("expr",),
)

sql_query(
    "expr_like_escape",
    """
    SELECT t.s AS s,
           t.s LIKE '%100!%%' ESCAPE '!' AS pct_match,
           t.s LIKE '%a!_b%' ESCAPE '!'  AS underscore_match
    FROM (VALUES ('sale 100% off'), ('item a_b tag'), ('plain text'))
         AS t(s)
    """,
    doc="LIKE with ESCAPE character (reference Like{escape_char} "
    "expr.rs:102-113).",
    tags=("expr",),
)

# ---------------------------------------------------------------------------
# Aggregate modifiers: DISTINCT + FILTER (expr.rs:115-125)
# ---------------------------------------------------------------------------

sql_query(
    "agg_distinct_filter",
    """
    SELECT
      o_orderstatus,
      COUNT(DISTINCT o_custkey)                                   AS uniq_cust,
      COUNT(*) FILTER (WHERE o_totalprice > 200000)               AS n_big,
      CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
           FILTER (WHERE o_orderpriority = '1-URGENT') AS DOUBLE) AS urgent_total,
      CAST(SUM(DISTINCT CAST(o_custkey AS BIGINT)) AS BIGINT)     AS sum_uniq_cust
    FROM orders
    GROUP BY o_orderstatus
    """,
    doc="Aggregate{distinct, filter} — AGG(DISTINCT x) and AGG(x) FILTER "
    "(WHERE p) (reference expr.rs:115-125, sql/mod.rs:1253-1257).",
    tags=("expr", "aggregate"),
)

# ---------------------------------------------------------------------------
# The 8 reference string functions (funcs.rs:9-18)
# ---------------------------------------------------------------------------

sql_query(
    "fn_strings",
    """
    SELECT
      c_custkey,
      CAST(bit_length(c_name) AS BIGINT)   AS name_bits,
      CAST(char_length(c_mktsegment) AS BIGINT) AS seg_chars,
      concat(c_name, '-', c_mktsegment)    AS cat,
      lower(c_name)                        AS lo,
      upper(c_mktsegment)                  AS up,
      CAST(position('#' IN c_name) AS BIGINT) AS hash_pos,
      hex(c_custkey)                       AS key_hex,
      replace(c_name, 'Customer', 'Cust')  AS short_name
    FROM customer
    WHERE c_custkey <= 250
    """,
    oracle="""
    SELECT
      c_custkey,
      CAST(bit_length(c_name) AS BIGINT)   AS name_bits,
      CAST(length(c_mktsegment) AS BIGINT) AS seg_chars,
      c_name || '-' || c_mktsegment        AS cat,
      lower(c_name)                        AS lo,
      upper(c_mktsegment)                  AS up,
      CAST(position('#' IN c_name) AS BIGINT) AS hash_pos,
      hex(c_custkey)                       AS key_hex,
      replace(c_name, 'Customer', 'Cust')  AS short_name
    FROM customer
    WHERE c_custkey <= 250
    """,
    doc="The complete reference scalar function inventory: bit_length, "
    "character_length, concat, lower, position, to_hex, replace, upper "
    "(reference funcs.rs:9-18, signatures :38-47). concat args are all "
    "non-null in the base data (DuckDB concat skips NULLs, Spark "
    "propagates — divergence documented); the ORACLE spells the "
    "expression with `||` (NULL-propagating in both engines, equal to "
    "Spark's concat on every input incl. the all-NULL sweep). 3-arg replace "
    "per standard SQL (the reference declares a 2-arg quirk, funcs.rs:45 — "
    "documented divergence per SURVEY §2c).",
    tags=("expr", "functions"),
)

# ---------------------------------------------------------------------------
# Interval literals (value.rs:45-51; expr_interval_tests.yaml)
# ---------------------------------------------------------------------------

sql_query(
    "expr_interval",
    """
    SELECT
      o_orderkey,
      CAST(o_orderdate + INTERVAL 1 MONTH  AS STRING) AS plus_month,
      CAST(o_orderdate - INTERVAL 90 DAY   AS STRING) AS minus_90d,
      CAST(o_orderdate + INTERVAL 1 YEAR   AS STRING) AS plus_year,
      CAST(o_orderdate + INTERVAL 12 HOUR  AS STRING) AS plus_12h,
      o_orderdate + INTERVAL 30 DAY > TIMESTAMP '2001-08-01' AS near_end
    FROM orders
    WHERE o_orderkey < 600
    """,
    doc="INTERVAL literals — YearMonth and DaySecond families (reference "
    "ScalarValue::Interval value.rs:45-51, 293 LoC of cases in "
    "expr_interval_tests.yaml) in timestamp arithmetic and comparison.",
    tags=("expr", "interval"),
)

# ---------------------------------------------------------------------------
# Typed NULL literals + coalescing (value.rs:12-35 all-nullable model)
# ---------------------------------------------------------------------------

sql_query(
    "expr_array_explode",
    """
    SELECT n_nationkey, elem
    FROM nation
    LATERAL VIEW explode(array(n_nationkey, n_regionkey, n_nationkey * 10)) t AS elem
    WHERE n_nationkey < 5
    """,
    oracle="""
    SELECT n_nationkey, unnest([n_nationkey, n_regionkey, n_nationkey * 10]) AS elem
    FROM nation
    WHERE n_nationkey < 5
    """,
    doc="Table-generating array expansion — Spark LATERAL VIEW explode vs "
    "DuckDB unnest. Deliberately BEYOND the reference (its frontend "
    "rejects UNNEST, sql/mod.rs:561; strict dialect mode mirrors the "
    "rejection) — the Spark-native superset, oracle-checked.",
    tags=("expr", "explode", "superset"),
)

sql_query(
    "expr_time_shim",
    """
    SELECT
      event_id,
      CAST(hour(ts) * 3600 + minute(ts) * 60 + second(ts) AS INT)
        AS secs_since_midnight,
      CAST(hour(ts) AS INT) AS hr
    FROM events
    WHERE event_id < 500
    """,
    oracle="""
    SELECT
      event_id,
      CAST(hour(ts) * 3600 + minute(ts) * 60 + FLOOR(second(ts)) AS INT)
        AS secs_since_midnight,
      CAST(hour(ts) AS INT) AS hr
    FROM events
    WHERE event_id < 500
    """,
    doc="The TIME-type shim (SURVEY §7 risk 4; reference DataType::Time "
    "datatypes.rs:22 has no Spark equivalent): time-of-day as "
    "seconds-since-midnight INT — ordering/arithmetic/grouping all "
    "behave. DuckDB second() returns fractional seconds -> FLOOR.",
    tags=("expr", "types", "time"),
)

sql_query(
    "fn_strings_superset",
    """
    SELECT
      c_custkey,
      trim('  ' || c_name || '  ')            AS trimmed,
      ltrim('x', 'xx' || c_name)              AS ltrimmed,
      rtrim('y', c_name || 'yy')              AS rtrimmed,
      substring(c_name, 1, 8)                 AS sub8,
      lpad(CAST(c_custkey AS STRING), 8, '0') AS padded,
      reverse(c_mktsegment)                   AS rev,
      repeat('-', 3) || c_mktsegment          AS dashed,
      split_part(c_name, '#', 2)              AS after_hash,
      left(c_name, 4)                         AS l4,
      right(c_name, 4)                        AS r4
    FROM customer
    WHERE c_custkey <= 150
    """,
    oracle="""
    SELECT
      c_custkey,
      trim('  ' || c_name || '  ')            AS trimmed,
      ltrim('xx' || c_name, 'x')              AS ltrimmed,
      rtrim(c_name || 'yy', 'y')              AS rtrimmed,
      substring(c_name, 1, 8)                 AS sub8,
      lpad(CAST(c_custkey AS VARCHAR), 8, '0') AS padded,
      reverse(c_mktsegment)                   AS rev,
      repeat('-', 3) || c_mktsegment          AS dashed,
      CASE WHEN c_name IS NULL THEN NULL
           ELSE split_part(c_name, '#', 2) END AS after_hash,
      left(c_name, 4)                         AS l4,
      right(c_name, 4)                        AS r4
    FROM customer
    WHERE c_custkey <= 150
    """,
    doc="String-function superset beyond the reference's 8 (funcs.rs:9-18): "
    "trim family with custom chars, substring, lpad, reverse, repeat, "
    "split_part, left/right. NB Spark's 2-arg ltrim/rtrim take the TRIM "
    "set FIRST (ltrim(trimStr, str)); DuckDB takes it second — separate "
    "oracle text. DuckDB's split_part maps a NULL input to '' (its "
    "documented quirk) where Spark propagates NULL — oracle guarded "
    "(all-NULL-column sweep find).",
    tags=("expr", "functions", "superset"),
)

sql_query(
    "expr_interval_ops",
    """
    SELECT
      o_orderkey,
      CAST(o_orderdate + (INTERVAL 1 MONTH + INTERVAL 2 MONTH) AS STRING)
        AS plus_3mo,
      CAST(o_orderdate - (INTERVAL 10 DAY + INTERVAL 5 DAY) AS STRING)
        AS minus_15d,
      INTERVAL 2 MONTH > INTERVAL 1 MONTH AS ym_cmp,
      CAST(o_orderdate + 3 * INTERVAL 10 DAY AS STRING) AS plus_30d
    FROM orders
    WHERE o_orderkey < 300
    """,
    doc="Interval-on-interval arithmetic and comparison (reference "
    "expr_interval_tests.yaml, 293 LoC of cases; Interval value model "
    "value.rs:45-51): interval addition, scalar multiplication, "
    "year-month comparison — applied to timestamps, emitted as strings.",
    tags=("expr", "interval"),
)

sql_query(
    "fn_math_datetime",
    """
    SELECT
      o_orderkey,
      abs(-o_totalprice)                    AS abs_v,
      round(o_totalprice, 1)                AS round_v,
      CAST(floor(o_totalprice) AS BIGINT)   AS floor_v,
      CAST(ceil(o_totalprice) AS BIGINT)    AS ceil_v,
      sqrt(o_totalprice)                    AS sqrt_v,
      CAST(year(o_orderdate) AS BIGINT)     AS yr,
      CAST(month(o_orderdate) AS BIGINT)    AS mo,
      CAST(day(o_orderdate) AS BIGINT)      AS dy,
      greatest(o_totalprice, 100000.0)      AS hi,
      least(o_totalprice, 100000.0)         AS lo
    FROM orders
    WHERE o_orderkey < 400
    """,
    doc="Math + datetime scalar functions — ALL beyond the reference "
    "(README.md:139-145 lists every math/date function as TODO there); "
    "the Spark-native superset, shared dialect with DuckDB. round() on "
    "one decimal of a 2-decimal-ish value; both engines round the same "
    "doubles here (verified by the oracle gate).",
    tags=("expr", "functions", "superset"),
)

sql_query(
    "expr_typed_null",
    """
    SELECT
      CAST(NULL AS INT)        AS null_int,
      CAST(NULL AS DOUBLE)     AS null_double,
      CAST(NULL AS STRING)     AS null_str,
      CAST(NULL AS BOOLEAN)    AS null_bool,
      COALESCE(CAST(NULL AS INT), 42)  AS coalesced,
      NULLIF(1, 1)             AS nullif_hit,
      NULLIF(1, 2)             AS nullif_miss
    """,
    doc="Typed NULL literals (reference ScalarValue all-Option model "
    "value.rs:12-35; typed-NULL casts expr.rs:28) + COALESCE/NULLIF.",
    tags=("expr", "null"),
)

sql_query(
    "win_frames_rows_range",
    """
    SELECT
      o_orderkey,
      o_custkey,
      CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
        PARTITION BY o_custkey ORDER BY o_orderkey
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
        AS running_total,
      CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
        PARTITION BY o_custkey ORDER BY o_orderkey
        ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS DOUBLE)
        AS moving3_total,
      COUNT(*) OVER (
        PARTITION BY o_custkey ORDER BY o_totalprice
        RANGE BETWEEN 1000.0 PRECEDING AND CURRENT ROW)
        AS near_price_cnt
    FROM orders
    """,
    doc="Window FRAMES (Spark superset; keenwa rejects frames, reference "
    "sql/mod.rs:1339-1340): ROWS running + moving-3 totals ordered by "
    "the unique o_orderkey (ROWS frames need total order for "
    "determinism), and a RANGE value-window over o_totalprice (peers "
    "grouped, so ties are deterministic). One shuffle on o_custkey "
    "serves all three frames.",
    tags=("expressions", "window", "superset"),
)

sql_query(
    "win_rank_distributions",
    """
    SELECT
      o_custkey,
      o_orderkey,
      CAST(DENSE_RANK() OVER w AS BIGINT) AS drk,
      CAST(PERCENT_RANK() OVER w AS DOUBLE) AS prk,
      CAST(CUME_DIST() OVER w AS DOUBLE) AS cd,
      NTH_VALUE(o_orderkey, 2) OVER w AS second_order
    FROM orders
    WHERE o_custkey <= 80
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice, o_orderkey)
    ORDER BY o_custkey, o_orderkey
    """,
    doc="Distribution-family window functions (Spark superset; the "
    "reference's surface stops at row_number/rank/first/last): "
    "dense_rank, percent_rank, cume_dist, nth_value over one shared "
    "named window. percent_rank/cume_dist are exact rationals of "
    "ranks — bit-identical across engines under the unique (price, "
    "orderkey) order; nth_value uses the default growing frame (NULL "
    "until the frame holds 2 rows) on both engines. Named-WINDOW "
    "syntax itself is part of the superset (strict dialect mode "
    "rejects it, mirroring the reference frontend).",
    tags=("window", "superset"),
)

sql_query(
    "expr_map_ops",
    """
    WITH t AS (
      SELECT o_orderkey,
             map('status', o_orderstatus, 'priority', o_orderpriority) AS m
      FROM orders WHERE o_orderkey <= 200
    )
    SELECT o_orderkey,
           m['status'] AS status,
           m['priority'] AS priority,
           array_join(array_sort(map_keys(m)), ',') AS keys_sorted,
           CAST(size(m) AS BIGINT) AS n_entries
    FROM t
    """,
    oracle="""
    SELECT o_orderkey,
           o_orderstatus AS status,
           o_orderpriority AS priority,
           'priority,status' AS keys_sorted,
           CAST(2 AS BIGINT) AS n_entries
    FROM orders WHERE o_orderkey <= 200
    """,
    doc="Map type + functions (Spark superset; the reference's type "
    "system has tuples but no map, reference src/datatypes.rs): map "
    "constructor, key lookup, sorted map_keys, size. The oracle states "
    "the output contract directly from the source columns — it checks "
    "that the map round-trip loses nothing, not that DuckDB shares "
    "Spark's map syntax.",
    tags=("expr", "map", "superset"),
)

sql_query(
    "expr_higher_order",
    """
    WITH a AS (
      SELECT l_orderkey,
             sort_array(collect_list(CAST(l_quantity AS BIGINT))) AS qs
      FROM lineitem WHERE l_orderkey <= 500
      GROUP BY l_orderkey
    )
    SELECT l_orderkey,
           aggregate(qs, CAST(0 AS BIGINT), (acc, x) -> acc + x) AS fold_sum,
           CAST(size(filter(qs, x -> x >= 25)) AS BIGINT) AS n_heavy,
           exists(qs, x -> x >= 49) AS any_near_max,
           forall(qs, x -> x >= 1) AS all_pos,
           array_max(zip_with(qs, reverse(qs), (x, y) -> x + y)) AS max_pairsum
    FROM a
    ORDER BY l_orderkey
    """,
    oracle="""
    WITH a AS (
      SELECT l_orderkey,
             list_sort(list(CAST(l_quantity AS BIGINT))) AS qs
      FROM lineitem WHERE l_orderkey <= 500
      GROUP BY l_orderkey
    )
    SELECT l_orderkey,
           COALESCE(CAST(list_sum(qs) AS BIGINT), 0) AS fold_sum,
           CAST(len(list_filter(qs, x -> x >= 25)) AS BIGINT) AS n_heavy,
           len(list_filter(qs, x -> x >= 49)) > 0 AS any_near_max,
           len(list_filter(qs, x -> x < 1)) = 0 AS all_pos,
           list_max([qs[i] + qs[len(qs) + 1 - i]
                     for i in range(1, len(qs) + 1)]) AS max_pairsum
    FROM a
    ORDER BY l_orderkey
    """,
    doc="Higher-order array lambdas (Spark superset): aggregate (fold), "
    "filter, exists, forall, zip_with — the expression toolkit the "
    "pipeline operators lean on, proven cross-engine against DuckDB's "
    "list functions. collect_list is order-nondeterministic, so the "
    "array is sort_array'd before any lambda touches it. A fold over "
    "an EMPTY array returns its init (0) by definition; DuckDB's "
    "list_sum is aggregate-flavored and returns NULL there — oracle "
    "COALESCEd (all-NULL-column sweep find).",
    tags=("expr", "higherorder", "superset"),
)

sql_query(
    "join_lateral_topn",
    """
    SELECT c.c_custkey, t.o_orderkey, t.o_totalprice
    FROM customer c,
    LATERAL (SELECT o_orderkey, o_totalprice FROM orders o
             WHERE o.o_custkey = c.c_custkey
             ORDER BY o_totalprice DESC, o_orderkey LIMIT 1) t
    ORDER BY c.c_custkey
    """,
    doc="Correlated LATERAL derived table — top-1 order per customer "
    "(Spark superset: the reference frontend rejects LATERAL, "
    "reference sql/mod.rs dialect matrix, mirrored by strict mode). "
    "Catalyst decorrelates the limit-1 lateral into a ranked join "
    "rather than per-row re-execution; customers without orders drop "
    "out (inner lateral semantics) identically on both engines; "
    "(price, orderkey) makes the per-customer pick unique.",
    tags=("join", "lateral", "superset"),
)

sql_query(
    "expr_try_arithmetic",
    """
    SELECT l_orderkey, l_linenumber,
           try_divide(l_extendedprice, l_discount) AS price_per_disc,
           try_divide(CAST(l_quantity AS BIGINT),
                      CAST(l_quantity AS BIGINT) - CAST(l_quantity AS BIGINT))
             AS div_zero_int,
           try_add(9223372036854775807, CAST(l_quantity AS BIGINT))
             AS overflow_add
    FROM lineitem
    WHERE l_orderkey <= 200
    ORDER BY l_orderkey, l_linenumber
    """,
    oracle="""
    SELECT l_orderkey, l_linenumber,
           CASE WHEN l_discount = 0 THEN NULL
                ELSE l_extendedprice / l_discount END AS price_per_disc,
           CAST(NULL AS DOUBLE) AS div_zero_int,
           CAST(NULL AS BIGINT) AS overflow_add
    FROM lineitem
    WHERE l_orderkey <= 200
    ORDER BY l_orderkey, l_linenumber
    """,
    doc="Error-safe arithmetic (Spark superset): try_divide returns "
    "NULL on zero denominators (both double and integer division) and "
    "try_add returns NULL on bigint overflow, instead of raising under "
    "ANSI mode or returning Inf. The oracle states the NULL-contract "
    "directly (DuckDB has no try_* family); quantity > 0 in the data "
    "makes the overflow arm deterministically NULL.",
    tags=("expr", "superset"),
)

sql_query(
    "expr_bitwise",
    """
    SELECT o_orderkey,
           CAST(o_orderkey & 255 AS BIGINT) AS low_byte,
           CAST(o_orderkey | 4096 AS BIGINT) AS with_flag,
           CAST(o_orderkey ^ 21845 AS BIGINT) AS xored,
           CAST(shiftleft(o_orderkey, 3) AS BIGINT) AS shl3,
           CAST(shiftright(o_orderkey, 2) AS BIGINT) AS shr2,
           CAST(~o_orderkey AS BIGINT) AS negated,
           CAST(bit_count(o_orderkey) AS BIGINT) AS popcount
    FROM orders WHERE o_orderkey <= 500
    ORDER BY o_orderkey
    """,
    oracle="""
    SELECT o_orderkey,
           CAST(o_orderkey & 255 AS BIGINT) AS low_byte,
           CAST(o_orderkey | 4096 AS BIGINT) AS with_flag,
           CAST(xor(o_orderkey, 21845) AS BIGINT) AS xored,
           CAST(o_orderkey << 3 AS BIGINT) AS shl3,
           CAST(o_orderkey >> 2 AS BIGINT) AS shr2,
           CAST(~o_orderkey AS BIGINT) AS negated,
           CAST(bit_count(o_orderkey) AS BIGINT) AS popcount
    FROM orders WHERE o_orderkey <= 500
    ORDER BY o_orderkey
    """,
    doc="Bitwise operator family (Spark superset; the toolkit behind "
    "the z-order and sign-LSH operators): AND/OR/XOR/shifts/NOT/"
    "popcount — Spark's ^ is DuckDB's xor(), shiftleft/shiftright are "
    "<< / >>; two's-complement semantics match bit-for-bit on BIGINT.",
    tags=("expr", "superset"),
)

sql_query(
    "fn_datetime_extended",
    """
    SELECT o_orderkey,
           CAST(CAST(date_trunc('month', o_orderdate) AS DATE) AS STRING)
             AS month_start,
           CAST(CAST(add_months(o_orderdate, 2) AS DATE) AS STRING)
             AS plus2m,
           CAST(datediff(TIMESTAMP '1998-01-01', o_orderdate) AS BIGINT)
             AS days_to_98,
           CAST(CAST(last_day(o_orderdate) AS DATE) AS STRING) AS month_end,
           CAST(weekday(o_orderdate) AS BIGINT) AS wd,
           CAST(quarter(o_orderdate) AS BIGINT) AS qtr,
           CAST(dayofyear(o_orderdate) AS BIGINT) AS doy
    FROM orders WHERE o_orderkey <= 400
    ORDER BY o_orderkey
    """,
    oracle="""
    SELECT o_orderkey,
           strftime(date_trunc('month', o_orderdate), '%Y-%m-%d')
             AS month_start,
           strftime(o_orderdate + INTERVAL 2 MONTH, '%Y-%m-%d') AS plus2m,
           CAST(datediff('day', o_orderdate, TIMESTAMP '1998-01-01') AS BIGINT)
             AS days_to_98,
           strftime(last_day(CAST(o_orderdate AS DATE)), '%Y-%m-%d')
             AS month_end,
           CAST(isodow(o_orderdate) - 1 AS BIGINT) AS wd,
           CAST(quarter(o_orderdate) AS BIGINT) AS qtr,
           CAST(dayofyear(o_orderdate) AS BIGINT) AS doy
    FROM orders WHERE o_orderkey <= 400
    ORDER BY o_orderkey
    """,
    doc="Extended datetime functions (Spark superset; every date "
    "function is TODO in the reference): date_trunc, add_months "
    "(month-end clamped, = DuckDB interval addition), datediff "
    "(argument order differs per dialect), last_day, weekday "
    "(Spark 0=Monday = DuckDB isodow-1), quarter, dayofyear. Dates "
    "emitted as ISO strings per the cross-engine convention.",
    tags=("expr", "functions", "datetime", "superset"),
)

sql_query(
    "fn_strings_regex",
    """
    SELECT c_custkey,
           regexp_extract(c_name, '([0-9]+)', 1) AS digits,
           regexp_replace(c_mktsegment, '[AEIOU]', '_') AS devoweled,
           CAST(regexp_count(c_name, '0') AS BIGINT) AS zeros,
           CAST(instr(c_name, '#') AS BIGINT) AS hash_pos,
           translate(c_mktsegment, 'AEI', 'aei') AS translated
    FROM customer WHERE c_custkey <= 150
    ORDER BY c_custkey
    """,
    oracle="""
    SELECT c_custkey,
           regexp_extract(c_name, '([0-9]+)', 1) AS digits,
           regexp_replace(c_mktsegment, '[AEIOU]', '_', 'g') AS devoweled,
           CAST(len(regexp_extract_all(c_name, '0')) AS BIGINT) AS zeros,
           CAST(strpos(c_name, '#') AS BIGINT) AS hash_pos,
           translate(c_mktsegment, 'AEI', 'aei') AS translated
    FROM customer WHERE c_custkey <= 150
    ORDER BY c_custkey
    """,
    doc="Regex + positional string functions (Spark superset): "
    "regexp_extract group capture, regexp_replace (Spark replaces ALL "
    "matches — DuckDB needs the 'g' flag to agree), regexp_count "
    "(DuckDB spells it len(regexp_extract_all)), instr/strpos, "
    "translate. The text-pipeline's regex layer proven cross-engine.",
    tags=("expr", "functions", "strings", "superset"),
)

sql_query(
    "win_ignore_nulls_ffill",
    """
    WITH s AS (
      SELECT event_id, user_id, ts,
             CASE WHEN event_id % 5 = 0 THEN CAST(NULL AS DOUBLE)
                  ELSE value END AS v
      FROM events WHERE user_id <= 20
    )
    SELECT event_id, user_id, v,
           last_value(v) IGNORE NULLS OVER (
             PARTITION BY user_id
             ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v_ffill,
           first_value(v) IGNORE NULLS OVER (
             PARTITION BY user_id
             ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v_first
    FROM s
    ORDER BY user_id, ts, event_id
    """,
    oracle="""
    WITH s AS (
      SELECT event_id, user_id, ts,
             CASE WHEN event_id % 5 = 0 THEN CAST(NULL AS DOUBLE)
                  ELSE value END AS v
      FROM events WHERE user_id <= 20
    )
    SELECT event_id, user_id, v,
           last_value(v IGNORE NULLS) OVER (
             PARTITION BY user_id
             ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v_ffill,
           first_value(v IGNORE NULLS) OVER (
             PARTITION BY user_id
             ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v_first
    FROM s
    ORDER BY user_id, ts, event_id
    """,
    doc="IGNORE NULLS window functions — forward fill (the time-series "
    "gap-filling primitive: carry the last non-null observation) and "
    "first-observation via one growing frame per user. Spark spells "
    "IGNORE NULLS after the argument list, DuckDB inside it; the "
    "(ts, event_id) order is total so the fill is deterministic. At "
    "scale this is one user-keyed window shuffle — the same plan as "
    "the as-of join's carry-forward half.",
    tags=("window", "timeseries", "superset"),
)

sql_query(
    "expr_array_setops",
    """
    WITH t AS (
      SELECT o_orderkey,
             array(CAST(o_orderkey % 5 AS BIGINT),
                   CAST(o_orderkey % 3 AS BIGINT)) AS a,
             array(CAST(o_orderkey % 3 AS BIGINT),
                   CAST(o_orderkey % 7 AS BIGINT)) AS b
      FROM orders WHERE o_orderkey <= 300
    )
    SELECT o_orderkey,
           concat_ws(',', sort_array(array_intersect(a, b))) AS inter,
           concat_ws(',', sort_array(array_union(a, b))) AS uni,
           concat_ws(',', sort_array(array_except(a, b))) AS diff,
           array_contains(a, CAST(1 AS BIGINT)) AS has_one
    FROM t
    ORDER BY o_orderkey
    """,
    oracle="""
    WITH t AS (
      SELECT o_orderkey,
             [CAST(o_orderkey % 5 AS BIGINT),
              CAST(o_orderkey % 3 AS BIGINT)] AS a,
             [CAST(o_orderkey % 3 AS BIGINT),
              CAST(o_orderkey % 7 AS BIGINT)] AS b
      FROM orders WHERE o_orderkey <= 300
    )
    SELECT o_orderkey,
           COALESCE(array_to_string(list_sort(list_distinct(
             list_filter(a, x -> list_contains(b, x)))), ','), '') AS inter,
           COALESCE(array_to_string(list_sort(list_distinct(a || b)), ','), '')
             AS uni,
           COALESCE(array_to_string(list_sort(list_distinct(
             list_filter(a, x -> NOT list_contains(b, x)))), ','), '') AS diff,
           list_contains(a, CAST(1 AS BIGINT)) AS has_one
    FROM t
    ORDER BY o_orderkey
    """,
    doc="Array set operations (Spark superset): array_intersect/"
    "union/except (set semantics — deduplicating, spelled as "
    "distinct+filter compositions in DuckDB) plus membership. Results "
    "sorted then string-joined so the comparison is order- and "
    "representation-stable (array cells hash differently across "
    "engines — the expr_array lesson from r2; DuckDB additionally "
    "returns NULL, not the empty string, when joining an empty list, "
    "hence the COALESCE).",
    tags=("expr", "array", "superset"),
)

sql_query(
    "order_nulls_placement",
    """
    SELECT o_orderkey,
           CASE WHEN o_orderkey % 7 = 0 THEN NULL
                ELSE o_totalprice END AS price_or_null
    FROM orders
    WHERE o_orderkey <= 200
    ORDER BY price_or_null DESC NULLS LAST, o_orderkey
    """,
    doc="Explicit NULLS LAST ordering (Spark superset; the reference "
    "frontend rejects NULLS FIRST/LAST and strict mode mirrors that). "
    "The explicit placement is what makes the cross-engine ORDER "
    "comparable at all: Spark defaults ascending NULLS FIRST, DuckDB "
    "NULLS LAST — without the clause the same query returns "
    "differently-ordered rows on each engine. Compared as an ordered "
    "sequence (o_orderkey tie-break).",
    tags=("ordering", "nulls", "superset"),
)


@df_query(
    "fn_url_parse",
    oracle="""
    WITH urls(id, url) AS (VALUES
      (1, 'https://docs.example.com/guide/intro?lang=en&v=2#top'),
      (2, 'http://example.org:8080/api/v1/items?id=77'),
      (3, 'https://cdn.example.net/assets/logo.png'),
      (4, 'ftp://files.example.com/pub/data.csv')
    )
    SELECT id,
           regexp_extract(url, '^([a-z]+)://', 1) AS protocol,
           regexp_extract(url, '^[a-z]+://([^/:?#]+)', 1) AS host,
           regexp_extract(url, '^[a-z]+://[^/?#]+(/[^?#]*)', 1) AS path,
           NULLIF(regexp_extract(url, '\\?([^#]*)', 1), '') AS query
    FROM urls
    ORDER BY id
    """,
    doc="URL parsing family (Spark parse_url over PROTOCOL/HOST/PATH/"
    "QUERY — the web-scrape pipeline staple; Spark superset, the "
    "reference has no URL functions). Inline VALUES input (the "
    "values_inline_join precedent); the oracle replays each component "
    "as an anchored regex, with empty-match QUERY normalized to NULL "
    "to match parse_url's absent-component semantics. Pure codegen "
    "map.",
    tags=("functions", "superset", "url"),
)
def fn_url_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    urls = local_df(
        spark,
        [
            (1, "https://docs.example.com/guide/intro?lang=en&v=2#top"),
            (2, "http://example.org:8080/api/v1/items?id=77"),
            (3, "https://cdn.example.net/assets/logo.png"),
            (4, "ftp://files.example.com/pub/data.csv"),
        ],
        "id int, url string",
    )
    return urls.select(
        "id",
        F.parse_url("url", F.lit("PROTOCOL")).alias("protocol"),
        F.parse_url("url", F.lit("HOST")).alias("host"),
        F.parse_url("url", F.lit("PATH")).alias("path"),
        F.parse_url("url", F.lit("QUERY")).alias("query"),
    ).orderBy("id")
