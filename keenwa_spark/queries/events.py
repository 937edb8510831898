"""Batch event-analytics queries over the ``events`` table.

Beyond-reference surface (keenwa has no event/time-series operators —
SURVEY.md §2 streaming note): sessionization, event-type rollups,
top-k users, daily activity, and funnel analysis, all expressed as
declarative DataFrame/SQL plans.

Scale design: every query here is a single shuffle on ``user_id`` (or
one agg shuffle on a low-cardinality key). Sessionization is the
classic lag→flag→cumsum window chain — at 100 TB this partitions by
user_id and sorts within partitions; no driver-side state, no UDFs.

``events.ts`` arrives as parquet TIMESTAMP(NANOS); the catalog view
exposes it as a micros timestamp (see catalog.py). Epoch seconds:
Spark ``unix_timestamp`` vs DuckDB ``epoch`` — oracle text differs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from keenwa_spark.queries import df_query, sql_query

sql_query(
    "ev_type_rollup",
    """
    SELECT
      event_type,
      COUNT(*) AS n_events,
      COUNT(DISTINCT user_id) AS n_users,
      CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value,
      CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) / COUNT(value) AS avg_value
    FROM events
    GROUP BY event_type
    """,
    doc="Event-type rollup: counts, distinct users, decimal-exact value "
    "sums. Map-side partial agg; single shuffle on a 5-value key.",
    tags=("events", "aggregate"),
)

sql_query(
    "ev_daily_activity",
    """
    SELECT
      CAST(CAST(date_trunc('day', ts) AS DATE) AS STRING) AS day,
      COUNT(*) AS n_events,
      COUNT(DISTINCT user_id) AS dau
    FROM events
    GROUP BY date_trunc('day', ts)
    """,
    doc="Daily activity + DAU. date_trunc is shared dialect; day emitted "
    "as an ISO string (cross-engine timestamp convention).",
    tags=("events", "aggregate"),
)

sql_query(
    "ev_topk_users",
    """
    SELECT
      user_id,
      COUNT(*) AS n_purchases,
      CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS spend
    FROM events
    WHERE event_type = 'purchase'
    GROUP BY user_id
    ORDER BY spend DESC, user_id
    LIMIT 10
    """,
    doc="Top-k spenders: filter → agg → TakeOrderedAndProject; "
    "unique user_id tie-break.",
    tags=("events", "topk"),
)

sql_query(
    "ev_sessionize",
    """
    WITH flagged AS (
      SELECT
        user_id,
        ts,
        event_type,
        CASE
          WHEN unix_timestamp(ts) - unix_timestamp(
            LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
          ) > 1800 OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
          THEN 1 ELSE 0
        END AS new_session,
        event_id
      FROM events
    ),
    sessioned AS (
      SELECT
        user_id,
        ts,
        event_id,
        CAST(SUM(new_session) OVER (
          PARTITION BY user_id ORDER BY ts, event_id
        ) AS BIGINT) AS session_seq
      FROM flagged
    )
    SELECT
      user_id,
      session_seq,
      COUNT(*) AS n_events,
      CAST(MAX(unix_timestamp(ts)) - MIN(unix_timestamp(ts)) AS BIGINT)
        AS duration_sec
    FROM sessioned
    GROUP BY user_id, session_seq
    """,
    oracle="""
    WITH flagged AS (
      SELECT
        user_id,
        ts,
        event_type,
        CASE
          WHEN epoch(ts) - epoch(
            LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
          ) > 1800 OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
          THEN 1 ELSE 0
        END AS new_session,
        event_id
      FROM events
    ),
    sessioned AS (
      SELECT
        user_id,
        ts,
        event_id,
        CAST(SUM(new_session) OVER (
          PARTITION BY user_id ORDER BY ts, event_id
        ) AS BIGINT) AS session_seq
      FROM flagged
    )
    SELECT
      user_id,
      session_seq,
      COUNT(*) AS n_events,
      CAST(FLOOR(MAX(epoch(ts))) - FLOOR(MIN(epoch(ts))) AS BIGINT)
        AS duration_sec
    FROM sessioned
    GROUP BY user_id, session_seq
    """,
    doc="Sessionization with a 30-minute inactivity gap: lag → new-session "
    "flag → running-sum session id → per-session stats. One shuffle on "
    "user_id reused by both windows and the final aggregate (same "
    "partitioning key). Epoch fns differ: unix_timestamp vs epoch; "
    "DuckDB epoch() returns fractional seconds → FLOOR for parity with "
    "Spark's integer unix_timestamp.",
    tags=("events", "window", "sessionize"),
)

sql_query(
    "ev_funnel",
    """
    WITH stage_times AS (
      SELECT
        user_id,
        MIN(CASE WHEN event_type = 'view' THEN ts END)     AS t_view,
        MIN(CASE WHEN event_type = 'click' THEN ts END)    AS t_click,
        MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS t_purchase
      FROM events
      GROUP BY user_id
    )
    SELECT
      COUNT(*) AS n_users,
      COUNT(CASE WHEN t_view IS NOT NULL THEN 1 END) AS viewed,
      COUNT(CASE WHEN t_view IS NOT NULL AND t_click > t_view THEN 1 END)
        AS clicked_after_view,
      COUNT(CASE WHEN t_view IS NOT NULL AND t_click > t_view
                  AND t_purchase > t_click THEN 1 END)
        AS purchased_after_click
    FROM stage_times
    """,
    doc="Ordered funnel view→click→purchase via conditional MIN pivot — "
    "single agg pass, no self-joins (the at-scale pattern; a 3-way "
    "self-join would shuffle the fact table three times).",
    tags=("events", "funnel"),
)

sql_query(
    "ev_cohort_retention",
    """
    WITH firsts AS (
      SELECT user_id, CAST(MIN(date_trunc('day', ts)) AS DATE) AS cohort_day
      FROM events GROUP BY user_id
    ),
    activity AS (
      SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS DATE) AS act_day
      FROM events
    )
    SELECT
      CAST(f.cohort_day AS STRING) AS cohort,
      CAST(datediff(a.act_day, f.cohort_day) AS BIGINT) AS day_offset,
      COUNT(DISTINCT a.user_id) AS active_users
    FROM firsts f
    JOIN activity a ON a.user_id = f.user_id
    WHERE datediff(a.act_day, f.cohort_day) IN (0, 1, 7, 14)
    GROUP BY f.cohort_day, datediff(a.act_day, f.cohort_day)
    """,
    oracle="""
    WITH firsts AS (
      SELECT user_id, CAST(MIN(date_trunc('day', ts)) AS DATE) AS cohort_day
      FROM events GROUP BY user_id
    ),
    activity AS (
      SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS DATE) AS act_day
      FROM events
    )
    SELECT
      CAST(f.cohort_day AS STRING) AS cohort,
      CAST(date_diff('day', f.cohort_day, a.act_day) AS BIGINT) AS day_offset,
      COUNT(DISTINCT a.user_id) AS active_users
    FROM firsts f
    JOIN activity a ON a.user_id = f.user_id
    WHERE date_diff('day', f.cohort_day, a.act_day) IN (0, 1, 7, 14)
    GROUP BY f.cohort_day, date_diff('day', f.cohort_day, a.act_day)
    """,
    doc="Cohort retention matrix (day-0 cohort = first-seen day; "
    "retention at offsets 0/1/7/14): two aggregations over one "
    "user_id-partitioned scan — the standard growth-analytics shape. "
    "Spark datediff(end, start) vs DuckDB date_diff('day', start, end).",
    tags=("events", "retention"),
)

sql_query(
    "ev_props_json",
    """
    SELECT
      event_type,
      CAST(SUM(CAST(get_json_object(props, '$.k') AS BIGINT)) AS BIGINT) AS k_total,
      COUNT(*) AS n
    FROM events
    WHERE get_json_object(props, '$.k') IS NOT NULL
    GROUP BY event_type
    """,
    oracle="""
    SELECT
      event_type,
      CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS k_total,
      COUNT(*) AS n
    FROM events
    WHERE json_extract_string(props, '$.k') IS NOT NULL
    GROUP BY event_type
    """,
    doc="Semi-structured props column: JSON path extraction + typed "
    "aggregation (Spark get_json_object vs DuckDB json_extract_string).",
    tags=("events", "json"),
)


@df_query(
    "ev_gap_stats",
    oracle="""
    WITH gaps AS (
      SELECT user_id,
             epoch_us(ts) - lag(epoch_us(ts)) OVER (
               PARTITION BY user_id ORDER BY ts, event_id) AS gap_us
      FROM events
    )
    SELECT user_id,
           CAST(COUNT(gap_us) AS BIGINT) AS n_gaps,
           CAST(MIN(gap_us) AS BIGINT) AS min_gap_us,
           CAST(MAX(gap_us) AS BIGINT) AS max_gap_us,
           CAST(SUM(gap_us) AS BIGINT) AS total_gap_us
    FROM gaps
    WHERE gap_us IS NOT NULL
    GROUP BY user_id
    ORDER BY user_id
    """,
    doc="Inter-event gap statistics per user: lag() under the total "
    "(ts, event_id) order yields exact integral microsecond gaps "
    "(BIGINT arithmetic — no float drift), then min/max/sum/count per "
    "user. One user-keyed window + the aggregate reusing the same "
    "partitioning — the cadence-profiling pass behind session-gap "
    "threshold tuning.",
    tags=("events", "timeseries"),
)
def ev_gap_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gaps = spark.table("events").select(
        "user_id",
        (
            F.unix_micros("ts")
            - F.lag(F.unix_micros("ts")).over(w)
        ).alias("gap_us"),
    )
    return (
        gaps.where(F.col("gap_us").isNotNull())
        .groupBy("user_id")
        .agg(
            F.count("gap_us").cast("bigint").alias("n_gaps"),
            F.min("gap_us").cast("bigint").alias("min_gap_us"),
            F.max("gap_us").cast("bigint").alias("max_gap_us"),
            F.sum("gap_us").cast("bigint").alias("total_gap_us"),
        )
        .orderBy("user_id")
    )


@df_query(
    "ev_props_typed",
    oracle="""
    SELECT event_id,
           CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
    FROM events
    WHERE event_id <= 500
    ORDER BY event_id
    """,
    doc="Schema-on-read JSON: from_json with an explicit schema parses "
    "props into a typed struct at the scan (one parse, typed access) — "
    "versus get_json_object's per-path string extraction in "
    "ev_props_json. At scale the struct parse wins whenever more than "
    "one field is read; both are codegen, no Python.",
    tags=("events", "json"),
)
def ev_props_typed(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        spark.table("events")
        .where("event_id <= 500")
        .select(
            "event_id",
            F.from_json("props", "k BIGINT").getField("k").alias("k"),
        )
        .orderBy("event_id")
    )


@df_query(
    "ev_type_cooccurrence",
    oracle="""
    WITH baskets AS (
      SELECT DISTINCT user_id, CAST(ts AS DATE) AS day, event_type
      FROM events
    ),
    totals AS (
      SELECT CAST(COUNT(DISTINCT (user_id, day)) AS BIGINT) AS n_baskets
      FROM baskets
    ),
    singles AS (
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n FROM baskets
      GROUP BY event_type
    ),
    pairs AS (
      SELECT a.event_type AS t1, b.event_type AS t2,
             CAST(COUNT(*) AS BIGINT) AS n_both
      FROM baskets a
      JOIN baskets b
        ON a.user_id = b.user_id AND a.day = b.day
       AND a.event_type < b.event_type
      GROUP BY 1, 2
    )
    SELECT p.t1, p.t2, p.n_both,
           s1.n AS n_t1, s2.n AS n_t2, t.n_baskets,
           CAST(p.n_both * t.n_baskets AS DOUBLE) / (s1.n * s2.n) AS lift
    FROM pairs p
    JOIN singles s1 ON s1.event_type = p.t1
    JOIN singles s2 ON s2.event_type = p.t2
    CROSS JOIN totals t
    ORDER BY t1, t2
    """,
    doc="Market-basket affinity of event types: baskets are (user, "
    "day), support counts and lift per type pair. JOIN-FREE pair "
    "expansion (round 8 — the r5 basket self-join's probe cost crept "
    "0.46->0.53->0.7s across rounds): each basket's type set is built "
    "by ONE groupBy (dedup inside collect_set, bounded by the type "
    "domain, not by events), and the C(|types|,2) ordered pairs come "
    "from a JVM-side higher-order transform over the sorted set — so "
    "the whole query is one shuffle on (user, day) + tiny map-side-"
    "combinable pair counts, with the per-type totals and basket count "
    "derived from the SAME persisted frame and broadcast back. "
    "Measured (interleaved A/B at sf0.1, 5 runs each): min 1.27s vs "
    "the self-join's 1.17s — parity inside noise in this overhead-"
    "dominated regime; chosen because the exchanged volume drops from "
    "three basket-frame exchanges (SMJ both sides + distinct) to one, "
    "which is what matters at 100x. Oracle replays basket "
    "construction, pairing, and lift in DuckDB.",
    tags=("events", "analytics", "affinity"),
)
def ev_type_cooccurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    bsets = (
        spark.table("events")
        .select("user_id", F.to_date("ts").alias("day"), "event_type")
        .groupBy("user_id", "day")
        .agg(F.sort_array(F.collect_set("event_type")).alias("types"))
        # three consumers (totals, singles, pairs) — persist the
        # bounded basket frame (one row per (user, day)) so the raw
        # scan + its single shuffle run once, not three times
        .persist()
    )
    totals = bsets.agg(F.count(F.lit(1)).cast("bigint").alias("n_baskets"))
    singles = bsets.select(F.explode("types").alias("event_type")).groupBy(
        "event_type"
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    # sorted set => i < j gives t1 < t2 exactly once per unordered pair
    pairs = (
        bsets.select(
            F.explode(
                F.expr(
                    "flatten(transform(types, (x, i) -> transform("
                    "slice(types, i + 2, size(types)), "
                    "y -> struct(x AS t1, y AS t2))))"
                )
            ).alias("p")
        )
        .groupBy(F.col("p.t1").alias("t1"), F.col("p.t2").alias("t2"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_both"))
    )
    s1 = singles.select(
        F.col("event_type").alias("t1"), F.col("n").alias("n_t1")
    )
    s2 = singles.select(
        F.col("event_type").alias("t2"), F.col("n").alias("n_t2")
    )
    return (
        pairs.join(F.broadcast(s1), "t1")
        .join(s2, "t2")
        .crossJoin(totals)
        .select(
            "t1", "t2", "n_both", "n_t1", "n_t2", "n_baskets",
            (
                (F.col("n_both") * F.col("n_baskets")).cast("double")
                / (F.col("n_t1") * F.col("n_t2"))
            ).alias("lift"),
        )
        .orderBy("t1", "t2")
    )


@df_query(
    "ev_sequence_pattern",
    oracle="""
    WITH ch AS (
      SELECT user_id, epoch_us(ts) AS e, event_id,
             CASE event_type
               WHEN 'view' THEN 'v'
               WHEN 'click' THEN 'c'
               WHEN 'purchase' THEN 'p'
               ELSE '_' END AS c
      FROM events
    ),
    seq AS (
      SELECT user_id, string_agg(c, '' ORDER BY e, event_id) AS s
      FROM ch GROUP BY user_id
    )
    SELECT user_id,
           CAST(length(s) AS BIGINT) AS seq_len,
           CAST(len(regexp_extract_all(s, 'vc*p')) AS BIGINT) AS n_matches
    FROM seq ORDER BY user_id
    """,
    doc="MATCH_RECOGNIZE-lite: each user's events encoded as a "
    "time-ordered character string, funnel occurrences counted by "
    "regex — 'view, any clicks, then purchase' is vc*p "
    "(operators/sequence.py sequence_pattern_count: one key shuffle, "
    "in-array sort with event_id tie-break, JVM regex per key); "
    "oracle replays the encoding with ordered string_agg and "
    "regexp_extract_all in DuckDB.",
    tags=("events", "sequence", "funnel"),
)
def ev_sequence_pattern(spark: SparkSession, sf_dir: str) -> DataFrame:
    from keenwa_spark.operators.sequence import sequence_pattern_count

    return sequence_pattern_count(
        spark.table("events"),
        keys=["user_id"],
        ts_col="ts",
        event_col="event_type",
        mapping={"view": "v", "click": "c", "purchase": "p"},
        pattern="vc*p",
        tie_cols=["event_id"],
    ).orderBy("user_id")


@df_query(
    "ev_type_diversity",
    oracle="""
    WITH c AS (
      SELECT user_id, event_type, CAST(COUNT(*) AS BIGINT) AS n_i
      FROM events GROUP BY user_id, event_type
    )
    SELECT user_id,
           CAST(SUM(n_i) AS BIGINT) AS n_events,
           CAST(COUNT(*) AS BIGINT) AS n_types,
           1.0 - CAST(SUM(n_i * n_i) AS DOUBLE)
               / (CAST(SUM(n_i) AS DOUBLE) * CAST(SUM(n_i) AS DOUBLE))
             AS gini_diversity
    FROM c GROUP BY user_id ORDER BY user_id
    """,
    doc="Engagement diversity per user as GINI IMPURITY of the "
    "event-type distribution (1 - sum p_i^2): 0 = single-type user, "
    "-> 0.8 = uniform across 5 types. Gini instead of Shannon entropy "
    "is deliberate — it is a RATIONAL function of exact integer "
    "counts (two BIGINT sums, one division), so it hash-matches "
    "cross-engine where entropy's ln() diverges in ulp (same "
    "discipline as the BM25/LM rational forms). Two map-side-combined "
    "aggregations over one scan.",
    tags=("events", "analytics", "diversity"),
)
def ev_type_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = (
        spark.table("events")
        .groupBy("user_id", "event_type")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_i"))
    )
    n = F.sum("n_i").cast("bigint")
    return (
        c.groupBy("user_id")
        .agg(
            n.alias("n_events"),
            F.count(F.lit(1)).cast("bigint").alias("n_types"),
            (
                F.lit(1.0)
                - F.sum(F.col("n_i") * F.col("n_i")).cast("double")
                / (n.cast("double") * n.cast("double"))
            ).alias("gini_diversity"),
        )
        .orderBy("user_id")
    )


@df_query(
    "ev_session_window_builtin",
    oracle="""
    WITH flagged AS (
      SELECT user_id, ts, event_id,
             CASE WHEN epoch_us(ts) - epoch_us(LAG(ts) OVER (
                    PARTITION BY user_id ORDER BY ts, event_id
                  )) >= 1800000000
                  OR LAG(ts) OVER (
                    PARTITION BY user_id ORDER BY ts, event_id
                  ) IS NULL
             THEN 1 ELSE 0 END AS new_session
      FROM events
      WHERE ts IS NOT NULL
    ),
    sessioned AS (
      SELECT user_id, ts,
             SUM(new_session) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
             ) AS session_seq
      FROM flagged
    )
    SELECT user_id,
           strftime(MIN(ts), '%Y-%m-%d %H:%M:%S.%f') AS session_start,
           strftime(MAX(ts) + INTERVAL 30 MINUTE,
                    '%Y-%m-%d %H:%M:%S.%f') AS session_end,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM sessioned
    GROUP BY user_id, session_seq
    ORDER BY user_id, session_start
    """,
    doc="Spark's BUILT-IN session_window aggregation (batch mode, "
    "30-minute gap) cross-validated against the hand-rolled lag/"
    "cumsum sessionization: the oracle derives identical sessions in "
    "DuckDB — including the boundary rule (a gap of EXACTLY the "
    "timeout starts a new session; session_window ends are exclusive) "
    "and the gap-padded session_end. One user_id shuffle either way; "
    "the builtin additionally merges sessions inside the aggregation "
    "operator, the shape watermarked streaming reuses (st_session_stats). "
    "NULL-ts events are unsessionizable and dropped by the builtin; "
    "the oracle filters them to the same contract.",
    tags=("events", "sessionize", "window"),
)
def ev_session_window_builtin(spark: SparkSession, sf_dir: str) -> DataFrame:
    sw = F.session_window("ts", "30 minutes")
    return (
        spark.table("events")
        .groupBy("user_id", sw)
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_events"))
        .select(
            "user_id",
            F.date_format(
                "session_window.start", "yyyy-MM-dd HH:mm:ss.SSSSSS"
            ).alias("session_start"),
            F.date_format(
                "session_window.end", "yyyy-MM-dd HH:mm:ss.SSSSSS"
            ).alias("session_end"),
            "n_events",
        )
        .orderBy("user_id", "session_start")
    )


@df_query(
    "ev_spend_gini",
    oracle="""
    WITH spend AS (
      SELECT user_id,
             SUM(CAST(value AS DECIMAL(18,6))) AS s
      FROM events WHERE event_type = 'purchase'
      GROUP BY user_id
    ),
    ranked AS (
      SELECT user_id, s,
             ROW_NUMBER() OVER (ORDER BY s, user_id) AS i,
             COUNT(*) OVER () AS n
      FROM spend
    )
    SELECT CAST(MAX(n) AS BIGINT) AS n_users,
           CAST(SUM(s) AS DOUBLE) AS total_spend,
           CAST(SUM(CAST(s AS DECIMAL(20,6))
                    * CAST(2 * i - n - 1 AS DECIMAL(6,0))) AS DOUBLE)
             / (MAX(n) * CAST(SUM(s) AS DOUBLE)) AS gini
    FROM ranked
    """,
    doc="Gini coefficient of purchase-spend concentration across "
    "users (0 = equal, 1 = one user owns everything) — the standard "
    "inequality read on any revenue or token-budget distribution. "
    "EXACT end-to-end: per-user spends are decimal sums, each "
    "Lorenz term (2i - n - 1) x spend multiplies width-checked "
    "decimals (the TWA width choreography), and the grand sum stays "
    "decimal until ONE final double division. The Lorenz rank i is "
    "the two-pass range-bucket row number (operators/ordered.py): "
    "parallel per-bucket windows + broadcast exclusive offsets from "
    "exact bucket counts — no single-partition window even at "
    "billion-user cardinality (VERDICT r05 item 3).",
    tags=("events", "analytics", "gini"),
)
def ev_spend_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    from keenwa_spark.operators.ordered import with_global_row_number

    spend = (
        spark.table("events")
        .where(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.sum(F.col("value").cast("decimal(18,6)")).alias("s"))
        # numeric shadow for quantile bucketing: double cast is
        # monotone in s, ties share a bucket, rank order stays exact
        .withColumn("__sd", F.col("s").cast("double"))
    )
    ranked = with_global_row_number(
        spend,
        order_by=["s", "user_id"],
        bucket_col="__sd",
        out_col="i",
        # mega-tie guard: if one spend value dominates (e.g. a default
        # price), its bucket sub-splits by the numeric tie-break key
        tie_bucket_col="user_id",
    )
    totals = spend.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    term = F.col("s").cast("decimal(20,6)") * (
        F.lit(2) * F.col("i") - F.col("n") - F.lit(1)
    ).cast("decimal(6,0)")
    return ranked.crossJoin(totals).agg(
        F.max("n").cast("bigint").alias("n_users"),
        F.sum("s").cast("double").alias("total_spend"),
        (
            F.sum(term).cast("double")
            / (F.max("n") * F.sum("s").cast("double"))
        ).alias("gini"),
    )


@df_query(
    "ev_value_percentiles_exact",
    oracle="""
    WITH o AS (
      SELECT value AS v,
             ROW_NUMBER() OVER (ORDER BY value, event_id) AS rn
      FROM events WHERE value IS NOT NULL
    ),
    n AS (SELECT CAST(COUNT(*) AS BIGINT) AS c FROM o)
    SELECT
      (SELECT c FROM n) AS n_values,
      MAX(CASE WHEN rn = GREATEST(1, CAST(ceil(0.50 * n.c) AS BIGINT))
               THEN v END) AS p50,
      MAX(CASE WHEN rn = GREATEST(1, CAST(ceil(0.90 * n.c) AS BIGINT))
               THEN v END) AS p90,
      MAX(CASE WHEN rn = GREATEST(1, CAST(ceil(0.99 * n.c) AS BIGINT))
               THEN v END) AS p99
    FROM o, n
    """,
    doc="EXACT distributed percentiles (nearest-rank definition: the "
    "value at rank ceil(p*n)) over raw event values — the scale gap "
    "Spark's own exact percentile cannot close (F.percentile collects "
    "the group's values into one aggregator's memory; at 100 TB that "
    "is an OOM, which is why quality.py documents an approx_percentile "
    "swap). Here the rank comes from the two-pass range-bucket row "
    "number (operators/ordered.py — parallel per-bucket windows, "
    "bounded driver state) and the three target ranks are picked by "
    "filter: exact answers, no value array ever materializes anywhere. "
    "Rank formula (ceil of an IEEE double product) is evaluated "
    "identically on both engines.",
    tags=("events", "percentile", "ordered"),
)
def ev_value_percentiles_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    import math

    from keenwa_spark.operators.ordered import with_global_row_number

    vals = (
        spark.table("events")
        .where(F.col("value").isNotNull())
        .select(F.col("value").alias("v"), "event_id")
    )
    n = vals.count()
    ks = {p: max(1, math.ceil(p * n)) for p in (0.50, 0.90, 0.99)}
    ranked = with_global_row_number(
        vals, order_by=["v", "event_id"], bucket_col="v", out_col="rn"
    )
    picked = ranked.where(F.col("rn").isin(list(ks.values())))
    return picked.agg(
        F.lit(n).cast("bigint").alias("n_values"),
        F.max(F.when(F.col("rn") == ks[0.50], F.col("v"))).alias("p50"),
        F.max(F.when(F.col("rn") == ks[0.90], F.col("v"))).alias("p90"),
        F.max(F.when(F.col("rn") == ks[0.99], F.col("v"))).alias("p99"),
    )
