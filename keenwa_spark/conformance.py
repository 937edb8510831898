"""Executable conformance corpus over the reference's test catalog.

The reference proves its SQL surface with golden *plan-text* tests: 17
YAML files, ~2,400 lines of ok/error cases over a tiny int-typed
catalog ``a(a1..a4), b(b1..b3), c(c1..c3), ab(a1, b2)`` (catalog at
reference ``src/sql/mod.rs:1432-1443``; harness format
``src/sql/testing/runner.rs:9-80``). It can only check plans — it has
no executor. We DO execute, so this module upgrades that layer: the
same catalog shape gets small deterministic data (with NULLs and
duplicate keys, so outer-join/set-op/null semantics are actually
exercised), and every corpus case runs on BOTH Spark and DuckDB with a
canonicalized result compare.

The corpus queries are written fresh, family-by-family against the
same surface the reference's YAML files cover (file names cited per
block); they are not transcriptions of the YAML texts.

Scale note: this is a conformance kit, not a data path — the mini
catalog is driver-local by design. The engine's scale behavior is
proven separately (SCALE.md, tests/test_plan_shape.py).
"""

from __future__ import annotations

import datetime
import itertools
import math
from collections.abc import Callable
from dataclasses import dataclass, field

# ---------------------------------------------------------------------------
# Mini-catalog: reference src/sql/mod.rs:1432-1443 table shapes, plus data.
# NULLs, duplicate keys, and non-overlapping key ranges are deliberate:
# they make outer joins, set-op ALL multiplicities, and NOT IN null
# semantics distinguishable from accidental variants.
# ---------------------------------------------------------------------------

MINI_TABLES: dict[str, tuple[str, list[tuple]]] = {
    "a": (
        "a1 INT, a2 INT, a3 INT, a4 INT",
        [
            (1, 10, 100, 1000),
            (2, 20, 200, 2000),
            (3, 30, 300, 3000),
            (3, 30, 301, 3001),  # duplicate (a1, a2) for ALL-multiplicity
            (4, None, 400, 4000),  # NULL a2
            (5, 50, None, 5000),  # NULL a3
            (None, 60, 600, 6000),  # NULL key
        ],
    ),
    "b": (
        "b1 INT, b2 INT, b3 INT",
        [
            (1, 10, 11),
            (2, 20, 22),
            (2, 20, 23),  # duplicate b1/b2
            (6, 66, 67),  # key with no match in a
            (None, 70, 77),  # NULL key
        ],
    ),
    "c": (
        "c1 INT, c2 INT, c3 INT",
        [
            (1, 100, 1),
            (3, 300, 3),
            (7, 700, 7),
            (None, 800, 8),
        ],
    ),
    "ab": (
        "a1 INT, b2 INT",
        [
            (1, 10),
            (2, 20),
            (3, 99),
            (8, 80),
        ],
    ),
}


def register_mini_catalog(spark) -> None:
    """Register the mini tables as Spark temp views (idempotent).

    Views are SQL ``VALUES`` LocalRelations, not ``createDataFrame``
    results: the latter is a 32-partition Python-RDD relation whose
    scans each spawn a worker per partition — a fuzz program chaining
    two cross joins over such views multiplied partitions to 32^3 and
    spent MINUTES scheduling no-op tasks (round-10 builder-fuzz
    finding; same class as PlanBuilder.values). A LocalRelation scans
    JVM-side in one partition and lets Catalyst constant-fold."""
    for name, (schema, rows) in MINI_TABLES.items():
        cols = [c.strip().split()[0] for c in schema.split(",")]
        types = [c.strip().split()[1] for c in schema.split(",")]
        vals = ", ".join(
            "(" + ", ".join("NULL" if v is None else str(v) for v in row) + ")"
            for row in rows
        )
        casts = ", ".join(
            f"CAST(c{i} AS {t}) AS {n}"
            for i, (n, t) in enumerate(zip(cols, types))
        )
        inner_names = ", ".join(f"c{i}" for i in range(len(cols)))
        spark.sql(
            f"SELECT {casts} FROM (VALUES {vals}) AS v({inner_names})"
        ).createOrReplaceTempView(name)


def duckdb_mini_catalog():
    """Fresh in-memory DuckDB connection with the same tables."""
    import duckdb

    con = duckdb.connect()
    for name, (schema, rows) in MINI_TABLES.items():
        con.execute(f"CREATE TABLE {name} ({schema})")
        ncols = len(schema.split(","))
        placeholders = ", ".join("?" * ncols)
        con.executemany(f"INSERT INTO {name} VALUES ({placeholders})", rows)
    return con


# ---------------------------------------------------------------------------
# Corpus
# ---------------------------------------------------------------------------


@dataclass(frozen=True)
class Case:
    """One ok-case: run on Spark and DuckDB, compare canonical results.

    ordered=True compares row SEQUENCES (query must be tie-free and
    avoid NULL sort keys — Spark defaults NULLS FIRST, DuckDB NULLS
    LAST); otherwise rows compare as multisets.
    strict=False marks queries outside keenwa's strict dialect (kept
    in the corpus to pin the engine's documented Spark-native
    superset).
    duck_sql, when set, is the DuckDB-dialect spelling of the same
    computation (array literals/functions differ between engines).
    """

    family: str
    sql: str
    ordered: bool = False
    strict: bool = True
    duck_sql: str | None = None
    id: str = field(default="", compare=False)


def _cases(family: str, *sqls: str | tuple) -> list[Case]:
    out = []
    for i, s in enumerate(sqls):
        if isinstance(s, tuple):
            sql, kw = s
            out.append(Case(family, sql, id=f"{family}_{i:02d}", **kw))
        else:
            out.append(Case(family, s, id=f"{family}_{i:02d}"))
    return out


O = {"ordered": True}

# Mirrors reference basic_tests.yaml (226 lines): projections, stars,
# aliases, qualified refs, ORDER BY, LIMIT/OFFSET, column-renaming
# table aliases.
BASIC = _cases(
    "basic",
    "SELECT a1 FROM a",
    "SELECT A1 FROM A",
    "SELECT a.a1, a.a2 FROM a",
    "SELECT * FROM a",
    "SELECT a.* FROM a",
    "SELECT t.* FROM a AS t",
    "SELECT 1 AS one, * FROM a",
    "SELECT a1 + a2 AS s, a1 * 2 AS d FROM a",
    "SELECT t.x1, t.x2 FROM a AS t(x1, x2, x3, x4)",
    ("SELECT a1, a2 FROM a WHERE a1 > 2 ORDER BY a1, a3", O),
    ("SELECT a1 FROM a WHERE a1 IS NOT NULL ORDER BY a1 DESC, a3 DESC", O),
    ("SELECT DISTINCT a1 FROM a WHERE a1 IS NOT NULL ORDER BY a1 LIMIT 3", O),
    ("SELECT a1, a3 FROM a WHERE a1 IS NOT NULL ORDER BY a1 ASC, a3 ASC LIMIT 3 OFFSET 2", O),
    "SELECT count(*) FROM (SELECT a1 FROM a LIMIT 4) t",
    "TABLE a",
)

# Mirrors aggregate_tests.yaml (128 lines): the 5 aggregate functions,
# GROUP BY (incl. expression keys), HAVING, DISTINCT aggregates,
# global aggregates, COUNT(*) vs COUNT(col) null handling.
AGGREGATE = _cases(
    "aggregate",
    "SELECT count(*) AS n FROM a",
    "SELECT count(a2) AS n FROM a",  # skips NULL a2
    "SELECT count(DISTINCT a1) AS n FROM a",
    "SELECT sum(a1) AS s, min(a1) AS lo, max(a1) AS hi, avg(a1) AS m FROM a",
    "SELECT a1, count(*) AS n FROM a GROUP BY a1",
    "SELECT a1, sum(a2) AS s FROM a GROUP BY a1 HAVING sum(a2) > 20",
    "SELECT a1 % 2 AS parity, count(*) AS n FROM a WHERE a1 IS NOT NULL GROUP BY a1 % 2",
    "SELECT b1, b2, count(*) AS n, sum(b3) AS s FROM b GROUP BY b1, b2",
    "SELECT count(*) AS n FROM a GROUP BY a1 HAVING count(*) > 1",
    "SELECT sum(a1 + a2) AS s FROM a",
    "SELECT min(a2) AS lo, max(a2) AS hi FROM a WHERE a1 > 10",  # empty input -> NULLs
    "SELECT a1, avg(a3) AS m FROM a GROUP BY a1 HAVING avg(a3) >= 300",
)

# Mirrors window_aggregate_tests.yaml (297 lines): the 4 window
# functions + aggregates-as-window, multiple windows per query,
# windows over joins. NB: keenwa's frontend rejects window ORDER BY
# (sql/mod.rs:1339-1340) while Spark REQUIRES it for ranking functions
# — ranking cases are therefore strict=False (documented Spark-native
# superset; SURVEY §7 risk 3), and the strict dialect is pinned by the
# PARTITION-BY-only aggregate-window cases.
WINDOW = _cases(
    "window",
    (
        "SELECT a1, row_number() OVER (PARTITION BY a1 ORDER BY a3) AS rn "
        "FROM a WHERE a1 IS NOT NULL",
        {"strict": False},
    ),
    ("SELECT a1, a3, rank() OVER (ORDER BY a1) AS r FROM a WHERE a1 IS NOT NULL", {"strict": False}),
    ("SELECT b1, first_value(b3) OVER (PARTITION BY b1 ORDER BY b3) AS fv FROM b", {"strict": False}),
    (
        "SELECT b1, last_value(b3) OVER (PARTITION BY b1 ORDER BY b3 "
        "ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS lv FROM b",
        {"strict": False},
    ),
    "SELECT a1, sum(a3) OVER (PARTITION BY a1) AS s FROM a",
    "SELECT a1, count(*) OVER (PARTITION BY a1) AS n, avg(a3) OVER (PARTITION BY a1) AS m FROM a",
    (
        "SELECT a1, row_number() OVER (PARTITION BY a1 ORDER BY a3) AS rn, "
        "sum(a4) OVER (PARTITION BY a1) AS s FROM a",
        {"strict": False},
    ),
    (
        "SELECT x.a1, sum(x.a3) OVER (PARTITION BY x.a1) AS s "
        "FROM a x JOIN b ON x.a1 = b.b1"
    ),
    "SELECT max(a2) OVER (PARTITION BY a1) AS mx, a2 FROM a",
    # --- r11 additions (VERDICT r10 item 2): the multi-window and
    # window-over-aggregate shapes of window_aggregate_tests.yaml that
    # had no executed row. The reference nests one LogicalWindowAggregate
    # per distinct window spec; Catalyst plans one Window node per spec
    # the same way. Ranking cases are strict=False (window ORDER BY is
    # the documented Spark-superset — SURVEY §7 risk 3), tie-broken on
    # the unique non-null a4.
    (
        "SELECT rank() OVER (PARTITION BY a1, a2 ORDER BY a4) AS r1, "
        "row_number() OVER (ORDER BY a4) AS rn, a2, "
        "rank() OVER (PARTITION BY a1 ORDER BY a2) AS r2 FROM a",
        {"strict": False},
    ),
    (
        "SELECT rank() OVER (ORDER BY a4) AS r, "
        "row_number() OVER (PARTITION BY a1 ORDER BY a4) AS rn1, "
        "row_number() OVER (PARTITION BY a1 ORDER BY a4 DESC) AS rn2 FROM a",
        {"strict": False},
    ),
    # window evaluated OVER aggregate output (global and grouped)
    (
        "SELECT count(1) AS n, rank() OVER (ORDER BY count(1)) AS r FROM a",
        {"strict": False},
    ),
    (
        "SELECT a1, sum(a3) AS s, "
        "rank() OVER (ORDER BY sum(a3)) AS r FROM a "
        "WHERE a3 IS NOT NULL GROUP BY a1",
        {"strict": False},
    ),
    # aggregate-as-window over a joined input with a filter below
    (
        "SELECT x.a1, avg(x.a4) OVER (PARTITION BY b.b2) AS m "
        "FROM a x JOIN b ON x.a1 = b.b1 WHERE x.a1 > 1"
    ),
)

# Mirrors joins_tests.yaml + join_{inner,left,right,full,cross}_tests
# (187 lines): every JoinType variant (reference relational/join.rs:
# 12-29), ON/USING/NATURAL conditions, multi-way joins, non-equi ON.
JOINS = _cases(
    "joins",
    "SELECT a.a1, b.b2 FROM a JOIN b ON a.a1 = b.b1",
    "SELECT a.a1, b.b3 FROM a INNER JOIN b ON a.a1 = b.b1 AND b.b3 > 11",
    "SELECT a.a1, a.a2, b.b3 FROM a LEFT JOIN b ON a.a1 = b.b1",
    "SELECT a.a1, b.b1, b.b3 FROM a RIGHT JOIN b ON a.a1 = b.b1",
    "SELECT a.a1, b.b1 FROM a FULL JOIN b ON a.a1 = b.b1",
    "SELECT a.a1, b.b1 FROM a CROSS JOIN b",
    "SELECT a1, b.b3 FROM ab JOIN b USING (b2)",
    "SELECT a1 FROM a JOIN ab USING (a1)",
    # explicit column list: NATURAL JOIN output column ORDER differs
    # between engines (Spark puts the join key first) — semantics match
    "SELECT a1, b2, b1, b3 FROM ab NATURAL JOIN b",
    "SELECT x.a1, y.b1, z.c1 FROM a x JOIN b y ON x.a1 = y.b1 JOIN c z ON x.a1 = z.c1",
    "SELECT a.a1, b.b1 FROM a JOIN b ON a.a1 < b.b1",  # non-equi (NL join)
    "SELECT a.a1 FROM a LEFT JOIN b ON a.a1 = b.b1 WHERE b.b1 IS NULL",
    "SELECT c.c1, t.s FROM c JOIN (SELECT a1, sum(a3) AS s FROM a GROUP BY a1) t ON c.c1 = t.a1",
    "SELECT a.a1, ab.b2 FROM a JOIN ab ON a.a1 = ab.a1 AND a.a1 + ab.b2 > 12",
)

# Mirrors set_operator_tests.yaml (118 lines): UNION/INTERSECT/EXCEPT
# × [ALL], mixed with ordering and nesting. Reference set_ops.rs.
SETOPS = _cases(
    "setops",
    "SELECT a1 FROM a UNION SELECT b1 FROM b",
    "SELECT a1 FROM a UNION ALL SELECT b1 FROM b",
    "SELECT a1 FROM a INTERSECT SELECT b1 FROM b",
    "SELECT a1, a2 FROM a INTERSECT ALL SELECT b1, b2 FROM b",
    "SELECT a1 FROM a EXCEPT SELECT b1 FROM b",
    "SELECT a1, a2 FROM a EXCEPT ALL SELECT b1, b2 FROM b",
    ("SELECT a1 FROM a UNION SELECT c1 FROM c ORDER BY 1 NULLS FIRST LIMIT 4", {"strict": False, "ordered": True}),
    "SELECT a1 FROM a UNION ALL SELECT b1 FROM b UNION ALL SELECT c1 FROM c",
    "SELECT a1 FROM a WHERE a1 > 1 INTERSECT SELECT a1 FROM a WHERE a1 < 4",
    "SELECT a1, a2 FROM a UNION SELECT a1, a2 FROM a",  # self-dedup incl. dup row
)

# Mirrors cte_tests.yaml (237 lines): single/multiple CTEs, CTE column
# aliases, CTE referenced twice, CTE over CTE, shadowing in FROM.
CTE = _cases(
    "cte",
    "WITH t AS (SELECT a1, a2 FROM a) SELECT * FROM t",
    "WITH t (x, y) AS (SELECT a1, a2 FROM a) SELECT x, y FROM t WHERE x > 2",
    "WITH t1 AS (SELECT a1 FROM a), t2 AS (SELECT b1 FROM b) "
    "SELECT t1.a1 FROM t1 JOIN t2 ON t1.a1 = t2.b1",
    "WITH t AS (SELECT a1 FROM a WHERE a1 IS NOT NULL) "
    "SELECT x.a1 FROM t x JOIN t y ON x.a1 = y.a1",
    "WITH t AS (SELECT a1, sum(a3) AS s FROM a GROUP BY a1), "
    "u AS (SELECT a1 FROM t WHERE s > 200) SELECT count(*) AS n FROM u",
    "WITH t AS (SELECT 1 AS x UNION ALL SELECT 2) SELECT sum(x) AS s FROM t",
    "WITH t AS (SELECT a1 FROM a), t2 AS (SELECT a1 FROM t WHERE a1 > 1) "
    "SELECT (SELECT max(a1) FROM t2) AS mx",
    # --- r11 additions (VERDICT r10 item 2): the shadowing/nesting
    # shapes of cte_tests.yaml that had no executed row.
    # CTE shadowing a BASE TABLE name: 'b' here is the CTE, not the
    # table — both engines must resolve the nearer binding.
    "WITH b AS (SELECT a1 AS b1 FROM a WHERE a1 IS NOT NULL) "
    "SELECT b1 FROM b",
    # nested WITH inside a CTE body (cte_tests.yaml nested forms)
    "WITH outerv AS (WITH innerv AS (SELECT a1 FROM a WHERE a1 > 1) "
    "SELECT a1 + 1 AS x FROM innerv) SELECT sum(x) AS s FROM outerv",
    # nested WITH with a column alias list on the inner CTE
    "WITH outerv AS (WITH innerv (k) AS (SELECT a1 FROM a) "
    "SELECT k FROM innerv WHERE k IS NOT NULL) SELECT max(k) AS mk FROM outerv",
    # WITH inside a derived table (cte_tests.yaml:08 shape)
    "SELECT t.a1 FROM (WITH v AS (SELECT a1 FROM a WHERE a1 > 2) "
    "SELECT a1 FROM v) t",
    # a CTE consumed by BOTH a scalar subquery and the outer FROM
    "WITH v AS (SELECT a1 FROM a WHERE a1 IS NOT NULL) "
    "SELECT a1, (SELECT min(a1) FROM v) AS lo FROM v",
)

# Mirrors subqueries_tests.yaml (272) + correlated_exists_tests.yaml
# (210) + correlated_in_subquery_tests.yaml (128): scalar subqueries
# (uncorrelated/correlated/in-SELECT), EXISTS/NOT EXISTS, IN/NOT IN,
# derived tables. NOT IN with NULLs pins standard SQL semantics
# (SURVEY §7 risk 2 — Spark's null-aware anti join, adopted over the
# reference's IS NULL rewrite).
SUBQ = _cases(
    "subq",
    "SELECT (SELECT 2) AS two",
    "SELECT 1 AS one, (SELECT max(b1) FROM b) AS mb",
    "SELECT a1 FROM a WHERE a1 > (SELECT min(b1) FROM b)",
    "SELECT a1, (SELECT max(b3) FROM b WHERE b.b1 = a.a1) AS mb FROM a",
    "SELECT a1 FROM a WHERE EXISTS (SELECT 1 FROM b WHERE b.b1 = a.a1)",
    "SELECT a1 FROM a WHERE NOT EXISTS (SELECT 1 FROM b WHERE b.b1 = a.a1)",
    "SELECT a1 FROM a WHERE a1 IN (SELECT b1 FROM b)",
    "SELECT a1 FROM a WHERE a1 IN (SELECT b1 FROM b WHERE b.b2 = a.a2)",
    "SELECT a1 FROM a WHERE a1 NOT IN (SELECT b1 FROM b WHERE b1 IS NOT NULL)",
    "SELECT count(*) AS n FROM a WHERE a1 NOT IN (SELECT b1 FROM b)",  # NULL in subq -> 0
    "SELECT t.s FROM (SELECT a1, sum(a3) AS s FROM a GROUP BY a1) t WHERE t.s > 200",
    "SELECT a1 FROM a WHERE EXISTS (SELECT 1 FROM b WHERE b.b1 = a.a1 AND b.b3 > 20)",
    "SELECT a1, (SELECT count(*) FROM b WHERE b.b1 < a.a1) AS nb FROM a",
    "SELECT a1 FROM a WHERE a2 IN (SELECT b2 FROM b UNION SELECT c2 FROM c)",
    # --- r11 additions (VERDICT r10 item 2): the subquery PLACEMENT
    # matrix of subqueries_tests.yaml — one executed row per clause a
    # subquery can appear in beyond SELECT/WHERE/FROM.
    # HAVING
    "SELECT a1, sum(a3) AS s FROM a WHERE a3 IS NOT NULL GROUP BY a1 "
    "HAVING sum(a3) > (SELECT avg(b3) FROM b)",
    # ORDER BY key (boolean subquery comparison + unique tie-break)
    (
        "SELECT a1, a4 FROM a WHERE a1 IS NOT NULL "
        "ORDER BY a1 > (SELECT avg(b1) FROM b WHERE b1 IS NOT NULL), a4",
        O,
    ),
    # EXISTS in the SELECT list (boolean projection)
    "SELECT a1, EXISTS (SELECT 1 FROM b WHERE b.b1 = a.a1) AS hit FROM a",
    # IN-subquery in the SELECT list (non-null lhs)
    "SELECT a1, a2 IN (SELECT b2 FROM b) AS inb FROM a WHERE a2 IS NOT NULL",
    # IN-subquery in the SELECT list with a NULL lhs: Spark's ListQuery
    # rewrite yields FALSE where standard three-valued logic (and
    # DuckDB) yields NULL — a pinned engine divergence, spelled out in
    # the oracle so the behavior can't drift silently.
    (
        "SELECT a1, a2 IN (SELECT b2 FROM b) AS inb FROM a",
        {"duck_sql": "SELECT a1, CASE WHEN a2 IS NULL THEN false "
         "ELSE a2 IN (SELECT b2 FROM b) END AS inb FROM a"},
    ),
    # subquery inside a CASE condition
    "SELECT a1, CASE WHEN a1 > (SELECT min(b1) FROM b) THEN 'gt' "
    "ELSE 'le' END AS cmp FROM a WHERE a1 IS NOT NULL",
    # scalar subquery inside a JOIN condition
    "SELECT a.a1, b.b1 FROM a JOIN b "
    "ON a.a1 = b.b1 AND b.b3 > (SELECT min(b3) FROM b)",
)

# Mirrors expr_basic_tests.yaml (236) + expr_case_tests.yaml (34):
# binary operators, BETWEEN, IN-list, IS family, LIKE, CASE (both
# forms), CAST, ||, NOT/negation, tuples, arrays (reference
# expr.rs:17-155 variant list).
EXPR = _cases(
    "expr",
    "SELECT a1 + a2 AS s, a1 - a2 AS d, a1 * a2 AS p, a2 % 7 AS m FROM a",
    "SELECT a1 / 2.0 AS h FROM a WHERE a1 IS NOT NULL",
    "SELECT a1 FROM a WHERE a1 >= 2 AND a2 <= 30 OR a3 = 400",
    "SELECT a1 FROM a WHERE NOT (a1 = 3)",
    "SELECT -a1 AS neg FROM a",
    "SELECT a1 FROM a WHERE a1 BETWEEN 2 AND 4",
    "SELECT a1 FROM a WHERE a1 NOT BETWEEN 2 AND 4",
    "SELECT a1 FROM a WHERE a1 IN (1, 3, 5)",
    "SELECT a1 FROM a WHERE a1 NOT IN (1, 3, 5)",
    "SELECT a1, a2 IS NULL AS n1, a2 IS NOT NULL AS n2 FROM a",
    "SELECT (a1 > 2) IS TRUE AS t, (a1 > 2) IS FALSE AS f FROM a",
    ("SELECT (a2 > 100) IS UNKNOWN AS u FROM a", {"strict": True}),
    "SELECT CASE WHEN a1 >= 3 THEN 'hi' WHEN a1 >= 1 THEN 'lo' ELSE 'none' END AS bucket FROM a",
    "SELECT CASE a1 WHEN 1 THEN 'one' WHEN 2 THEN 'two' ELSE 'many' END AS w FROM a",
    "SELECT CAST(a1 AS STRING) AS s, CAST(a1 AS DOUBLE) AS d FROM a",
    "SELECT CAST('42' AS INT) AS i, CAST('2020-02-29' AS DATE) AS d",
    "SELECT 'v' || CAST(a1 AS STRING) AS tag FROM a WHERE a1 IS NOT NULL",
    "SELECT concat('a', 'b', CAST(b1 AS STRING)) AS c FROM b WHERE b1 IS NOT NULL",
    "SELECT upper('aBc') AS u, lower('aBc') AS l, replace('aaa', 'a', 'b') AS r",
    # length() is the shared spelling (DuckDB lacks char_length)
    "SELECT bit_length('abc') AS bl, length('abcd') AS cl, position('b' IN 'abc') AS p",
    "SELECT a1 FROM a WHERE CAST(a1 AS STRING) LIKE '%3%'",
    "SELECT CAST(a1 AS STRING) LIKE '3' AS eq3 FROM a",
    "SELECT (1, 'x') = (1, 'x') AS teq",
    # array ctor + join-to-string: engine spellings differ (Spark
    # array()/array_join vs DuckDB []/array_to_string)
    (
        "SELECT array_join(array(a1, a2), ',') AS arr FROM a",
        {"duck_sql": "SELECT array_to_string([a1, a2], ',') AS arr FROM a"},
    ),
    # array index: Spark [] is 0-based, DuckDB [] is 1-based; the
    # builder API pins 0-based, SQL pins element_at 1-based (SURVEY §7
    # risk 4)
    (
        "SELECT element_at(array(1, 2, 3), 2) AS second",
        {"duck_sql": "SELECT [1, 2, 3][2] AS second"},
    ),
    "SELECT coalesce(a2, 0) AS c2, coalesce(a3, -1) AS c3 FROM a",
    "SELECT greatest(a1, 4) AS g, least(a1, 4) AS l FROM a WHERE a1 IS NOT NULL",
)

# Mirrors expr_interval_tests.yaml (293 lines): YearMonth / DaySecond
# interval literals and date arithmetic (reference value.rs:45-100).
# Kept date-valued so both engines agree on output types.
INTERVAL = _cases(
    "interval",
    # CAST to DATE: DuckDB widens date+interval to TIMESTAMP, Spark
    # keeps DATE — the cast pins a shared output type
    "SELECT CAST(DATE '2020-01-15' + INTERVAL '1' MONTH AS DATE) AS d",
    "SELECT CAST(DATE '2020-01-15' - INTERVAL '15' DAY AS DATE) AS d",
    "SELECT CAST(DATE '2020-01-31' + INTERVAL '1' YEAR AS DATE) AS d",
    "SELECT CAST(TIMESTAMP '2020-01-15 12:00:00' + INTERVAL '36' HOUR AS DATE) AS d",
    "SELECT CAST(TIMESTAMP '2020-01-15 12:30:00' + INTERVAL '90' MINUTE AS STRING) AS t",
    "SELECT (DATE '2020-03-01' - INTERVAL '1' DAY) = DATE '2020-02-29' AS leap",
    # --- r11 additions (VERDICT r10 item 2): multi-field interval
    # literal ARITHMETIC (expr_interval_tests.yaml covers the literal
    # grammar; these apply the multi-field forms, which DuckDB cannot
    # parse — its oracle spells the same decomposition via
    # to_months/to_days/to_seconds).
    (
        "SELECT CAST(DATE '2020-01-15' + INTERVAL '2-3' YEAR TO MONTH AS DATE) AS d",
        {"duck_sql": "SELECT CAST(DATE '2020-01-15' + to_months(27) AS DATE) AS d"},
    ),
    (
        "SELECT CAST(TIMESTAMP '2020-01-15 12:00:00' "
        "+ INTERVAL '2 01:59:59' DAY TO SECOND AS STRING) AS t",
        {"duck_sql": "SELECT CAST(TIMESTAMP '2020-01-15 12:00:00' "
         "+ to_days(2) + to_seconds(7199) AS VARCHAR) AS t"},
    ),
    (
        "SELECT CAST(TIMESTAMP '2020-01-15 12:00:00' "
        "- INTERVAL '-0 11:22' DAY TO MINUTE AS STRING) AS t",
        {"duck_sql": "SELECT CAST(TIMESTAMP '2020-01-15 12:00:00' "
         "+ to_seconds(40920) AS VARCHAR) AS t"},
    ),
    # negative whole-literal sign distributes over both fields
    (
        "SELECT CAST(DATE '2020-03-31' + INTERVAL '-1-1' YEAR TO MONTH AS DATE) AS d",
        {"duck_sql": "SELECT CAST(DATE '2020-03-31' + to_months(-13) AS DATE) AS d"},
    ),
)

# VALUES / empty-relation forms (reference values.rs, empty.rs,
# sql/mod.rs:238-239 SELECT-without-FROM, :445-456 VALUES).
VALUES_EMPTY = _cases(
    "values",
    "VALUES (1, 'a'), (2, 'b')",
    "SELECT * FROM (VALUES (1, 10), (2, 20), (2, 20)) AS t(k, v)",
    "SELECT k, sum(v) AS s FROM (VALUES (1, 10), (1, 5), (2, 20)) AS t(k, v) GROUP BY k",
    "SELECT 1 AS x, 'y' AS y",
    "SELECT a.a1 FROM a JOIN (VALUES (1), (3)) AS t(k) ON a.a1 = t.k",
    "SELECT count(*) AS n FROM (SELECT 1) one",
)

# Round-4 superset constructs (all strict=False: the reference dialect
# rejects LATERAL / named WINDOW / GROUP BY modifiers and has none of
# the function families) — pinned cross-engine on the mini catalog.
NS = {"strict": False}
SUPERSET_R4 = _cases(
    "superset_r4",
    # correlated LATERAL derived table with per-row top-1
    (
        "SELECT a.a1, t.b3 FROM a, LATERAL (SELECT b3 FROM b "
        "WHERE b.b1 = a.a1 ORDER BY b3 DESC LIMIT 1) t",
        NS,
    ),
    # named WINDOW shared by two functions (tie-free, null-free keys)
    (
        "SELECT a1, ROW_NUMBER() OVER w AS rn, SUM(a4) OVER w AS s "
        "FROM a WHERE a1 IS NOT NULL AND a3 IS NOT NULL "
        "WINDOW w AS (ORDER BY a1, a3)",
        {"strict": False, "ordered": False},
    ),
    # GROUP BY ROLLUP (reference rejects all GROUP BY modifiers)
    ("SELECT a2, SUM(a4) AS s FROM a GROUP BY ROLLUP(a2)", NS),
    # bitwise family — Spark's ^ is DuckDB xor(), shifts differ in name
    (
        "SELECT a1 & 3 AS b_and, a1 | 4 AS b_or, a1 ^ 5 AS b_xor, "
        "shiftleft(a1, 2) AS shl FROM a WHERE a1 IS NOT NULL",
        {
            "strict": False,
            "duck_sql": "SELECT a1 & 3 AS b_and, a1 | 4 AS b_or, "
            "xor(a1, 5) AS b_xor, a1 << 2 AS shl FROM a WHERE a1 IS NOT NULL",
        },
    ),
    # higher-order array lambdas
    (
        "SELECT a1, transform(array(a1, a2), x -> x + 1) AS arr, "
        "aggregate(array(a1, a2, a3), 0, (acc, x) -> acc + coalesce(x, 0)) AS agg "
        "FROM a WHERE a1 IS NOT NULL",
        {
            "strict": False,
            "duck_sql": "SELECT a1, [x + 1 for x in [a1, a2]] AS arr, "
            "list_sum(list_transform([a1, a2, a3], x -> coalesce(x, 0))) AS agg "
            "FROM a WHERE a1 IS NOT NULL",
        },
    ),
    # error-safe division: NULL on zero denominator
    (
        "SELECT a1, try_divide(a4, a1 - a1) AS dz, try_divide(a4, 2) AS ok "
        "FROM a WHERE a1 IS NOT NULL",
        {
            "strict": False,
            "duck_sql": "SELECT a1, CAST(NULL AS DOUBLE) AS dz, "
            "a4 / 2.0 AS ok FROM a WHERE a1 IS NOT NULL",
        },
    ),
    # pivot via conditional aggregation (shared dialect)
    (
        "SELECT a2, SUM(CASE WHEN a1 % 2 = 0 THEN 1 ELSE 0 END) AS n_even, "
        "SUM(CASE WHEN a1 % 2 = 1 THEN 1 ELSE 0 END) AS n_odd "
        "FROM a WHERE a1 IS NOT NULL GROUP BY a2",
        NS,
    ),
)

# Round-6 Spark-superset reshapes: PIVOT (long -> wide) and the
# stack() UNPIVOT (wide -> long); DuckDB spellings are the portable
# conditional-aggregation / UNION ALL forms.
SUPERSET_R6 = _cases(
    "superset_r6",
    (
        "SELECT * FROM (SELECT a1, a2 FROM a WHERE a1 IS NOT NULL) "
        "PIVOT (COUNT(*) AS n, SUM(a2) AS s FOR a1 IN (1 AS one, 3 AS three)) ",
        {
            "strict": False,
            "duck_sql": (
                "SELECT COUNT(CASE WHEN a1 = 1 THEN 1 END) AS one_n, "
                "SUM(CASE WHEN a1 = 1 THEN a2 END) AS one_s, "
                "COUNT(CASE WHEN a1 = 3 THEN 1 END) AS three_n, "
                "SUM(CASE WHEN a1 = 3 THEN a2 END) AS three_s "
                "FROM (SELECT a1, a2 FROM a WHERE a1 IS NOT NULL)"
            ),
        },
    ),
    (
        "SELECT a1, m, v FROM (SELECT a1, a2, a3 FROM a WHERE a1 = 2) "
        "LATERAL VIEW stack(2, 'a2', a2, 'a3', a3) AS m, v",
        {
            "strict": False,
            "duck_sql": (
                "WITH w AS (SELECT a1, a2, a3 FROM a WHERE a1 = 2) "
                "SELECT a1, 'a2' AS m, a2 AS v FROM w "
                "UNION ALL SELECT a1, 'a3', a3 FROM w"
            ),
        },
    ),
)

CORPUS: list[Case] = (
    BASIC + AGGREGATE + WINDOW + JOINS + SETOPS + CTE + SUBQ + EXPR + INTERVAL + VALUES_EMPTY
    + SUPERSET_R4 + SUPERSET_R6
)


@dataclass(frozen=True)
class ErrorCase:
    """Semantic error-case: the engine must reject (error CLASS,
    never message text — SURVEY §7 risk 6). Mirrors the reference
    error: blocks (unknown columns/relations, arity mismatches,
    aggregate misuse, nested windows).

    gate=True means the rejection comes from the strict dialect gate
    (build-time parity with the reference's validator) rather than
    Spark's analyzer — e.g. nested window functions, which Spark
    happily evaluates but keenwa rejects (builder/mod.rs:1250-1308).
    """

    family: str
    sql: str
    gate: bool = False
    id: str = field(default="", compare=False)


ERROR_CORPUS: list[ErrorCase] = [
    # name resolution (basic_tests.yaml error cases)
    ErrorCase("resolve", "SELECT a1, b2 FROM a", id="err_unknown_col"),
    ErrorCase("resolve", "SELECT z9 FROM a", id="err_no_such_col"),
    ErrorCase("resolve", "SELECT a.* FROM a AS t", id="err_bad_qualifier"),
    ErrorCase("resolve", "SELECT a1 FROM no_such_table", id="err_no_such_table"),
    ErrorCase("resolve", "SELECT t.x1 FROM a AS t(x1)", id="err_alias_arity"),
    # aggregate misuse (aggregate_tests.yaml error cases)
    ErrorCase("agg", "SELECT a2 FROM a GROUP BY a1", id="err_not_grouped"),
    ErrorCase("agg", "SELECT count(*) FROM a WHERE count(*) > 1", id="err_agg_in_where"),
    ErrorCase("agg", "SELECT sum(count(a1)) FROM a", id="err_nested_agg"),
    # set-op arity (set_operator_tests.yaml error cases)
    ErrorCase("setop", "SELECT a1 FROM a UNION SELECT b1, b2 FROM b", id="err_union_arity"),
    # window misuse (reference builder/mod.rs:1273-1275 no nested
    # window functions; window_aggregate_tests.yaml error cases)
    ErrorCase(
        "window",
        "SELECT row_number() OVER (PARTITION BY rank() OVER (ORDER BY a1) ORDER BY a2) FROM a",
        gate=True,
        id="err_nested_window",
    ),
    ErrorCase("window", "SELECT sum(a1) OVER (PARTITION BY no_col) FROM a", id="err_window_col"),
    # subquery shape (subqueries_tests.yaml error cases)
    ErrorCase("subq", "SELECT a1 FROM a WHERE a1 IN (SELECT b1, b2 FROM b)", id="err_in_arity"),
    # ------------------------------------------------------------------
    # Round-7 additions (VERDICT r06 missing item 1): one EXECUTABLE
    # error case per reference rejection family, exercised through
    # Engine.sql so the strict dialect gate and the analyzer are both
    # witnessed in the executable corpus (reference rejection sites:
    # src/sql/mod.rs:102-144 statements, :174 recursive CTE, :210
    # GROUP BY modifiers, :341-343 LATERAL/UNNEST, :539 FETCH, :561
    # NULLS FIRST/LAST, :594 named windows, :610 compound identifiers,
    # :1235-1240 frames, :1339 window ORDER BY; error rows alongside ok
    # rows in basic_tests.yaml:47-57).
    # ------------------------------------------------------------------
    ErrorCase(
        "dialect",
        "WITH RECURSIVE t AS (SELECT 1 AS x) SELECT * FROM t",
        gate=True,
        id="err_recursive_cte",
    ),
    ErrorCase(
        "dialect",
        "SELECT a1, sum(a2) FROM a GROUP BY GROUPING SETS ((a1), ())",
        gate=True,
        id="err_grouping_sets",
    ),
    ErrorCase(
        "dialect",
        "SELECT a1, a2, sum(a3) FROM a GROUP BY CUBE (a1, a2)",
        gate=True,
        id="err_group_by_cube",
    ),
    ErrorCase(
        "dialect",
        "SELECT a1, a2, sum(a3) FROM a GROUP BY ROLLUP (a1, a2)",
        gate=True,
        id="err_group_by_rollup",
    ),
    ErrorCase(
        "dialect",
        "SELECT * FROM a, LATERAL (SELECT a1 + 1 AS x) t",
        gate=True,
        id="err_lateral",
    ),
    ErrorCase(
        "dialect",
        "SELECT * FROM UNNEST(ARRAY(1, 2, 3))",
        gate=True,
        id="err_unnest",
    ),
    ErrorCase(
        "dialect",
        "SELECT a1 FROM a ORDER BY a1 FETCH FIRST 3 ROWS ONLY",
        gate=True,
        id="err_fetch_first",
    ),
    ErrorCase(
        "dialect",
        "SELECT a1 FROM a ORDER BY a1 NULLS FIRST",
        gate=True,
        id="err_nulls_first",
    ),
    ErrorCase(
        "dialect",
        "SELECT sum(a1) OVER w FROM a WINDOW w AS (PARTITION BY a2)",
        gate=True,
        id="err_named_window",
    ),
    ErrorCase(
        "dialect",
        "SELECT sum(a1) OVER (PARTITION BY a2 ROWS BETWEEN 1 PRECEDING"
        " AND CURRENT ROW) FROM a",
        gate=True,
        id="err_window_frame",
    ),
    ErrorCase(
        "dialect",
        "SELECT row_number() OVER (PARTITION BY a2 ORDER BY a1) FROM a",
        gate=True,
        id="err_window_order_by",
    ),
    ErrorCase(
        "dialect",
        "SELECT cat.tbl.col1 FROM a",
        gate=True,
        id="err_compound_identifier",
    ),
    ErrorCase(
        "dialect",
        "SELECT percentile_cont(0.5) WITHIN GROUP (ORDER BY a1) FROM a",
        gate=True,
        id="err_within_group",
    ),
    ErrorCase(
        "dialect",
        "SELECT a3[1:4:2] FROM a",
        gate=True,
        id="err_slice_stride",
    ),
    ErrorCase(
        "dialect",
        "INSERT INTO a VALUES (9, 90, 900, 9000)",
        gate=True,
        id="err_dml_insert",
    ),
    ErrorCase(
        "dialect",
        "CREATE TABLE t_new (x INT)",
        gate=True,
        id="err_ddl_create",
    ),
    ErrorCase(
        "dialect",
        "WITH t AS (SELECT 1 AS x) INSERT INTO a SELECT x, x, x, x FROM t",
        gate=True,
        id="err_cte_dml_bypass",
    ),
]


# ---------------------------------------------------------------------------
# Canonical result compare
# ---------------------------------------------------------------------------


def canon_value(v):
    """Canonicalize a cell so Spark and DuckDB results compare equal:
    floats rounded (1e-9 rel), Decimals to int/float, dates/timestamps
    to ISO strings, arrays to tuples."""
    import decimal

    if v is None or isinstance(v, (bool, int, str, bytes)):
        return v
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return float(f"{v:.9g}")
    if isinstance(v, decimal.Decimal):
        iv = int(v)
        return iv if v == iv else float(f"{float(v):.9g}")
    if isinstance(v, datetime.datetime):
        return v.isoformat(sep=" ")
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(canon_value(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, canon_value(x)) for k, x in v.items()))
    if hasattr(v, "asDict"):  # Row (struct)
        return tuple(canon_value(x) for x in v)
    return repr(v)


def canon_rows(rows, ordered: bool):
    out = [tuple(canon_value(v) for v in row) for row in rows]
    if not ordered:
        out.sort(key=repr)
    return out


def run_case(spark, duck, case: Case) -> tuple[list, list]:
    """Execute one ok-case on both engines; return canonical row lists
    (caller asserts equality)."""
    spark_rows = [tuple(r) for r in spark.sql(case.sql).collect()]
    duck_rows = duck.execute(case.duck_sql or case.sql).fetchall()
    return canon_rows(spark_rows, case.ordered), canon_rows(duck_rows, case.ordered)


# ---------------------------------------------------------------------------
# Seeded cross-engine fuzz harness: one compare loop for every generator
# family (keenwa's single seeded case runner, reference
# src/sql/testing/runner.rs:9-80, executed on both engines)
# ---------------------------------------------------------------------------

#: Optimizer regimes: AQE x CBO x broadcast {off, default}. Each changes
#: which physical plan wins; results must not.
REGIME_GRID: list[dict[str, str]] = [
    {
        "spark.sql.adaptive.enabled": str(aqe).lower(),
        "spark.sql.cbo.enabled": str(cbo).lower(),
        "spark.sql.autoBroadcastJoinThreshold": bcast,
    }
    for aqe, cbo, bcast in itertools.product(
        (True, False), (True, False), ("-1", "10485760")
    )
]


@dataclass(frozen=True)
class OracleCase:
    """One generated case: ``spark_build(spark)`` returns the engine's
    DataFrame and ``oracle_sql`` computes the same answer on DuckDB.
    ``kind`` labels the case in mismatch records; ``ordered`` compares
    row sequences instead of multisets."""

    kind: str
    spark_build: Callable
    oracle_sql: str
    ordered: bool = False


def run_cases(gen, spark, duck, n: int) -> list[dict]:
    """Draw ``n`` cases from ``gen.case()``, run each on Spark and on
    DuckDB, and return the mismatch records (empty == clean sweep). An
    engine error is a mismatch: generators stay inside both engines'
    contracts, so neither may reject."""
    mismatches = []
    for i in range(n):
        case = gen.case()

        def record(**detail):
            mismatches.append(
                {"i": i, "kind": case.kind, **detail, "oracle": case.oracle_sql}
            )

        try:
            got = canon_rows(
                [tuple(r) for r in case.spark_build(spark).collect()], case.ordered
            )
        except Exception as e:  # noqa: BLE001 — the error IS the finding
            record(error=f"spark: {e}")
            continue
        try:
            want = canon_rows(duck.execute(case.oracle_sql).fetchall(), case.ordered)
        except Exception as e:  # noqa: BLE001
            record(error=f"duckdb: {e}")
            continue
        if got != want:
            record(
                spark_rows=len(got), duck_rows=len(want),
                spark_head=got[:4], duck_head=want[:4],
            )
    return mismatches


def _literal(v) -> str:
    return "NULL" if v is None else (f"'{v}'" if isinstance(v, str) else str(v))


def _values(rows) -> str:
    return ", ".join("(" + ", ".join(_literal(v) for v in row) + ")" for row in rows)


def values_df(spark, rows, names, ts_cols=frozenset()):
    """Spark DataFrame over inline rows (a VALUES LocalRelation). Columns
    in ``ts_cols`` are integer seconds turned into TimestampType; columns
    holding any string are STRING; the rest are BIGINT."""

    def cast(i, n):
        if n in ts_cols:
            return f"timestamp_seconds(CAST({n} AS BIGINT)) AS {n}"
        if any(isinstance(r[i], str) for r in rows):
            return f"CAST({n} AS STRING) AS {n}"
        return f"CAST({n} AS BIGINT) AS {n}"

    sel = ", ".join(cast(i, n) for i, n in enumerate(names))
    return spark.sql(
        f"SELECT {sel} FROM (VALUES {_values(rows)}) AS v({', '.join(names)})"
    )


def values_sql(rows, names, str_cols=frozenset()) -> str:
    """DuckDB inline relation of the same rows: ``str_cols`` VARCHAR,
    the rest BIGINT (timestamps stay integer seconds)."""
    casts = ", ".join(
        f"CAST({n} AS VARCHAR) AS {n}" if n in str_cols else f"CAST({n} AS BIGINT) AS {n}"
        for n in names
    )
    return f"(SELECT {casts} FROM (VALUES {_values(rows)}) AS _v({', '.join(names)}))"
