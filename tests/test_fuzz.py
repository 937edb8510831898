"""Pinned-seed cross-engine fuzz corpus (keenwa_spark/fuzz.py): every
generated query in the shared exact dialect must return identical
multisets on Spark and DuckDB — the executable upgrade of the
reference's seeded rule-order shuffle (src/testing.rs:57). Wider
sweeps: tools/fuzz.py sql."""

from __future__ import annotations

import pytest

from keenwa_spark import conformance as cf
from keenwa_spark.fuzz import TABLES, QueryGen


@pytest.fixture(scope="module")
def mini(spark):
    cf.register_mini_catalog(spark)
    return spark


@pytest.fixture(scope="module")
def duck():
    con = cf.duckdb_mini_catalog()
    yield con
    con.close()


@pytest.mark.parametrize("seed", [1, 2, 3])
def test_fuzz_corpus_cross_engine(mini, duck, seed):
    mis = cf.run_cases(QueryGen(seed), mini, duck, n=60)
    assert mis == [], mis[:3]


def test_run_cases_reports_every_failure_kind(spark, duck):
    """The clean sweeps are not vacuous: run_cases records a wrong
    answer, a Spark-side error and a DuckDB-side error. The sweep tool's
    family table names every generator module."""
    import pathlib

    from tools.fuzz import FAMILIES

    def spark_fails(spark):
        raise RuntimeError("boom")

    class Stub:
        cases = iter([
            cf.OracleCase("wrong", lambda s: s.sql("SELECT 1 AS x"), "SELECT 2 AS x"),
            cf.OracleCase("spark_err", spark_fails, "SELECT 1 AS x"),
            cf.OracleCase("duck_err", lambda s: s.sql("SELECT 1 AS x"), "SELEC 1"),
        ])

        def case(self):
            return next(self.cases)

    wrong, spark_err, duck_err = cf.run_cases(Stub(), spark, duck, n=3)
    assert wrong["kind"] == "wrong"
    assert (wrong["spark_head"], wrong["duck_head"]) == ([(1,)], [(2,)])
    assert spark_err["kind"] == "spark_err"
    assert spark_err["error"].startswith("spark: ") and "boom" in spark_err["error"]
    assert duck_err["kind"] == "duck_err" and duck_err["error"].startswith("duckdb: ")

    pkg = pathlib.Path(cf.__file__).parent
    modules = {p.stem for p in pkg.glob("*_fuzz.py")} | {"fuzz"}
    assert {module for module, _gen in FAMILIES.values()} == modules


def test_generator_is_deterministic():
    a = [QueryGen(7).query() for _ in range(20)]
    b = [QueryGen(7).query() for _ in range(20)]
    assert a == b


def test_generator_covers_major_shapes():
    """The grammar actually emits joins, grouping, set ops and
    subqueries (a generator silently collapsing to trivial selects
    would make the clean sweeps vacuous)."""
    gen = QueryGen(11)
    text = " ".join(gen.query() for _ in range(500))
    for shape in ("JOIN", "GROUP BY", "HAVING", "UNION", "EXISTS",
                  " IN (SELECT", "CASE WHEN", "BETWEEN", "DISTINCT",
                  "INTERSECT ALL", "EXCEPT ALL", "(DISTINCT CAST"):
        assert shape in text, shape


def test_mini_tables_have_no_full_row_duplicates():
    """The ROW_NUMBER fuzz shape relies on ORDER BY all-columns being a
    total order — which holds iff no table has a fully duplicated row."""
    for name, (_schema, rows) in cf.MINI_TABLES.items():
        assert len(rows) == len(set(rows)), name


def test_generator_emits_correlated_shapes():
    """The correlated family (scalar aggregate in the select list,
    correlated EXISTS / correlated IN) must actually appear — these
    exercise both engines' decorrelation rewrites."""
    gen = QueryGen(17)
    qs = [gen.query() for _ in range(300)]
    text = " ".join(qs)
    assert "= t_out." in text  # correlation predicate emitted
    assert any(") AS s0" in q for q in qs)  # scalar agg in select list
    assert any("= t_out." in q and "EXISTS (SELECT 1" in q for q in qs)
    assert any("= t_out." in q and " IN (SELECT" in q for q in qs)


def test_generator_emits_window_and_cte_shapes():
    gen = QueryGen(5)
    text = " ".join(gen.query() for _ in range(300))
    for shape in ("OVER (PARTITION BY", "ROW_NUMBER()", "NULLS FIRST",
                  "WITH t AS", ") AS t", "ROWS BETWEEN"):
        assert shape in text, shape
    ordered = " ".join(gen._ordered_select() for _ in range(20))
    assert "ORDER BY" in ordered and "LIMIT" in ordered


def test_generator_never_shadows_source_columns():
    """Output aliases shadowing source columns triggered the pinned
    Spark EXCEPT bug — the grammar must never emit them."""
    import re

    gen = QueryGen(13)
    source_cols = {c for cols in TABLES.values() for c in cols}
    for _ in range(400):
        q = gen.query()
        aliases = set(re.findall(r" AS (\w+)", q)) - {"BIGINT", "t"}
        assert not (aliases & source_cols), (aliases & source_cols, q)


@pytest.mark.xfail(
    strict=False,
    reason="Spark 4.1.2 wrong-results bug found by this fuzzer: "
    "ReplaceExceptWithFilter (non-excludable) transplants the right "
    "side's filter through SWAPPED output aliases — WHERE c1 IS NULL "
    "becomes isnotnull(c2) on the left. When a Spark upgrade makes "
    "this pass, remove the xfail and re-allow shadowing aliases in "
    "the generator.",
)
def test_known_spark_except_swapped_alias_bug(mini, duck, tmp_path):
    """EXCEPT over two projections of table c whose aliases SWAP the
    source column names, right side filtered on a swapped name. ANSI
    (and DuckDB, and Spark's own anti-join path) removes the NULL-c1
    row; Spark's filter-pushdown rewrite keeps it.

    The repro is pinned against a PARQUET-backed view: the bug is
    input-representation-dependent — when the round-10 mini catalog
    moved to VALUES LocalRelations, this repro silently went green
    (Catalyst evaluates the LocalRelation sides before the broken
    rewrite can transplant the filter) while the SAME query over a
    parquet or RDD-backed relation (i.e., every real table) still
    returns the wrong row. Verified on all three representations
    2026-08-15."""
    path = str(tmp_path / "c_parquet")
    mini.table("c").write.mode("overwrite").parquet(path)
    mini.read.parquet(path).createOrReplaceTempView("c_pq")
    sql_s = (
        "SELECT CAST(c2 AS BIGINT) AS c1, CAST(c1 AS BIGINT) AS c2 FROM c_pq "
        "EXCEPT "
        "SELECT CAST(c2 AS BIGINT) AS c1, CAST(c1 AS BIGINT) AS c2 FROM c_pq "
        "WHERE CAST(c1 AS BIGINT) IS NULL"
    )
    sql_d = sql_s.replace("c_pq", "c")
    got = cf.canon_rows([tuple(r) for r in mini.sql(sql_s).collect()], False)
    want = cf.canon_rows(duck.execute(sql_d).fetchall(), False)
    assert want == [(100, 1), (300, 3), (700, 7)]  # the ANSI answer
    assert got == want


def test_except_swapped_alias_correct_on_local_relation(mini, duck):
    """The SAME swapped-alias EXCEPT is CORRECT over the mini catalog's
    VALUES LocalRelation views — pinning the representation boundary
    of the bug above (and guarding the catalog representation: if
    this regresses, the whole corpus runs on the buggy path)."""
    sql = (
        "SELECT CAST(c2 AS BIGINT) AS c1, CAST(c1 AS BIGINT) AS c2 FROM c "
        "EXCEPT "
        "SELECT CAST(c2 AS BIGINT) AS c1, CAST(c1 AS BIGINT) AS c2 FROM c "
        "WHERE CAST(c1 AS BIGINT) IS NULL"
    )
    got = cf.canon_rows([tuple(r) for r in mini.sql(sql).collect()], False)
    want = cf.canon_rows(duck.execute(sql).fetchall(), False)
    assert got == want == [(100, 1), (300, 3), (700, 7)]


@pytest.mark.xfail(
    strict=False,
    reason="Spark 4.1.2 ANSI divergence found by the empty-input "
    "sweep: the empty grouping set () must emit one super-aggregate "
    "row (COUNT 0) even over empty input — Spark's grouping-sets "
    "path (Expand) returns ZERO rows for ROLLUP/CUBE/GROUPING SETS "
    "over empty input, though its plain global aggregate correctly "
    "returns one row. DuckDB and PostgreSQL both emit the row. When "
    "a Spark upgrade makes this pass, drop the xfail and the "
    "empty-input caveat from the agg_rollup/cube/grouping_sets docs.",
)
def test_known_spark_grouping_sets_empty_input_bug(spark):
    spark.sql(
        "CREATE OR REPLACE TEMP VIEW __gs_empty AS "
        "SELECT * FROM VALUES (1, 2) t(a, b) WHERE a < 0"
    )
    # sanity: the plain global aggregate DOES emit its row
    assert spark.sql("SELECT COUNT(*) AS n FROM __gs_empty").count() == 1
    got = spark.sql(
        "SELECT a, COUNT(*) AS n FROM __gs_empty GROUP BY ROLLUP(a)"
    ).collect()
    assert [(r.a, r.n) for r in got] == [(None, 0)]  # the ANSI answer


# ---------------------------------------------------------------------------
# Builder-program fuzz (keenwa_spark/builder_fuzz.py — VERDICT r09 item 4)
# ---------------------------------------------------------------------------


@pytest.mark.parametrize("seed", [1, 2, 3])
def test_builder_fuzz_corpus_cross_engine(mini, duck, seed):
    """Every generated builder PROGRAM (PlanBuilder calls on Spark)
    must match its SQL rendering on DuckDB. Wider sweeps:
    tools/fuzz.py builder (2,000+ programs per round)."""
    from keenwa_spark.builder_fuzz import ProgramGen

    mis = cf.run_cases(ProgramGen(seed), mini, duck, n=40)
    assert mis == [], mis[:3]


def test_builder_generator_is_deterministic():
    from keenwa_spark.builder_fuzz import ProgramGen

    a = [(p.sql, p.code, p.cols) for p in (ProgramGen(7).plan() for _ in range(20))]
    b = [(p.sql, p.code, p.cols) for p in (ProgramGen(7).plan() for _ in range(20))]
    assert a == b


def test_builder_generator_covers_major_shapes():
    """The program grammar actually emits every builder entry point the
    randomized axis exists to cover (a generator collapsing to trivial
    scans would make the clean sweeps vacuous)."""
    from keenwa_spark.builder_fuzz import ProgramGen

    gen = ProgramGen(11)
    text = " ".join(p.code for p in (gen.plan() for _ in range(600)))
    for shape in (
        ".join_on(", ".join_using(", ".natural_join(", ".cross_join(",
        ".exists(", ".not_exists(", ".in_subquery(", ".not_in_subquery(",
        ".scalar_subquery(", ".aggregate_builder()", ".having(",
        ".union(", ".union_all(", ".intersect(", ".intersect_all(",
        ".except_(", ".except_all(", ".distinct()", ".distinct(on=",
        ".window_aggregate(", ".order_by(", ".limit(", ".offset(",
        ".with_alias(", ".hint(", "values(", "get(", "from_(", "empty(",
        ".select(",
    ):
        assert shape in text, shape


# ---------------------------------------------------------------------------
# Temporal-operator fuzz (keenwa_spark/temporal_fuzz.py — round 10)
# ---------------------------------------------------------------------------


@pytest.mark.parametrize("seed", [1, 2])
def test_temporal_fuzz_corpus_cross_engine(spark, duck, seed):
    """asof / range / overlap joins on random instances vs DuckDB
    correlated-subquery and inequality-join oracles (timestamps as
    integer seconds both ways — no tz/precision trap in the compare).
    Wider sweeps: tools/fuzz.py temporal."""
    from keenwa_spark.temporal_fuzz import TemporalGen

    mis = cf.run_cases(TemporalGen(seed), spark, duck, n=30)
    assert mis == [], mis[:3]


def test_temporal_generator_is_deterministic_and_covers_shapes():
    from keenwa_spark.temporal_fuzz import TemporalGen

    ga, gb = TemporalGen(5), TemporalGen(5)
    ca = [ga.case() for _ in range(60)]
    a = [c.oracle_sql for c in ca]
    b = [gb.case().oracle_sql for _ in range(60)]
    assert a == b
    kinds = [c.kind for c in ca]
    text = " ".join(a)
    assert {"asof", "range", "overlap"} <= set(kinds)
    # both directions, tolerance, and the no-match empty-right shape
    for shape in ("arg_max", "arg_min", "<= l.lts", ">= l.lts",
                  "rid < 0", "AND (l.lts - r.rts) <="):
        assert shape in text, shape


# ---------------------------------------------------------------------------
# Ordered-operator fuzz (keenwa_spark/ordered_fuzz.py — round 10)
# ---------------------------------------------------------------------------


@pytest.mark.parametrize("seed", [1, 2])
def test_ordered_fuzz_corpus_cross_engine(spark, duck, seed):
    """with_global_row_number / cumsum / prev_min on random integer
    data (mega-ties, nullable sum inputs, both directions, bucket
    counts 1..64, tie_bucket_col sub-splits) vs DuckDB's single-node
    window oracles. Wider sweeps: tools/fuzz.py ordered."""
    from keenwa_spark.ordered_fuzz import OrderedGen

    mis = cf.run_cases(OrderedGen(seed), spark, duck, n=25)
    assert mis == [], mis[:3]


def test_ordered_generator_is_deterministic_and_covers_shapes():
    from keenwa_spark.ordered_fuzz import OrderedGen

    ga, gb = OrderedGen(3), OrderedGen(3)
    ca = [ga.case() for _ in range(60)]
    assert [c.oracle_sql for c in ca] == [gb.case().oracle_sql for _ in range(60)]
    assert {"row_number", "cumsum", "prev_min"} <= {c.kind for c in ca}
    text = " ".join(c.oracle_sql for c in ca)
    for shape in ("ROW_NUMBER()", "SUM(w)", "MIN(w)", "v DESC, id ASC",
                  "v ASC, id ASC", "AND 1 PRECEDING"):
        assert shape in text, shape


# ---------------------------------------------------------------------------
# State/CDC-operator fuzz (keenwa_spark/state_fuzz.py — round 10)
# ---------------------------------------------------------------------------


@pytest.mark.parametrize("seed", [1, 2])
def test_state_fuzz_corpus_cross_engine(spark, duck, seed):
    """snapshot_diff / merge_upsert / changelog_compact / gaps_islands
    / scd2_compress / interval_coalesce on random keyed instances (NULL
    keys/values/ops, tombstones, ts ties, touching-contained-empty
    intervals) vs independently-written ANSI-SQL oracles on DuckDB.
    Wider sweeps: tools/fuzz.py state."""
    from keenwa_spark.state_fuzz import StateGen

    mis = cf.run_cases(StateGen(seed), spark, duck, n=30)
    assert mis == [], mis[:3]


def test_state_generator_is_deterministic_and_covers_shapes():
    from keenwa_spark.state_fuzz import StateGen

    ga, gb = StateGen(3), StateGen(3)
    ca = [ga.case() for _ in range(80)]
    assert [c.oracle_sql for c in ca] == [gb.case().oracle_sql for _ in range(80)]
    kinds = {c.kind for c in ca}
    assert {"snapshot_diff", "merge_upsert", "changelog", "islands",
            "scd2", "coalesce"} <= kinds
    text = " ".join(c.oracle_sql for c in ca)
    for shape in ("IS NOT DISTINCT FROM", "FULL JOIN", "'insert'",
                  "'delete'", "DESC NULLS LAST", "AND 1 PRECEDING",
                  "LEAD(valid_from)"):
        assert shape in text, shape


# ---------------------------------------------------------------------------
# Hyperfunction-operator fuzz (keenwa_spark/hyper_fuzz.py — round 10)
# ---------------------------------------------------------------------------


@pytest.mark.parametrize("seed", [1, 2])
def test_hyper_fuzz_corpus_cross_engine(spark, duck, seed):
    """time_weighted_avg (locf + linear) / state_durations /
    counter_delta / ohlc_bars on random irregular series (NULL
    values/timestamps, ts ties with unique-id tie-break,
    single-observation keys, counter resets, bucket boundaries) vs
    independently-written DuckDB oracles. Every compared number is
    integer-valued or a ratio of exact sub-2^53 integers. Wider
    sweeps: tools/fuzz.py hyper."""
    from keenwa_spark.hyper_fuzz import HyperGen

    mis = cf.run_cases(HyperGen(seed), spark, duck, n=30)
    assert mis == [], mis[:3]


def test_hyper_generator_is_deterministic_and_covers_shapes():
    from keenwa_spark.hyper_fuzz import HyperGen

    ga, gb = HyperGen(3), HyperGen(3)
    ca = [ga.case() for _ in range(60)]
    assert [c.oracle_sql for c in ca] == [gb.case().oracle_sql for _ in range(60)]
    kinds = {c.kind for c in ca}
    assert {"twa_locf", "twa_linear", "state_durations", "counter_delta",
            "ohlc"} <= kinds
    text = " ".join(c.oracle_sql for c in ca)
    for shape in ("HUGEINT", "LAG(v)", "ELSE v END", "FIRST_VALUE(v)",
                  "(ts // 60) * 60", "* 1000000"):
        assert shape in text, shape


# ---------------------------------------------------------------------------
# Series-operator fuzz (keenwa_spark/series_fuzz.py — round 10)
# ---------------------------------------------------------------------------


@pytest.mark.parametrize("seed", [1, 2])
def test_series_fuzz_corpus_cross_engine(spark, duck, seed):
    """skyline_2d (linear prev-min sort-filter vs the quadratic
    NOT-EXISTS dominance oracle — completely different algorithms),
    time_resample (LOCF grid) and time_resample_interpolate (linear
    fill, bit-identical fixed-order double arithmetic) on random
    instances. Wider sweeps: tools/fuzz.py series."""
    from keenwa_spark.series_fuzz import SeriesGen

    mis = cf.run_cases(SeriesGen(seed), spark, duck, n=25)
    assert mis == [], mis[:3]


def test_series_generator_is_deterministic_and_covers_shapes():
    from keenwa_spark.series_fuzz import SeriesGen

    ga, gb = SeriesGen(3), SeriesGen(3)
    ca = [ga.case() for _ in range(60)]
    assert [c.oracle_sql for c in ca] == [gb.case().oracle_sql for _ in range(60)]
    kinds = {c.kind for c in ca}
    assert {"skyline", "resample_locf", "resample_interp", "seqpat"} <= kinds
    text = " ".join(c.oracle_sql for c in ca)
    for shape in ("NOT EXISTS", "generate_series", "IGNORE NULLS",
                  "'interp'", "'edge'", "pv + (nv - pv)",
                  "regexp_extract_all", "STRING_AGG"):
        assert shape in text, shape


# ---------------------------------------------------------------------------
# Portable-sketch fuzz (keenwa_spark/sketch_fuzz.py — round 10, session 2)
# ---------------------------------------------------------------------------


@pytest.mark.parametrize("seed", [1, 2])
def test_sketch_fuzz_corpus_cross_engine(spark, duck, seed):
    """Bloom filters (both probe shapes: dense-array projection and
    broadcast word join) and count-min sketches on random geometries
    (m_bits octaves, non-power-of-two widths, depths 1..8), saturated
    tiny filters, empty key sets, colliding short keys and heavy
    multiplicities — vs DuckDB oracles replaying the identical frozen
    md5-affine arithmetic. Estimates must match EXACTLY, false
    positives and collision overshoot included. Wider sweeps:
    tools/fuzz.py sketch."""
    from keenwa_spark.sketch_fuzz import SketchGen

    mis = cf.run_cases(SketchGen(seed), spark, duck, n=25)
    assert mis == [], mis[:3]


def test_sketch_generator_is_deterministic_and_covers_shapes():
    from keenwa_spark.sketch_fuzz import SketchGen

    ga, gb = SketchGen(3), SketchGen(3)
    ca = [ga.case() for _ in range(60)]
    assert [c.oracle_sql for c in ca] == [gb.case().oracle_sql for _ in range(60)]
    kinds = {c.kind for c in ca}
    assert {"bloom_dense", "bloom_join"} <= kinds
    assert any(k.startswith("cms_d") for k in kinds)
    text = " ".join(c.oracle_sql for c in ca)
    for shape in ("bit_or(1::BIGINT <<", "bool_and(w.wv IS NOT NULL",
                  "MIN(COALESCE(c.cnt, 0))", "LEFT JOIN wrds",
                  "LEFT JOIN cms"):
        assert shape in text, shape


# ---------------------------------------------------------------------------
# Dedup-family fuzz (keenwa_spark/dedup_fuzz.py — round 10, session 2)
# ---------------------------------------------------------------------------


@pytest.mark.parametrize("seed", [1, 2])
def test_dedup_fuzz_corpus_cross_engine(spark, duck, seed):
    """exact_dedup / ngram_jaccard_pairs / minhash_signatures /
    minhash_lsh_pairs on random corpora with injected duplicates,
    near-duplicates and cosmetic noise (case flips, doubled and
    leading/trailing whitespace). The Jaccard oracle is the QUADRATIC
    string-level all-pairs definition — structurally different from
    Spark's inverted hash index; LSH runs random band geometries and
    tiny max_bucket caps against a window-count replay. Wider sweeps:
    tools/fuzz.py dedup."""
    from keenwa_spark.dedup_fuzz import DedupGen

    mis = cf.run_cases(DedupGen(seed), spark, duck, n=25)
    assert mis == [], mis[:3]


def test_dedup_generator_is_deterministic_and_covers_shapes():
    from keenwa_spark.dedup_fuzz import DedupGen

    ga, gb = DedupGen(3), DedupGen(3)
    ca = [ga.case() for _ in range(80)]
    assert [c.oracle_sql for c in ca] == [gb.case().oracle_sql for _ in range(80)]
    kinds = {c.kind for c in ca}
    assert "exact" in kinds and "minhash" in kinds
    assert any(k.startswith("jaccard_n") for k in kinds)
    assert any(k.startswith("lsh_b") for k in kinds)
    # tiny viral-bucket caps are generated
    assert any(k.endswith("_cap2") or k.endswith("_cap5") for k in kinds)
    text = " ".join(c.oracle_sql for c in ca)
    for shape in ("md5(", "list_distinct", "ON a.s = b.s AND a.id < b.id",
                  "bucket_n <=", "|| '-' ||"):
        assert shape in text, shape


# ---------------------------------------------------------------------------
# Text-model fuzz (keenwa_spark/text_fuzz.py — round 10, session 2)
# ---------------------------------------------------------------------------


@pytest.mark.parametrize("seed", [1, 2])
def test_text_fuzz_corpus_cross_engine(spark, duck, seed):
    """BPE merge learning on tie-heavy tiny-alphabet corpora (the
    oracle replays the whole training loop per case, argmax included),
    the token-vote classifier under vote ties / OOV abstains /
    label-skewed slices, and feature hashing across dims 4..64 with
    bucket-by-bucket sign cancellation. Wider sweeps:
    tools/fuzz.py text."""
    from keenwa_spark.text_fuzz import TextGen

    mis = cf.run_cases(TextGen(seed), spark, duck, n=20)
    assert mis == [], mis[:3]


def test_text_generator_is_deterministic_and_covers_shapes():
    from keenwa_spark.text_fuzz import TextGen

    ga, gb = TextGen(3), TextGen(3)
    ca = [ga.case() for _ in range(60)]
    assert [c.oracle_sql for c in ca] == [gb.case().oracle_sql for _ in range(60)]
    kinds = {c.kind for c in ca}
    assert any(k.startswith("bpe_r") for k in kinds)
    assert any(k.startswith("vote_m") for k in kinds)
    assert any(k.startswith("fhash_d") for k in kinds)
    text = " ".join(c.oracle_sql for c in ca)
    for shape in ("ORDER BY n DESC, l ASC, r ASC", "IS NOT DISTINCT FROM",
                  "ROW_NUMBER() OVER (\n          PARTITION BY tok",
                  "THEN 1 ELSE -1 END"):
        assert shape in text, shape


# ---------------------------------------------------------------------------
# Split/sampling fuzz (keenwa_spark/split_fuzz.py — round 10, session 2)
# ---------------------------------------------------------------------------


@pytest.mark.parametrize("seed", [1, 2])
def test_split_fuzz_corpus_cross_engine(spark, duck, seed):
    """hash_split / stratified_split / stratified_sample on random
    keyed populations: 1-row strata (every boundary floors to 0 or 1),
    percent vectors summing under 100 (held-out mass), 0% arms,
    sparse non-contiguous ids, skewed labels, random salts — vs
    DuckDB bucket/window replays. Split bugs poison downstream
    training silently, hence the dedicated axis. Wider sweeps:
    tools/fuzz.py split."""
    from keenwa_spark.split_fuzz import SplitGen

    mis = cf.run_cases(SplitGen(seed), spark, duck, n=25)
    assert mis == [], mis[:3]


def test_split_generator_is_deterministic_and_covers_shapes():
    from keenwa_spark.split_fuzz import SplitGen

    ga, gb = SplitGen(3), SplitGen(3)
    ca = [ga.case() for _ in range(80)]
    assert [c.oracle_sql for c in ca] == [gb.case().oracle_sql for _ in range(80)]
    kinds = {c.kind for c in ca}
    assert any(k.startswith("hash_") for k in kinds)
    assert any(k.startswith("strat_") for k in kinds)
    assert any(k.startswith("sample_n") for k in kinds)
    text = " ".join(c.oracle_sql for c in ca)
    for shape in ("PARTITION BY lab", "// 100", "WHEN bk >=",
                  "COUNT(*) OVER (PARTITION BY lab)"):
        assert shape in text, shape


# ---------------------------------------------------------------------------
# Streaming fuzz (keenwa_spark/stream_fuzz.py — round 11)
# ---------------------------------------------------------------------------


@pytest.mark.parametrize("seed", [1, 2])
def test_stream_fuzz_corpus_cross_engine(spark, duck, seed):
    """Random micro-batch boundaries (1..5 parquet files, mtime-ordered,
    maxFilesPerTrigger=1), heavily out-of-order event time, duplicate
    rows, whole-batch replays (at-least-once), NULL event times and
    values — over windowed counts, OHLC, session windows,
    dropDuplicatesWithinWatermark, and the stream-STREAM interval join
    (two independent file streams with independent batch layouts, so
    join partners arrive batches apart). Split-invariant families compare
    stream == DuckDB batch oracle exactly; the late-data family checks
    the one-sided watermark contract as a bounds law (lower = rows
    guaranteed within the delay, upper = all rows, unique append
    emissions, exact when the bounds coincide). Wider sweeps:
    tools/fuzz.py stream."""
    from keenwa_spark.stream_fuzz import run_stream_fuzz

    mis = run_stream_fuzz(spark, duck, seed=seed, n=12)
    assert mis == [], mis[:3]


def test_stream_generator_is_deterministic_and_covers_shapes():
    from keenwa_spark.stream_fuzz import StreamGen

    ga, gb = StreamGen(3), StreamGen(3)
    ca = [ga.case() for _ in range(150)]
    cb = [gb.case() for _ in range(150)]
    assert [(c.kind, c.batches, c.oracle_sql) for c in ca] == [
        (c.kind, c.batches, c.oracle_sql) for c in cb
    ]
    kinds = {c.kind for c in ca}
    assert any(k.startswith("win_") for k in kinds)
    assert any(k.startswith("ohlc_") for k in kinds)
    assert any(k.startswith("sess_") for k in kinds)
    assert any(k.startswith("dedup_") for k in kinds)
    assert any(k.startswith("late_") for k in kinds)
    assert any(k.startswith("sjoin_") for k in kinds)
    # kill-restart recovery family: all three sub-shapes and both kill
    # modes must be reachable
    for prefix in ("ckwin_", "ckdedup_", "cksjoin_"):
        assert any(k.startswith(prefix) for k in kinds), prefix
    modes = {c.params["restart"]["mode"] for c in ca if c.kind.startswith("ck")}
    assert modes == {"staged", "stop"}
    # ckwin batches are time-ordered across batches (the exact-oracle
    # precondition: no row is ever late)
    for c in ca:
        if c.kind.startswith("ckwin_"):
            prev_max = None
            for b in c.batches:
                lo = min(c.rows[i][3] for i in b)
                assert prev_max is None or lo >= prev_max, c.kind
                prev_max = max(c.rows[i][3] for i in b)
    # stream-stream join cases carry an independent second layout
    assert all(c.batches2 for c in ca if c.kind.startswith("sjoin_"))
    assert all(c.batches2 for c in ca if c.kind.startswith("cksjoin_"))
    # replay coverage: some dedup case redelivers at least one batch
    assert any(
        k.startswith("dedup_") and len(c.batches) > len({tuple(b) for b in c.batches})
        for k, c in ((c.kind, c) for c in ca)
    ) or any(len(c.batches) >= 2 for c in ca if c.kind.startswith("dedup_"))
    # multi-batch splits actually occur
    assert any(len(c.batches) >= 3 for c in ca)


def test_stream_late_bounds_checker_rejects_violations():
    """The late-family checker must actually fire: duplicate emission,
    beyond-watermark windows, missing guaranteed windows, and bound
    violations are each detected."""
    from keenwa_spark.stream_fuzz import StreamCase, check_late_bounds

    case = StreamCase(
        kind="late_w700_d501", rows=[], batches=[[0]],
        params={
            "window": 700, "delay": 501, "final_wm": 1400,
            "lower": {(0, "a"): [1, 5]},
            "upper": {(0, "a"): [2, 9], (700, "b"): [1, 3], (7000, "c"): [1, 1]},
        },
        oracle_sql="",
    )
    assert check_late_bounds(case, [(0, "a", 1, 5)]) is None
    assert check_late_bounds(case, [(0, "a", 2, 9), (700, "b", 1, 3)]) is None
    assert "duplicate" in check_late_bounds(case, [(0, "a", 1, 5), (0, "a", 1, 5)])
    assert "beyond final watermark" in check_late_bounds(
        case, [(0, "a", 1, 5), (7000, "c", 1, 1)])
    assert "guaranteed windows missing" in check_late_bounds(case, [])
    assert "bounds violated" in check_late_bounds(case, [(0, "a", 3, 9)])


def test_stream_late_family_never_generates_watermark_boundary_ties():
    """ADVICE r11: every realizable watermark is (some ts) - delay and
    every window boundary is a multiple of w, so drawing ts with
    ts % w != delay % w guarantees the bounds law in check_late_bounds
    never sits on Spark's eviction-at-equality edge."""
    from keenwa_spark.stream_fuzz import StreamGen

    gen = StreamGen(99)
    n_late = 0
    while n_late < 40:
        case = gen.case()
        if not case.kind.startswith("late_"):
            continue
        n_late += 1
        w, delay = case.params["window"], case.params["delay"]
        for row in case.rows:
            assert row[3] % w != delay % w, (case.kind, row)
        # hence no watermark the prefix-max construction can realize
        # is a window boundary
        assert case.params["final_wm"] % w != 0
