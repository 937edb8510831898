"""Unit tests for sampling, tf-idf, and quantization operators
(the round-3 additions to the LLM-pipeline layer)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from keenwa_spark.pipeline.quantization import quantize_int8, reconstruction_error
from keenwa_spark.pipeline.sampling import hash_sample, hash_split, stratified_sample
from keenwa_spark.pipeline.tfidf import top_terms


@pytest.fixture(scope="module")
def docs(spark):
    rows = [(i, f"word{i % 7} filler text common", ["en", "de"][i % 2]) for i in range(40)]
    return spark.createDataFrame(rows, "doc_id BIGINT, text STRING, lang STRING")


def test_hash_sample_deterministic_and_salted(docs):
    a1 = {r.doc_id for r in hash_sample(docs, "doc_id", 0.5).collect()}
    a2 = {r.doc_id for r in hash_sample(docs, "doc_id", 0.5).collect()}
    b = {r.doc_id for r in hash_sample(docs, "doc_id", 0.5, salt="other").collect()}
    assert a1 == a2  # reproducible
    assert a1 != b  # independent draw per salt
    assert hash_sample(docs, "doc_id", 0.0).count() == 0
    assert hash_sample(docs, "doc_id", 1.0).count() == 40


def test_hash_sample_rate_validation(docs):
    with pytest.raises(ValueError):
        hash_sample(docs, "doc_id", 1.5)


def test_hash_split_disjoint_and_total(docs):
    out = hash_split(docs, "doc_id", {"train": 0.7, "test": 0.3}).collect()
    assert len(out) == 40  # fractions sum to 1 -> total
    by_id = {}
    for r in out:
        by_id.setdefault(r.doc_id, []).append(r.split)
    assert all(len(v) == 1 for v in by_id.values())  # disjoint
    with pytest.raises(ValueError):
        hash_split(docs, "doc_id", {"a": 0.8, "b": 0.4})


def test_hash_split_edges_cover_last_bucket():
    """Edges come from ROUNDED cumulative fractions: any fraction set
    summing to 1 must end exactly at _BUCKETS (float-truncated edges
    could stop at _BUCKETS - 1 and silently drop keys hashing to the
    final bucket), and decimal-round fractions must hit the round
    edges an oracle hardcodes."""
    from keenwa_spark.pipeline.sampling import _BUCKETS, _split_edges

    for splits in (
        {"a": 0.583, "b": 0.285, "c": 0.132},  # advisor's truncation repro
        {"train": 0.8, "val": 0.1, "test": 0.1},
        {"x": 0.7, "y": 0.3},
        {"only": 1.0},
    ):
        edges = _split_edges(splits)
        assert edges[0][1] == 0
        assert edges[-1][2] == _BUCKETS, (splits, edges)
        for (_, _, hi), (_, lo2, _) in zip(edges, edges[1:]):
            assert hi == lo2  # contiguous, disjoint
    assert [e[2] for e in _split_edges({"train": 0.8, "val": 0.1, "test": 0.1})] == [
        800000,
        900000,
        1000000,
    ]


def test_sampling_quote_safe(docs):
    """Quoted salts / split names / domain names must not break or
    alter the generated SQL."""
    from keenwa_spark.pipeline.sampling import mixture_sample

    n = hash_sample(docs, "doc_id", 0.5, salt="o'hare").count()
    assert 0 < n < 40
    out = hash_split(docs, "doc_id", {"tr'ain": 0.5, "te'st": 0.5}, salt="s'1")
    assert set(r.split for r in out.collect()) <= {"tr'ain", "te'st"}
    assert out.count() == 40
    mixed = mixture_sample(
        docs.withColumn("dom", F.lit("d'0")), "dom", {"d'0": 1.0}, "doc_id"
    )
    assert mixed.count() == 40


def test_stratified_sample_exact_counts(docs):
    out = stratified_sample(docs, "lang", 5, "doc_id")
    counts = {r.lang: r.n for r in out.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    assert counts == {"en": 5, "de": 5}
    # a stratum smaller than n returns all of it
    small = stratified_sample(docs.filter("doc_id < 3"), "lang", 5, "doc_id")
    assert small.count() == 3


def test_top_terms_ranks_distinctive_term_first(spark):
    rows = [
        (1, "unique common common"),
        (2, "common common shared"),
        (3, "shared common common"),
    ]
    df = spark.createDataFrame(rows, "doc_id BIGINT, text STRING")
    top = top_terms(df, k=1, min_df=1).collect()
    best = {r.doc_id: r.term for r in top}
    # 'unique' (df=1) outranks 'common' (df=3) for doc 1 despite lower tf
    assert best[1] == "unique"


def test_quantize_roundtrip_error_bound(spark):
    rows = [(1, [1.0, -2.0, 0.5]), (2, [100.0, 0.0, -100.0]), (3, [0.0, 0.0, 0.0])]
    emb = spark.createDataFrame(rows, "vec_id BIGINT, embedding ARRAY<FLOAT>")
    q = {r.vid: r for r in quantize_int8(emb).collect()}
    assert all(-127 <= x <= 127 for r in q.values() for x in r.qvec)
    assert q[3].scale == 0.0 and q[3].qvec == [0, 0, 0]  # zero-vector guard
    # reconstruction error per element is at most scale/2
    err = {r.vid: r for r in reconstruction_error(emb).collect()}
    for vid, r in err.items():
        assert r.mse <= (r.scale / 2) ** 2 + 1e-12


def test_quality_gates_flag_junk(spark):
    from keenwa_spark.pipeline.quality import drop_reason_stats, quality_gates

    # 40 distinct letter-only words: passes every gate (a repeated
    # sentence would fail g_repetition — that's the gate working)
    import itertools

    good = " ".join(
        "".join(p) for p in itertools.product("abcdefgh", repeat=2)
    )[: 40 * 3 - 1]
    rows = [
        (1, good),
        (2, "spam " * 60),  # repetition: distinct ratio 1/60
        (3, ("1234 " * 35) + "x"),  # digit-heavy
        (4, " ".join(f"http://x{i}.com" for i in range(31))),  # link farm / no alpha words ok but urls>5
        (5, good + " " + "a" * 50),  # 50-char junk token
    ]
    df = spark.createDataFrame(rows, "doc_id BIGINT, text STRING")
    g = {r.doc_id: r for r in quality_gates(df).collect()}
    assert g[1].keep
    assert not g[2].g_repetition and not g[2].keep
    assert not g[3].g_digits
    assert not g[4].g_urls
    assert not g[5].g_word_len
    stats = drop_reason_stats(quality_gates(df)).collect()[0]
    assert stats.kept == 1 and stats.total == 5
    assert stats.fail_g_repetition >= 1 and stats.fail_g_urls >= 1


def test_mixture_sample_rates_and_determinism(docs):
    from keenwa_spark.pipeline.sampling import mixture_sample

    d = docs.withColumn("domain", F.col("lang"))
    rates = {"en": 1.0, "de": 0.0}
    out = {r.doc_id for r in mixture_sample(d, "domain", rates, "doc_id").collect()}
    # rate-1.0 domain keeps everything, rate-0.0 domain drops everything
    assert out == {i for i in range(40) if i % 2 == 0}
    # reproducible
    out2 = {r.doc_id for r in mixture_sample(d, "domain", rates, "doc_id").collect()}
    assert out == out2


def test_mixture_sample_default_rate_and_subset(docs):
    from keenwa_spark.pipeline.sampling import hash_sample, mixture_sample

    d = docs.withColumn("domain", F.col("lang"))
    # unknown domains fall back to default_rate
    none_kept = mixture_sample(d, "domain", {"fr": 1.0}, "doc_id").count()
    assert none_kept == 0
    # a domain at rate r is exactly hash_sample(r) restricted to it:
    # same salt => same buckets => identical row set
    mixed = {
        r.doc_id
        for r in mixture_sample(d, "domain", {"en": 0.5}, "doc_id", salt="s0").collect()
    }
    plain = {
        r.doc_id
        for r in hash_sample(d.where("domain = 'en'"), "doc_id", 0.5, salt="s0").collect()
    }
    assert mixed == plain


def test_mixture_sample_rate_validation(docs):
    from keenwa_spark.pipeline.sampling import mixture_sample

    with pytest.raises(ValueError, match="rate"):
        mixture_sample(docs, "lang", {"en": 1.5}, "doc_id")
    with pytest.raises(ValueError, match="rate"):
        mixture_sample(docs, "lang", {"en": 0.5}, "doc_id", default_rate=-0.1)


def test_weighted_sample_probability_scales_with_weight(spark):
    from keenwa_spark.pipeline.sampling import weighted_bernoulli_sample

    rows = [(i, w) for i in range(2000) for w in [(i % 2) * 2000.0]]
    df = spark.createDataFrame(rows, "doc_id BIGINT, wt DOUBLE")
    kept = weighted_bernoulli_sample(df, "wt", 0.00025, "doc_id").collect()
    # weight 0 rows can never be kept; weight 2000 rows keep at p=0.5
    assert all(r.wt > 0 for r in kept)
    assert 350 <= len(kept) <= 650  # ~500 expected of 1000 eligible
    # deterministic
    again = weighted_bernoulli_sample(df, "wt", 0.00025, "doc_id").collect()
    assert {r.doc_id for r in kept} == {r.doc_id for r in again}


def test_weighted_sample_probability_caps_at_one(spark):
    from keenwa_spark.pipeline.sampling import weighted_bernoulli_sample

    df = spark.createDataFrame(
        [(i, 1e9) for i in range(50)], "doc_id BIGINT, wt DOUBLE"
    )
    # min(1, scale*w) == 1 -> everything kept
    assert weighted_bernoulli_sample(df, "wt", 1.0, "doc_id").count() == 50
    with pytest.raises(ValueError, match="scale"):
        weighted_bernoulli_sample(df, "wt", -1.0, "doc_id")


# --- packing / chunking / PII (round-4 additions) --------------------------


def test_pack_sequences_partitions_every_token_exactly_once(spark):
    from keenwa_spark.pipeline.packing import pack_training_sequences

    rows = [(i, " ".join(f"w{j}" for j in range(5 + 3 * i))) for i in range(20)]
    docs = spark.createDataFrame(rows, "doc_id BIGINT, text STRING")
    out = pack_training_sequences(docs, seq_len=16, n_shards=4).collect()
    # every doc's token ranges tile [0, n_tokens) with no gap/overlap
    by_doc = {}
    for r in out:
        by_doc.setdefault(r.doc_id, []).append(r)
    assert set(by_doc) == set(range(20))
    for doc_id, rs in by_doc.items():
        rs = sorted(rs, key=lambda r: r.win)
        assert rs[0].tok_start == 0
        assert rs[-1].tok_end == rs[-1].n_tokens
        for a, b in zip(rs, rs[1:]):
            assert a.tok_end == b.tok_start  # contiguous
            assert b.win == a.win + 1  # a doc spans consecutive windows
    # every sequence holds exactly seq_len tokens except each shard's last
    per_seq = {}
    last_win = {}
    for r in out:
        per_seq[r.seq_id] = per_seq.get(r.seq_id, 0) + (r.tok_end - r.tok_start)
        last_win[r.shard] = max(last_win.get(r.shard, -1), r.win)
    for r in out:
        if r.win != last_win[r.shard]:
            assert per_seq[r.seq_id] == 16, (r.seq_id, per_seq[r.seq_id])
        else:
            assert per_seq[r.seq_id] <= 16


def test_pack_sequences_drops_empty_docs(spark):
    from keenwa_spark.pipeline.packing import pack_training_sequences

    docs = spark.createDataFrame(
        [(0, "a b c"), (1, "   "), (2, "d e")], "doc_id BIGINT, text STRING"
    )
    out = pack_training_sequences(docs, seq_len=4, n_shards=1).collect()
    assert sorted({r.doc_id for r in out}) == [0, 2]


def test_chunk_documents_overlap_and_coverage(spark):
    from keenwa_spark.pipeline.packing import chunk_documents

    text = " ".join(f"t{j}" for j in range(10))
    docs = spark.createDataFrame([(7, text)], "doc_id BIGINT, text STRING")
    out = sorted(
        chunk_documents(docs, chunk_tokens=4, overlap=2).collect(),
        key=lambda r: r.chunk_id,
    )
    # stride 2: starts 0,2,4,6,8 -> 5 chunks; last is short
    assert [r.chunk_start for r in out] == [0, 2, 4, 6, 8]
    assert out[0].chunk_text == "t0 t1 t2 t3"
    assert out[1].chunk_text == "t2 t3 t4 t5"
    assert out[-1].chunk_text == "t8 t9"
    assert [r.n_chunk_tokens for r in out] == [4, 4, 4, 4, 2]
    # consecutive chunks share exactly `overlap` tokens
    for a, b in zip(out, out[1:]):
        assert a.chunk_text.split()[-2:] == b.chunk_text.split()[:2]


def test_chunk_documents_validates_overlap(spark):
    import pytest as _pytest

    from keenwa_spark.pipeline.packing import chunk_documents

    docs = spark.createDataFrame([(0, "a")], "doc_id BIGINT, text STRING")
    with _pytest.raises(ValueError):
        chunk_documents(docs, chunk_tokens=4, overlap=4)


def test_redact_pii_examples(spark):
    from keenwa_spark.pipeline.text import redact_pii

    docs = spark.createDataFrame(
        [
            (0, "mail bob.smith+x@corp.example.org now"),
            (1, "call +1 (555) 010-9999 today"),
            (2, "host 192.168.0.1 up"),
            (3, "clean text only"),
        ],
        "doc_id BIGINT, text STRING",
    )
    out = {r.doc_id: r for r in redact_pii(docs).collect()}
    assert out[0].redacted == "mail <EMAIL> now" and out[0].n_emails == 1
    assert out[1].redacted == "call <PHONE> today" and out[1].n_phones == 1
    assert out[2].redacted == "host <IP> up" and out[2].n_ips == 1
    assert out[2].n_phones == 0  # the IP must not double-count as a phone
    assert out[3].redacted == "clean text only"
    assert (out[3].n_emails, out[3].n_phones, out[3].n_ips) == (0, 0, 0)


def test_token_budget_cap_maximal_prefix(spark):
    from keenwa_spark.pipeline.sampling import token_budget_cap

    # domain "a": 5 docs x 4 tokens; budget 10 keeps exactly the first
    # 2 docs of the deterministic (hash, key) order (8 <= 10 < 12) —
    # the first overflowing doc and everything after it are dropped
    rows = [(i, "a", "t t t t") for i in range(5)]
    rows += [(10 + i, "b", "x y") for i in range(3)]  # 2 tokens each
    rows += [(20, "zz", "drop me please")]  # unknown domain
    df = spark.createDataFrame(rows, "doc_id BIGINT, domain STRING, text STRING")
    out = token_budget_cap(df, "domain", {"a": 10, "b": 100}, "doc_id").collect()
    by_dom: dict[str, list] = {}
    for r in out:
        by_dom.setdefault(r.domain, []).append(r)
    assert len(by_dom["a"]) == 2
    assert max(r.cum_tokens for r in by_dom["a"]) == 8
    assert len(by_dom["b"]) == 3  # under budget: keep all
    assert "zz" not in by_dom  # default_budget=0 drops unknown domains
    # deterministic: same selection on re-run
    again = {r.doc_id for r in
             token_budget_cap(df, "domain", {"a": 10, "b": 100}, "doc_id").collect()}
    assert again == {r.doc_id for r in out}


def test_token_budget_cap_validates_budgets(spark):
    from keenwa_spark.pipeline.sampling import token_budget_cap

    df = spark.createDataFrame([(0, "a", "x")], "doc_id BIGINT, domain STRING, text STRING")
    with pytest.raises(ValueError):
        token_budget_cap(df, "domain", {"a": -1}, "doc_id")


# --- repetition / vocab / per-domain curation (round-4 additions) ---


def test_repetition_stats_known_values(spark):
    rows = [
        (1, "a b a b a b"),      # bigrams: ab,ba,ab,ba,ab -> 5 total 2 distinct
        (2, "x y z w"),          # all bigrams unique
        (3, "solo"),             # too short for any bigram
    ]
    df = spark.createDataFrame(rows, "doc_id BIGINT, text STRING")
    from keenwa_spark.pipeline.text import repetition_stats

    out = {r.doc_id: r for r in repetition_stats(df).collect()}
    assert abs(out[1].dup_bigram_ratio - (1 - 2 / 5)) < 1e-12
    assert abs(out[1].top_bigram_frac - 3 / 5) < 1e-12  # 'a b' occurs 3/5
    assert out[2].dup_bigram_ratio == 0.0
    assert out[3].dup_bigram_ratio == 0.0  # short doc kept via spine join
    assert out[3].top_bigram_frac == 0.0
    # trigrams of doc 1: aba,bab,aba,bab -> 4 total 2 distinct
    assert abs(out[1].dup_trigram_ratio - (1 - 2 / 4)) < 1e-12


def test_vocab_topk_order_and_min_count(spark):
    rows = [(1, "b b b a a c"), (2, "a b")]
    df = spark.createDataFrame(rows, "doc_id BIGINT, text STRING")
    from keenwa_spark.pipeline.text import vocab_topk

    out = [(r.word, r.n) for r in vocab_topk(df, k=10).collect()]
    assert out == [("b", 4), ("a", 3), ("c", 1)]  # count desc, word asc
    out2 = [(r.word, r.n) for r in vocab_topk(df, k=10, min_count=2).collect()]
    assert out2 == [("b", 4), ("a", 3)]


def test_select_top_k_per_group_tie_break(spark):
    rows = [(1, "g1", 5.0), (2, "g1", 5.0), (3, "g1", 1.0), (4, "g2", 2.0)]
    df = spark.createDataFrame(rows, "doc_id BIGINT, source STRING, score DOUBLE")
    from keenwa_spark.pipeline.quality import select_top_k_per_group

    kept = sorted(
        r.doc_id
        for r in select_top_k_per_group(df, "source", "score", 2).collect()
    )
    # g1 tie at 5.0 broken by doc_id (1 before 2); g2 keeps its only row
    assert kept == [1, 2, 4]


def test_negative_samples_properties(spark):
    from keenwa_spark.pipeline.sampling import negative_samples

    df = spark.createDataFrame(
        [(i, f"t{i}") for i in range(20)], "doc_id BIGINT, text STRING"
    )
    out = negative_samples(df, k=4).collect()
    assert len(out) == 20 * 4
    for r in out:
        assert r.negative_id != r.anchor_id          # never self-paired
        assert 0 <= r.negative_id < 20               # stays in domain
    # deterministic across invocations; salt changes the draw
    again = negative_samples(df, k=4).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, again))
    other = negative_samples(df, k=4, salt="other").collect()
    assert sorted(map(tuple, out)) != sorted(map(tuple, other))
    import pytest as _pytest

    with _pytest.raises(ValueError):
        negative_samples(df, k=0)


class TestExpectations:
    def _report(self, spark, df, checks, refs=None):
        from keenwa_spark.pipeline.expectations import validate_expectations

        return {
            (r["check_type"], r["target"]): (
                r["observed"], r["threshold"], r["passed"]
            )
            for r in validate_expectations(df, checks, refs).collect()
        }

    def test_failing_checks_report_violations(self, spark):
        from keenwa_spark.pipeline import expectations as E

        df = spark.createDataFrame(
            [(1, "a", 5.0), (1, "b", -2.0), (None, "zz", 50.0)],
            "k int, status string, v double",
        )
        got = self._report(
            spark,
            df,
            [
                E.not_null("k"),
                E.unique("k"),
                E.accepted_values("status", ["a", "b"]),
                E.value_range("v", 0.0, 10.0),
                E.row_count(min_rows=5),
            ],
        )
        obs, thr, passed = got[("not_null", "k")]
        assert not passed and abs(obs - 1 / 3) < 1e-12
        assert got[("unique", "k")] == (1.0, 0.0, False)  # two k=1 rows
        assert got[("accepted_values", "status")] == (1.0, 0.0, False)
        assert got[("value_range", "v")] == (2.0, 0.0, False)
        obs, thr, passed = got[("row_count", "__table__")]
        assert (obs, thr, passed) == (3.0, 5.0, False)

    def test_passing_checks_and_null_tolerance(self, spark):
        from keenwa_spark.pipeline import expectations as E

        df = spark.createDataFrame(
            [(1, None), (2, "x"), (3, "x"), (4, "x")], "k int, s string"
        )
        got = self._report(
            spark,
            df,
            [E.not_null("s", max_null_frac=0.5), E.unique("k"),
             E.row_count(min_rows=1, max_rows=10)],
        )
        assert got[("not_null", "s")] == (0.25, 0.5, True)
        assert got[("unique", "k")] == (0.0, 0.0, True)
        obs, thr, passed = got[("row_count", "__table__")]
        assert passed and thr is None

    def test_foreign_key_orphans(self, spark):
        from keenwa_spark.pipeline import expectations as E

        fact = spark.createDataFrame(
            [(1,), (2,), (9,), (None,)], "fk int"
        )
        dim = spark.createDataFrame([(1,), (2,), (3,)], "id int")
        got = self._report(
            spark, fact,
            [E.foreign_key("fk", "dim", "id")],
            refs={"dim": dim},
        )
        # 9 is an orphan; NULL fk is not counted (use not_null for that)
        assert got[("foreign_key", "fk->dim.id")] == (1.0, 0.0, False)

    def test_validation_errors(self, spark):
        from keenwa_spark.pipeline import expectations as E
        from keenwa_spark.pipeline.expectations import validate_expectations

        df = spark.createDataFrame([(1,)], "k int")
        with pytest.raises(ValueError):
            validate_expectations(df, [])
        with pytest.raises(ValueError):
            validate_expectations(df, [E.not_null("missing")])
        with pytest.raises(ValueError):
            validate_expectations(df, [E.foreign_key("k", "nope", "id")])

    def test_single_scan_plan(self, spark):
        """All row-level checks must fuse into one aggregation pass —
        the plan over a parquet-free local relation should contain no
        join and exactly one aggregate chain."""
        from keenwa_spark.pipeline import expectations as E
        from keenwa_spark.pipeline.expectations import validate_expectations

        df = spark.range(100).selectExpr("id AS k", "id % 7 AS v")
        rep = validate_expectations(
            df, [E.not_null("k"), E.value_range("v", 0, 6), E.row_count(min_rows=1)]
        )
        plan = rep._jdf.queryExecution().optimizedPlan().toString()
        assert "Join" not in plan


class TestQuantileHistogram:
    def test_equal_depth_on_uniform_data(self, spark):
        from keenwa_spark.pipeline.quality import quantile_histogram

        df = spark.range(1, 101).selectExpr("CAST(id AS DOUBLE) AS v")
        rows = quantile_histogram(df, "v", 4).collect()
        assert [r["bin"] for r in rows] == [0, 1, 2, 3]
        assert [r["n"] for r in rows] == [25, 25, 25, 25]
        assert rows[0]["lo"] is None and rows[3]["hi"] is None
        # inner edges are the exact quartiles of 1..100
        assert rows[1]["lo"] == rows[0]["hi"] == 25.75
        assert rows[2]["lo"] == rows[1]["hi"] == 50.5

    def test_ties_yield_empty_bins_still_emitted(self, spark):
        from keenwa_spark.pipeline.quality import quantile_histogram

        # 90% identical values: most cuts coincide -> empty bins
        df = spark.createDataFrame(
            [(5.0,)] * 90 + [(float(x),) for x in range(10)], "v double"
        )
        rows = quantile_histogram(df, "v", 4).collect()
        assert len(rows) == 4
        assert sum(r["n"] for r in rows) == 100
        assert any(r["n"] == 0 for r in rows)

    def test_nulls_excluded_and_validation(self, spark):
        from keenwa_spark.pipeline.quality import quantile_histogram

        df = spark.createDataFrame([(1.0,), (None,), (2.0,)], "v double")
        rows = quantile_histogram(df, "v", 2).collect()
        assert sum(r["n"] for r in rows) == 2
        with pytest.raises(ValueError):
            quantile_histogram(df, "v", 1)


class TestLmTransitionScore:
    def test_hand_computed_counts(self, spark):
        from keenwa_spark.pipeline.text import lm_transition_score

        df = spark.createDataFrame(
            [(1, "a b a b"), (2, "a c"), (3, "x")],
            "doc_id long, text string",
        )
        got = {
            r["doc_id"]: (
                r["n_pairs"], r["ctx_total"], r["pair_total"], r["surprisal"]
            )
            for r in lm_transition_score(df).collect()
        }
        # model: c12={(a,b):2,(b,a):1,(a,c):1}, c1={a:3,b:1}
        # doc1 pairs (a,b)x2,(b,a): ctx 3+3+1=7, pair 2+2+1=5
        assert got[1] == (3, 7, 5, 7 / 5)
        # doc2's (a,c) is the rare transition: 3/1 -> highest surprisal
        assert got[2] == (1, 3, 1, 3.0)
        # single-token doc: no bigrams, NULL score
        assert got[3] == (0, None, None, None)

    def test_no_python_udfs_in_plan(self, spark):
        from keenwa_spark.pipeline.text import lm_transition_score

        df = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
        plan = (
            lm_transition_score(df)
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert "PythonUDF" not in plan and "BatchEvalPython" not in plan


class TestFeatureEncoders:
    def test_bucketize_matches_histogram_cuts(self, spark):
        from keenwa_spark.pipeline.features import quantile_bucketize

        df = spark.range(1, 101).selectExpr(
            "id AS k", "CAST(id AS DOUBLE) AS v"
        )
        out = quantile_bucketize(df, "v", 4)
        counts = {
            r["v_bin"]: r["n"]
            for r in out.groupBy("v_bin").count()
            .withColumnRenamed("count", "n").collect()
        }
        assert counts == {0: 25, 1: 25, 2: 25, 3: 25}
        # a value exactly on a cut goes to the bin above it
        q3 = out.where("v = 75.25").collect()
        assert q3 == [] or all(r["v_bin"] == 3 for r in q3)
        with pytest.raises(ValueError):
            quantile_bucketize(df, "v", 1)

    def test_bucketize_null_passthrough(self, spark):
        from keenwa_spark.pipeline.features import quantile_bucketize

        df = spark.createDataFrame(
            [(1, 1.0), (2, None), (3, 3.0)], "k int, v double"
        )
        rows = {r["k"]: r["v_bin"] for r in quantile_bucketize(df, "v", 2).collect()}
        assert rows[2] is None and rows[1] == 0 and rows[3] == 1

    def test_chained_bucketizers_keep_the_partition_count(self, spark):
        """With broadcasting off, each bucketizer's cross join with its
        cuts plans a CartesianProduct, whose partitions are the product
        of its sides'. The one-partition cuts frame keeps the scan's
        count through a chain; a ``spark.range(1)`` cuts frame
        multiplied it by ``defaultParallelism`` per bucketizer, so
        ``pl_rfm_segments`` (three in a row) ran out of time."""
        from keenwa_spark.pipeline.features import quantile_bucketize

        df = spark.range(0, 40, numPartitions=3).selectExpr(
            "CAST(id AS DOUBLE) AS v"
        )
        keys = (
            "spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.adaptive.enabled",
        )
        saved = [spark.conf.get(k) for k in keys]
        spark.conf.set(keys[0], "-1")
        spark.conf.set(keys[1], "false")
        try:
            out = quantile_bucketize(df, "v", 2, out_col="a")
            out = quantile_bucketize(out, "v", 2, out_col="b")
            plan = out._jdf.queryExecution().executedPlan().toString()
            assert "CartesianProduct" in plan
            assert out.rdd.getNumPartitions() == 3
            assert out.where("a = b").count() == 40
        finally:
            for k, v in zip(keys, saved):
                spark.conf.set(k, v)

    def test_robust_scale_outlier_resistance(self, spark):
        from keenwa_spark.pipeline.features import robust_scale

        # group a: 1..99 plus one enormous outlier; median/IQR barely move
        rows = [("a", float(v)) for v in range(1, 100)] + [
            ("a", 1e9), ("b", 7.0), ("b", 7.0)
        ]
        df = spark.createDataFrame(rows, "g string, v double")
        out = {(r["g"], r["v"]): r["v_robust"]
               for r in robust_scale(df, "v", ["g"]).collect()}
        # median ~50.5, IQR ~50 -> ordinary values stay near [-1, 1]
        assert abs(out[("a", 50.0)]) < 0.1
        assert out[("a", 1e9)] > 1000  # the outlier itself is flagged far out
        # constant group: IQR 0 -> NULL, not a division blow-up
        assert out[("b", 7.0)] is None

    def test_target_encode_loo_excludes_own_row(self, spark):
        from keenwa_spark.pipeline.features import target_encode

        df = spark.createDataFrame(
            [(1, "x", 10.0), (2, "x", 20.0), (3, "x", 30.0), (4, "y", 5.0)],
            "id int, cat string, y double",
        )
        out = {r["id"]: r["cat_te"] for r in target_encode(
            df, "cat", "y", out_col="cat_te"
        ).collect()}
        # LOO: row 1 encodes mean(20,30)=25; singleton category -> NULL
        assert out[1] == 25.0 and out[2] == 20.0 and out[3] == 15.0
        assert out[4] is None

    def test_target_encode_plain_mean_and_null_target(self, spark):
        from keenwa_spark.pipeline.features import target_encode

        df = spark.createDataFrame(
            [(1, "x", 10.0), (2, "x", None), (3, "x", 20.0)],
            "id int, cat string, y double",
        )
        loo = {r["id"]: r["cat_te"] for r in target_encode(
            df, "cat", "y", out_col="cat_te"
        ).collect()}
        # NULL target leaks nothing: gets the plain category mean
        assert loo[2] == 15.0 and loo[1] == 20.0
        plain = {r["id"]: r["cat_te"] for r in target_encode(
            df, "cat", "y", out_col="cat_te", leave_one_out=False
        ).collect()}
        assert plain == {1: 15.0, 2: 15.0, 3: 15.0}


def test_accepted_values_rejects_empty_domain():
    from keenwa_spark.pipeline import expectations as E

    with pytest.raises(ValueError):
        E.accepted_values("c", [])


def test_ivf_model_roundtrip_assigns_identically(views, tmp_path):
    """Persisted quantizers must reproduce assignments bit-for-bit:
    float64 survives parquet exactly, so a loaded model is THE model."""
    from keenwa_spark.pipeline.ivf import (
        _train, ivf_assign, ivf_load, ivf_save,
    )

    emb = views.table("embeddings")
    cents = _train(emb, 4, 1, "vec_id", "embedding", 512)
    before = {
        r["vid"]: r["cid"] for r in ivf_assign(emb, cents).collect()
    }
    path = str(tmp_path / "ivf_model")
    ivf_save(views, cents, path)
    loaded = ivf_load(views, path)
    assert loaded == cents
    after = {
        r["vid"]: r["cid"] for r in ivf_assign(emb, loaded).collect()
    }
    assert after == before and len(after) > 0


class TestTemperatureMixture:
    def _rates(self, spark, sizes, alpha, budget):
        from keenwa_spark.pipeline.sampling import temperature_mixture_rates

        rows = [(d, i) for d, n in sizes.items() for i in range(n)]
        df = spark.createDataFrame(rows, "src string, i int")
        return {
            r["src"]: (r["n_docs"], r["q"], r["rate"])
            for r in temperature_mixture_rates(
                df, "src", alpha=alpha, budget_rows=budget
            ).collect()
        }

    def test_sqrt_temperature_upweights_small_domains(self, spark):
        got = self._rates(spark, {"big": 900, "small": 100}, 0.5, 500)
        import math

        s = math.sqrt(900) + math.sqrt(100)
        assert got["big"][1] == math.sqrt(900) / s  # q = 0.75
        assert got["small"][1] == math.sqrt(100) / s
        # natural share of small is 10%; temperature gives it 25%
        assert abs(got["small"][1] - 0.25) < 1e-12
        # rate realizes the budget: small keeps 500*0.25/100 > its
        # natural 0.5 rate; big is trimmed
        assert got["small"][2] == 1.0  # capped: allocation 125 > 100 rows
        assert abs(got["big"][2] - 500 * 0.75 / 900) < 1e-12

    def test_alpha_extremes_and_validation(self, spark):
        eq = self._rates(spark, {"a": 10, "b": 90}, 0.0, 10)
        assert eq["a"][1] == eq["b"][1] == 0.5  # equal shares
        nat = self._rates(spark, {"a": 10, "b": 90}, 1.0, 10)
        assert nat["b"][1] == 0.9  # natural proportions
        import pytest as _pytest

        from keenwa_spark.pipeline.sampling import temperature_mixture_rates

        df = spark.createDataFrame([("a", 1)], "src string, i int")
        with _pytest.raises(ValueError):
            temperature_mixture_rates(df, "src", alpha=0.7)


class TestObservedStats:
    def test_metrics_ride_the_existing_action(self, spark, tmp_path):
        from pyspark.sql import functions as F

        from keenwa_spark.pipeline.observe import with_observed_stats

        df = spark.createDataFrame(
            [(1, "a"), (2, None), (3, "c"), (None, "d")], "k int, v string"
        )
        out, obs = with_observed_stats(
            df,
            rows=F.count(F.lit(1)),
            null_keys=F.sum(F.col("k").isNull().cast("long")),
            max_k=F.max("k"),
        )
        # the metrics ride the write — no separate aggregation job
        out.write.mode("overwrite").parquet(str(tmp_path / "obs_out"))
        got = obs.get
        assert got == {"rows": 4, "null_keys": 1, "max_k": 3}

    def test_requires_metrics(self, spark):
        from keenwa_spark.pipeline.observe import with_observed_stats

        with pytest.raises(ValueError):
            with_observed_stats(spark.range(1))


def test_triangle_stats_hand_computed(spark):
    from keenwa_spark.pipeline.clustering import triangle_stats

    # K3 triangle {1,2,3} + pendant edge 3-4: T=1; degrees 2,2,3,1
    # -> wedges 1+1+3+0 = 5; clustering = 3/5
    edges = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 3), (3, 4)], "id_a long, id_b long"
    )
    r = triangle_stats(edges).collect()[0]
    assert (r["n_edges"], r["n_triangles"], r["n_wedges"]) == (4, 1, 5)
    assert r["global_clustering"] == 3.0 / 5.0

    # triangle-free path graph: zero triangles, clustering 0
    path = spark.createDataFrame([(1, 2), (2, 3)], "id_a long, id_b long")
    r2 = triangle_stats(path).collect()[0]
    assert r2["n_triangles"] == 0 and r2["global_clustering"] == 0.0


def test_golden_records_latest_nonnull_wins(spark):
    from datetime import datetime, timedelta

    from keenwa_spark.pipeline.clustering import golden_records

    base = datetime(2024, 1, 1)
    rows = [
        # cluster A: newest row has NULL phone -> older phone survives;
        # newest non-null email wins
        ("A", base + timedelta(days=0), 1, "555-1", "old@x.com"),
        ("A", base + timedelta(days=1), 2, None, "new@x.com"),
        # cluster B: all-null phone stays null
        ("B", base, 3, None, "b@x.com"),
    ]
    df = spark.createDataFrame(
        rows, "c string, ts timestamp, i long, phone string, email string"
    )
    got = {
        r["c"]: (r["phone"], r["email"], r["n_members"])
        for r in golden_records(
            df, cluster_col="c", ts_col="ts",
            fields=["phone", "email"], tie_cols=["i"],
        ).collect()
    }
    assert got == {
        "A": ("555-1", "new@x.com", 2),
        "B": (None, "b@x.com", 1),
    }


def test_centroid_classify_separable_clusters(spark):
    from keenwa_spark.pipeline.similarity import centroid_classify

    # two tight, well-separated clusters -> perfect accuracy; one
    # deliberately mislabeled point -> its true label loses exactly it
    rows = (
        [(i, [0.0 + i * 0.01, 0.0], 0) for i in range(5)]
        + [(10 + i, [10.0 + i * 0.01, 10.0], 1) for i in range(5)]
        + [(99, [10.0, 10.0], 0)]  # labeled 0 but sits in cluster 1
    )
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label long"
    )
    got = {r["label"]: (r["n"], r["n_correct"]) for r in
           centroid_classify(df).collect()}
    assert got[1] == (5, 5)
    assert got[0] == (6, 5)  # the planted mislabel is the one miss


# ---- fused chunk -> pack (VERDICT r05 item 7) ------------------------------


def test_chunk_and_pack_counts_match_chunk_documents(docs):
    """The fused operator's arithmetic chunk sizes must equal the
    materialized chunk texts' actual token counts."""
    from keenwa_spark.pipeline.packing import chunk_and_pack, chunk_documents

    fused = chunk_and_pack(
        docs, chunk_tokens=3, overlap=1, seq_len=7, n_shards=4
    )
    sizes = {
        (r["doc_id"], r["chunk_id"]): r["n_chunk_tokens"]
        for r in fused.select("doc_id", "chunk_id", "n_chunk_tokens")
        .distinct()
        .collect()
    }
    mat = {
        (r["doc_id"], r["chunk_id"]): r["n_chunk_tokens"]
        for r in chunk_documents(docs, chunk_tokens=3, overlap=1).collect()
    }
    assert sizes == mat


def test_chunk_and_pack_covers_every_token_once(docs):
    """Per chunk, the union of its [tok_start, tok_end) spans across
    sequences must tile [0, n_chunk_tokens) exactly."""
    from collections import defaultdict

    from keenwa_spark.pipeline.packing import chunk_and_pack

    rows = chunk_and_pack(
        docs, chunk_tokens=3, overlap=1, seq_len=7, n_shards=4
    ).collect()
    spans = defaultdict(list)
    for r in rows:
        spans[(r["doc_id"], r["chunk_id"], r["n_chunk_tokens"])].append(
            (r["tok_start"], r["tok_end"])
        )
    for (_, _, n), ss in spans.items():
        ss.sort()
        assert ss[0][0] == 0 and ss[-1][1] == n
        assert all(a[1] == b[0] for a, b in zip(ss, ss[1:]))


def test_chunk_and_pack_single_exchange(docs):
    """The fusion's point: ONE doc-level Exchange, no chunk-level
    re-shuffle for the packing window."""
    from keenwa_spark.pipeline.packing import chunk_and_pack
    from keenwa_spark.plans import (
        executed_plan_text,
        final_plan_text,
        partitionless_windows,
    )

    fused = chunk_and_pack(docs, chunk_tokens=3, overlap=1, seq_len=7, n_shards=4)
    fused.collect()
    final = final_plan_text(fused)
    assert final.count("Exchange hashpartitioning") == 1, final
    assert "BroadcastExchange" not in final
    assert partitionless_windows(executed_plan_text(fused)) == []


def test_chunk_and_pack_zero_overlap_and_short_docs(spark):
    """overlap=0 (disjoint chunks) and docs shorter than one chunk:
    every token still lands in exactly one chunk and one sequence."""
    from keenwa_spark.pipeline.packing import chunk_and_pack

    rows = [(1, "a b c d e f g"), (2, "x"), (3, "p q r")]
    d = spark.createDataFrame(rows, "doc_id BIGINT, text STRING")
    out = chunk_and_pack(d, chunk_tokens=3, overlap=0, seq_len=5, n_shards=2)
    per_doc = {}
    for r in out.collect():
        per_doc.setdefault(r["doc_id"], 0)
        per_doc[r["doc_id"]] += r["tok_end"] - r["tok_start"]
    # packed token totals equal each doc's chunked token count
    assert per_doc == {1: 7, 2: 1, 3: 3}


def test_chunk_and_pack_rejects_bad_params(spark):
    from keenwa_spark.pipeline.packing import chunk_and_pack

    d = spark.createDataFrame([(1, "a b")], "doc_id BIGINT, text STRING")
    import pytest as _pytest

    with _pytest.raises(ValueError):
        chunk_and_pack(d, chunk_tokens=3, overlap=3)
    with _pytest.raises(ValueError):
        chunk_and_pack(d, seq_len=0)


def test_ivf_train_empty_corpus_fails_loudly(spark):
    """An accidentally-empty corpus must not yield a silently empty
    centroid model (every downstream search would return nothing) —
    the trainer raises with a clear message instead (found by the
    empty-input sweep: previously a bare IndexError)."""
    import pytest as _pytest

    from keenwa_spark.pipeline.ivf import ivf_train

    empty = spark.createDataFrame(
        [], "vec_id BIGINT, embedding ARRAY<FLOAT>"
    )
    with _pytest.raises(ValueError, match="empty corpus"):
        ivf_train(empty, k_cells=4)


def test_duplicated_spans_coverage_math(spark):
    """Hand-checkable width-3 corpus: cross-doc duplicated grams merge
    into intervals (union = width + sum of min(width, gap)), within-doc
    repetition counts as duplication, short docs and NULL text follow
    the documented zero/NULL contracts."""
    from keenwa_spark.pipeline.dedup import duplicated_spans

    rows = [
        (1, "a b c d e f"),    # "a b c","b c d" shared with doc 2
        (2, "x a b c d y"),
        (3, "p q r"),          # unique gram
        (4, "z z"),            # shorter than width -> 0 grams
        (5, None),             # NULL text
        (6, "m m m m m m"),    # within-doc repetition: all grams dup
    ]
    df = spark.createDataFrame(rows, "doc_id BIGINT, text STRING")
    out = {r.doc_id: r for r in duplicated_spans(df, width=3).collect()}
    assert len(out) == 6
    # doc 1: dup starts {1,2} -> covered = 3 + min(3, 1) = 4 (a b c d)
    assert (out[1].n_words, out[1].dup_grams, out[1].covered_words) == (6, 2, 4)
    assert out[1].dup_fraction == 4.0 / 6.0
    # doc 2: dup starts {2,3} -> same merged interval size
    assert (out[2].n_words, out[2].dup_grams, out[2].covered_words) == (6, 2, 4)
    # doc 3: unique -> zero duplication
    assert (out[3].dup_grams, out[3].covered_words, out[3].dup_fraction) == (0, 0, 0.0)
    # doc 4: too short for any gram
    assert (out[4].n_words, out[4].dup_grams, out[4].dup_fraction) == (2, 0, 0.0)
    # doc 5: NULL text -> NULL n_words/fraction, zero counts
    assert out[5].n_words is None and out[5].dup_fraction is None
    assert (out[5].dup_grams, out[5].covered_words) == (0, 0)
    # doc 6: starts {1,2,3,4} -> covered 3+1+1+1 = 6, full coverage
    assert (out[6].dup_grams, out[6].covered_words) == (4, 6)
    assert out[6].dup_fraction == 1.0


def test_duplicated_spans_normalization_folds_case_and_whitespace(spark):
    from keenwa_spark.pipeline.dedup import duplicated_spans

    rows = [(1, "The  Quick   brown FOX jumps"), (2, "the quick brown fox jumps")]
    df = spark.createDataFrame(rows, "doc_id BIGINT, text STRING")
    out = {r.doc_id: r for r in duplicated_spans(df, width=5).collect()}
    assert out[1].dup_fraction == 1.0 and out[2].dup_fraction == 1.0


def test_pagerank_matches_reference_iteration(spark):
    """Tiny directed graph incl. a dangling node: Spark result equals a
    pure-Python mirror of the pinned arithmetic (self-loop dangling
    convention, sorted contribution folds); exact_fold=False agrees to
    float tolerance."""
    from keenwa_spark.pipeline.clustering import pagerank

    raw = [("a", "b"), ("b", "c"), ("c", "a"), ("a", "c"), ("c", "d"), ("a", "b")]
    df = spark.createDataFrame(raw, "src STRING, dst STRING")

    edges = sorted(set(raw)) + [("d", "d")]          # dedup + dangling self-loop
    nodes = sorted({n for e in edges for n in e})
    outd = {n: sum(1 for s, _ in edges if s == n) for n in nodes}
    n = len(nodes)
    om, d = 1.0 - 0.85, 0.85
    ranks = {v: 1.0 / n for v in nodes}
    for _ in range(3):
        ranks = {
            v: om / n
            + d * sum(sorted(ranks[s] / outd[s] for s, t in edges if t == v))
            for v in nodes
        }

    got = {r.node: r.rank for r in pagerank(df, n_iter=3).collect()}
    assert got == ranks                              # bit-exact, not approx

    loose = {r.node: r.rank for r in pagerank(df, n_iter=3, exact_fold=False).collect()}
    for v in nodes:
        assert loose[v] == pytest.approx(ranks[v])


class TestDsir:
    """Hashed-n-gram importance weighting (pipeline/dsir.py)."""

    def _corpus(self, spark):
        # target (tgt=1) docs speak 'zzz'; source docs mostly 'qqq',
        # except doc 20 which is pure target-vocabulary
        rows = (
            [(i, "zzz zzz zzz zzz", 1) for i in range(4)]
            + [(10 + i, "qqq qqq qqq qqq", 0) for i in range(4)]
            + [(20, "zzz zzz zzz zzz", 0), (21, None, 0)]
        )
        return spark.createDataFrame(rows, "doc_id LONG, text STRING, tgt INT")

    def test_target_vocabulary_doc_outranks_source_vocabulary(self, spark):
        from pyspark.sql import functions as F

        from keenwa_spark.pipeline.dsir import dsir_select, dsir_weights

        df = self._corpus(spark)
        w = {
            r.doc_id: r
            for r in dsir_weights(df, F.col("tgt") == 1, n_buckets=64).collect()
        }
        assert len(w) == 10  # full spine, including the NULL-text doc
        assert w[21].weight is None and w[21].n_tokens is None
        # the target-vocab source doc must outweigh every qqq doc
        assert all(w[20].weight > w[10 + i].weight for i in range(4))
        # masses are exact integers: doc 20's four tokens each hit a
        # bucket holding 16 target 'zzz' tokens + its own 4 source ones
        assert (w[20].t_mass, w[20].s_mass, w[20].n_tokens) == (64, 16, 4)
        top = dsir_select(df, F.col("tgt") == 1, k=1, n_buckets=64).collect()
        assert [r.doc_id for r in top] == [20]

    def test_weights_plan_broadcasts_model_and_stays_jvm(self, spark):
        from pyspark.sql import functions as F

        from keenwa_spark.pipeline.dsir import dsir_select, dsir_weights
        from keenwa_spark.plans import summarize

        df = self._corpus(spark)
        out = dsir_weights(df, F.col("tgt") == 1, n_buckets=64)
        out.collect()
        s = summarize(out)
        assert s.python_evals == 0 and s.cartesian_products == 0
        assert s.broadcast_joins >= 2  # model join + totals
        # the selection is a bounded top-k, not a global sort
        from keenwa_spark.plans import executed_plan_text

        top = dsir_select(df, F.col("tgt") == 1, k=3, n_buckets=64)
        top.collect()
        assert "TakeOrderedAndProject" in executed_plan_text(top)

    def test_n_buckets_validation(self, spark):
        import pytest
        from pyspark.sql import functions as F

        from keenwa_spark.pipeline.dsir import dsir_select, dsir_weights

        df = self._corpus(spark)
        with pytest.raises(ValueError):
            dsir_weights(df, F.col("tgt") == 1, n_buckets=1)
        with pytest.raises(ValueError):
            dsir_select(df, F.col("tgt") == 1, k=0)
        with pytest.raises(ValueError, match="form"):
            dsir_weights(df, F.col("tgt") == 1, form="geometric")

    def test_log_form_on_the_length_skewed_twin(self, spark):
        """The textbook product-form LOG weight (form="log") vs the
        default rational mean form, pinned side by side on a corpus
        built to EXPOSE their divergence (VERDICT r08 item 6): a short
        half-target doc (100) vs a long diluted doc (103's favorable
        rare-vocab ratio wins under per-token-AVERAGE mass comparison,
        while per-token log scoring charges every diluting token).

        The log weights are verified against a pure-python replay of
        Σ ln((c_t+1)) - ln((c_s+1)) + n(ln(S+B) - ln(T+B)) by
        TOLERANCE (ln differs last-ulp across engines/libms — the
        reason the oracle-gated registry row stays on the mean form)."""
        import math

        import pytest
        from pyspark.sql import functions as F

        from keenwa_spark.pipeline.dsir import dsir_select, dsir_weights

        rows = (
            [(i, "zzz zzz zzz zzz", 1) for i in range(4)]
            + [
                (100, "zzz qqq", 0),
                (101, "zzz zzz zzz " + " ".join(["qqq"] * 15), 0),
                (102, " ".join(["qqq"] * 6), 0),
                (103, "zzz " + " ".join(["rrr"] * 3), 0),
            ]
        )
        df = spark.createDataFrame(rows, "doc_id LONG, text STRING, tgt INT")
        tgt = F.col("tgt") == 1
        # selections DIVERGE: the mean form prefers the long-ish doc
        # with the favorable rare-vocab ratio, the log form the short
        # half-target doc
        mean_top = [
            r.doc_id
            for r in dsir_select(df, tgt, k=2, n_buckets=64).collect()
        ]
        log_top = [
            r.doc_id
            for r in dsir_select(df, tgt, k=2, n_buckets=64, form="log").collect()
        ]
        assert mean_top == [103, 100]
        assert log_top == [100, 103]
        # tolerance replay of the log weights (no hash collisions on
        # this vocab at 64 buckets — verified by the integer masses)
        got = {
            r.doc_id: r
            for r in dsir_weights(df, tgt, n_buckets=64, form="log").collect()
        }
        assert (got[100].t_mass, got[100].s_mass) == (16, 27)  # no collisions
        c_t = {"zzz": 16, "qqq": 0, "rrr": 0}
        c_s = {"zzz": 5, "qqq": 22, "rrr": 3}
        T, S, B = 16, 30, 64
        texts = dict(
            (i, t) for i, t, _ in rows if t is not None
        )
        for doc_id, text in texts.items():
            toks = text.split(" ")
            expected = sum(
                sorted(
                    math.log(c_t[t] + 1) - math.log(c_s[t] + 1) for t in toks
                )
            ) + len(toks) * (math.log(S + B) - math.log(T + B))
            assert got[doc_id].weight == pytest.approx(expected, rel=1e-12), doc_id


class TestMmrRerank:
    """Greedy MMR diversification (pipeline/similarity.py mmr_rerank)."""

    def _cands(self, spark):
        # two near-identical high-relevance vectors (1, 2) and one
        # orthogonal lower-relevance vector (3): pure relevance ranks
        # [1, 2, 3]; MMR at lam=0.5 must demote the redundant twin
        rows = [
            (1, [1.0, 0.0], 0.95),
            (2, [0.999, 0.01], 0.94),
            (3, [0.0, 1.0], 0.60),
        ]
        return spark.createDataFrame(
            rows, "vec_id LONG, embedding ARRAY<DOUBLE>, rel DOUBLE"
        )

    def test_redundant_twin_demoted(self, spark):
        from keenwa_spark.pipeline.similarity import mmr_rerank

        out = mmr_rerank(self._cands(spark), k=3, lam=0.5).collect()
        assert [r.vec_id for r in sorted(out, key=lambda r: r.pick)] == [1, 3, 2]

    def test_lambda_one_is_pure_relevance(self, spark):
        from keenwa_spark.pipeline.similarity import mmr_rerank

        out = mmr_rerank(self._cands(spark), k=3, lam=1.0).collect()
        assert [r.vec_id for r in sorted(out, key=lambda r: r.pick)] == [1, 2, 3]

    def test_fewer_candidates_than_k(self, spark):
        from keenwa_spark.pipeline.similarity import mmr_rerank

        out = mmr_rerank(self._cands(spark), k=10, lam=0.5).collect()
        assert len(out) == 3 and {r.pick for r in out} == {1, 2, 3}

    def test_validation(self, spark):
        import pytest

        from keenwa_spark.pipeline.similarity import mmr_rerank

        with pytest.raises(ValueError):
            mmr_rerank(self._cands(spark), k=0)
        with pytest.raises(ValueError):
            mmr_rerank(self._cands(spark), k=2, lam=1.5)


def test_mmr_zero_norm_candidate_and_jvm_only_plan(spark):
    """A zero-norm candidate (vec_id 0 -> [0, 0]) must not crash the
    ANSI-mode cosine (DIVIDE_BY_ZERO guard: zero vectors score
    similarity 0 and compete on relevance alone), and the final plan
    carries zero Python eval / cartesian nodes. (The per-round
    TakeOrderedAndProject argmax is hidden behind the round
    checkpoints — the registry plan audit covers the executed
    shape.)"""
    from keenwa_spark.pipeline.similarity import mmr_rerank
    from keenwa_spark.plans import summarize

    df = spark.createDataFrame(
        [(i, [float(i % 3), float(i % 5)], 1.0 / (i + 1)) for i in range(12)],
        "vec_id LONG, embedding ARRAY<DOUBLE>, rel DOUBLE",
    )
    out = mmr_rerank(df, k=3, lam=0.6)
    rows = sorted(out.collect(), key=lambda r: r.pick)
    assert len(rows) == 3
    assert rows[0].vec_id == 0  # zero vector has top relevance 1.0
    s = summarize(out)
    assert s.python_evals == 0 and s.cartesian_products == 0


class TestMmrGrouped:
    def test_per_query_independence_and_exhaustion(self, spark):
        """Query 100 has a redundant twin pair (1, 2) + an orthogonal
        vector (3); query 200 has only TWO candidates, so its pick
        list stops at 2 while query 100 fills all 3 rounds."""
        from keenwa_spark.pipeline.similarity import mmr_rerank_grouped

        rows = [
            (100, 1, [1.0, 0.0], 0.95),
            (100, 2, [0.999, 0.01], 0.94),
            (100, 3, [0.0, 1.0], 0.60),
            (200, 7, [1.0, 0.0], 0.90),
            (200, 8, [0.5, 0.5], 0.80),
        ]
        df = spark.createDataFrame(
            rows, "query_id LONG, vec_id LONG, embedding ARRAY<DOUBLE>, rel DOUBLE"
        )
        out = mmr_rerank_grouped(df, k=3, lam=0.5).collect()
        by_q = {}
        for r in sorted(out, key=lambda r: (r.query_id, r.pick)):
            by_q.setdefault(r.query_id, []).append(r.vec_id)
        # query 100: redundant twin demoted, same as the single-query op
        assert by_q[100] == [1, 3, 2]
        # query 200: exhausted after its two candidates
        assert by_q[200] == [7, 8]

    def test_matches_single_query_mmr_on_one_group(self, spark):
        from pyspark.sql import functions as F

        from keenwa_spark.pipeline.similarity import mmr_rerank, mmr_rerank_grouped

        rows = [
            (5, [1.0, 0.2, 0.1], 0.9),
            (6, [0.9, 0.3, 0.1], 0.85),
            (7, [0.0, 1.0, 0.0], 0.5),
            (8, [0.1, 0.1, 1.0], 0.4),
        ]
        single = mmr_rerank(
            spark.createDataFrame(
                rows, "vec_id LONG, embedding ARRAY<DOUBLE>, rel DOUBLE"
            ),
            k=4, lam=0.6,
        ).collect()
        grouped = mmr_rerank_grouped(
            spark.createDataFrame(
                [(1, *r) for r in rows],
                "query_id LONG, vec_id LONG, embedding ARRAY<DOUBLE>, rel DOUBLE",
            ),
            k=4, lam=0.6,
        ).collect()
        assert {(r.pick, r.vec_id, r.mmr_score) for r in single} == {
            (r.pick, r.vec_id, r.mmr_score) for r in grouped
        }


class TestTokenVoteClassify:
    """Token-profile classifier semantics on a hand fixture
    (pipeline/classify.py)."""

    @pytest.fixture(scope="class")
    def labeled(self, spark):
        return spark.createDataFrame(
            [
                # train: 'red'-class docs say apple/cherry, 'blue' say sky/sea
                (1, "red", "apple cherry apple"),
                (2, "red", "cherry apple"),
                (3, "blue", "sky sea sky"),
                (4, "blue", "sea sky"),
                # shared word 'the' appears more under red
                (5, "red", "the the apple"),
                (6, "blue", "the sea"),
                # test docs (doc_id >= 100)
                (100, "red", "apple apple sky"),
                (101, "blue", "sea sky cherry"),
                (102, "red", "unknownword zzz"),
                (103, "blue", "the the the"),
            ],
            "doc_id long, label string, text string",
        )

    def test_model_argmax_and_tiebreak(self, labeled):
        from keenwa_spark.pipeline.classify import token_class_model
        from pyspark.sql import functions as F

        model = {
            r.tok: r.pred_label
            for r in token_class_model(
                labeled.where(F.col("doc_id") < 100), "label"
            ).collect()
        }
        assert model["apple"] == "red" and model["cherry"] == "red"
        assert model["sky"] == "blue" and model["sea"] == "blue"
        # 'the': 2 red vs 1 blue -> red
        assert model["the"] == "red"

    def test_vote_majority_and_abstain(self, labeled):
        from keenwa_spark.pipeline.classify import classify_eval
        from pyspark.sql import functions as F

        out = {
            r.doc_id: (r.predicted, r.correct)
            for r in classify_eval(
                labeled, F.col("doc_id") < 100, label_col="label"
            ).collect()
        }
        assert out[100] == ("red", True)  # 2 apple votes vs 1 sky
        assert out[101] == ("blue", True)  # sea+sky vs cherry
        # no in-vocab tokens: abstain, null-safe correct = False
        assert out[102] == (None, False)
        assert out[103] == ("red", False)  # 'the' maps red

    def test_vote_tie_breaks_to_first_label(self, spark):
        from keenwa_spark.pipeline.classify import classify_eval
        from pyspark.sql import functions as F

        df = spark.createDataFrame(
            [
                (1, "a", "x"),
                (2, "b", "y"),
                (100, "a", "x y"),  # 1 vote a, 1 vote b -> 'a' (lex first)
            ],
            "doc_id long, label string, text string",
        )
        row = classify_eval(df, F.col("doc_id") < 100, label_col="label").collect()
        assert row[0].predicted == "a"

    def test_min_count_prunes_rare_tokens(self, labeled):
        from keenwa_spark.pipeline.classify import token_class_model
        from pyspark.sql import functions as F

        model = token_class_model(
            labeled.where(F.col("doc_id") < 100), "label", min_count=3
        )
        toks = {r.tok for r in model.collect()}
        assert "apple" in toks and "sky" in toks  # 4x and 3x
        assert "cherry" not in toks  # only 2 occurrences


class TestBpeTrain:
    """BPE merge learning on hand fixtures (pipeline/bpe.py)."""

    def test_learns_the_frequent_pair_first(self, spark):
        from keenwa_spark.pipeline.bpe import bpe_train

        docs = spark.createDataFrame(
            # 'ab' adjacency appears in every word, 3 words + repeats
            [(1, "abc abd abe xy"), (2, "abc abc")],
            "doc_id long, text string",
        )
        merges = bpe_train(docs, rounds=1)
        # (a,b): abc x3 + abd + abe = 5 occurrences; nothing else comes close
        assert merges[0] == (1, "a", "b", "ab", 5)

    def test_merged_symbol_pairs_in_later_rounds(self, spark):
        from keenwa_spark.pipeline.bpe import bpe_train

        docs = spark.createDataFrame(
            [(1, "abc abc abc")], "doc_id long, text string"
        )
        merges = bpe_train(docs, rounds=2)
        assert merges[0][1:4] == ("a", "b", "ab")
        # round 2: the fused 'ab' now pairs with 'c'
        assert merges[1][1:4] == ("ab", "c", "abc")

    def test_identical_symbol_run_counts_all_adjacencies(self, spark):
        from keenwa_spark.pipeline.bpe import bpe_train

        docs = spark.createDataFrame(
            [(1, "aaaa")], "doc_id long, text string"
        )
        merges = bpe_train(docs, rounds=2)
        # 'aaaa' has 3 (a,a) adjacencies
        assert merges[0] == (1, "a", "a", "aa", 3)
        # greedy left-to-right merge yields [aa, aa] -> next pair (aa, aa)
        assert merges[1][1:4] == ("aa", "aa", "aaaa")

    def test_tie_breaks_lexicographically(self, spark):
        from keenwa_spark.pipeline.bpe import bpe_train

        docs = spark.createDataFrame(
            [(1, "zy ab")], "doc_id long, text string"
        )
        # (a,b) and (z,y) both count 1 -> (a,b) wins the tie
        assert bpe_train(docs, rounds=1)[0][1:4] == ("a", "b", "ab")

    def test_stops_when_fully_merged(self, spark):
        from keenwa_spark.pipeline.bpe import bpe_train

        docs = spark.createDataFrame(
            [(1, "ab ab")], "doc_id long, text string"
        )
        # round 1 fuses the only pair; round 2 has nothing left
        assert len(bpe_train(docs, rounds=5)) == 1

    def test_non_alpha_words_excluded(self, spark):
        from keenwa_spark.pipeline.bpe import word_freqs

        docs = spark.createDataFrame(
            [(1, "ab x9 A1 ab-cd ok")], "doc_id long, text string"
        )
        words = {r.word for r in word_freqs(docs).collect()}
        assert words == {"ab", "ok"}


class TestBpeEncode:
    """Tokenizer application (pipeline/bpe.py bpe_encode)."""

    def test_compression_counts(self, spark):
        from keenwa_spark.pipeline.bpe import bpe_encode

        docs = spark.createDataFrame(
            [(1, "abc abc zz"), (2, "ab")], "doc_id long, text string"
        )
        out = {
            r.doc_id: (r.n_words, r.n_chars, r.n_tokens)
            for r in bpe_encode(docs, [("a", "b"), ("ab", "c")]).collect()
        }
        # doc 1: abc->1 token (ab then abc), zz->2 tokens
        assert out[1] == (3, 8, 4)
        # doc 2: ab -> merged once -> 1 token
        assert out[2] == (1, 2, 1)

    def test_empty_merge_list_is_character_level(self, spark):
        from keenwa_spark.pipeline.bpe import bpe_encode

        docs = spark.createDataFrame(
            [(1, "abc de")], "doc_id long, text string"
        )
        row = bpe_encode(docs, []).collect()[0]
        assert (row.n_chars, row.n_tokens) == (5, 5)

    def test_merge_order_matters(self, spark):
        from keenwa_spark.pipeline.bpe import bpe_encode

        docs = spark.createDataFrame(
            [(1, "abc")], "doc_id long, text string"
        )
        # (b,c) first blocks the (a,b) merge: |a|bc| -> 2 tokens
        n1 = bpe_encode(docs, [("b", "c"), ("a", "b")]).collect()[0].n_tokens
        # (a,b) first then (ab,c): 1 token
        n2 = bpe_encode(docs, [("a", "b"), ("ab", "c")]).collect()[0].n_tokens
        assert (n1, n2) == (2, 1)

    def test_plan_is_join_free(self, spark):
        from keenwa_spark.pipeline.bpe import bpe_encode

        docs = spark.createDataFrame(
            [(1, "ab ab")], "doc_id long, text string"
        )
        plan = (
            bpe_encode(docs, [("a", "b")])
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "Join" not in plan and "Cartesian" not in plan


class TestStratifiedSplit:
    """Exact per-stratum proportional splits
    (pipeline/sampling.py stratified_split)."""

    @pytest.fixture(scope="class")
    def strata(self, spark):
        # class 'a': 20 rows, class 'b': 5 rows, class 'c': 1 row
        rows = (
            [(i, "a") for i in range(20)]
            + [(100 + i, "b") for i in range(5)]
            + [(200, "c")]
        )
        return spark.createDataFrame(rows, "doc_id long, label string")

    def test_exact_per_stratum_proportions(self, strata):
        from keenwa_spark.pipeline.sampling import stratified_split

        out = stratified_split(
            strata, "label", {"train": 60, "val": 20, "test": 20}, "doc_id"
        ).collect()
        by = {}
        for r in out:
            by.setdefault((r.label, r.split), 0)
            by[(r.label, r.split)] = by[(r.label, r.split)] + 1
        # 20 rows: exactly 12/4/4
        assert by[("a", "train")] == 12
        assert by[("a", "val")] == 4 and by[("a", "test")] == 4
        # 5 rows: floors at 3/1/1 (boundaries 3, 4, 5)
        assert by[("b", "train")] == 3
        assert by[("b", "val")] == 1 and by[("b", "test")] == 1
        # 1 row: boundaries 0/0/1 -> the single row is 'test'
        assert by.get(("c", "test")) == 1
        assert ("c", "train") not in by and ("c", "val") not in by

    def test_partial_percents_hold_out_the_rest(self, strata):
        from keenwa_spark.pipeline.sampling import stratified_split

        out = stratified_split(strata, "label", {"train": 50}, "doc_id")
        counts = {r.label: 0 for r in out.collect()}
        for r in out.collect():
            counts[r.label] += 1
        assert counts["a"] == 10 and counts["b"] == 2
        assert "c" not in counts  # floor(0.5 * 1) = 0: held out

    def test_disjoint_and_deterministic(self, strata):
        from keenwa_spark.pipeline.sampling import stratified_split

        a = stratified_split(
            strata, "label", {"train": 60, "val": 20, "test": 20}, "doc_id"
        ).collect()
        b = stratified_split(
            strata, "label", {"train": 60, "val": 20, "test": 20}, "doc_id"
        ).collect()
        assert sorted(map(tuple, a)) == sorted(map(tuple, b))
        assert len({r.doc_id for r in a}) == len(a)  # each row one split

    def test_rejects_bad_percents(self, strata):
        from keenwa_spark.pipeline.sampling import stratified_split

        with pytest.raises(ValueError, match="> 100"):
            stratified_split(strata, "label", {"a": 70, "b": 40}, "doc_id")
        with pytest.raises(ValueError, match="non-negative"):
            stratified_split(strata, "label", {"a": -1}, "doc_id")


class TestSemanticDecontaminate:
    """Embedding-space decontamination
    (pipeline/similarity.py semantic_decontaminate)."""

    @pytest.fixture(scope="class")
    def sets(self, spark):
        train = spark.createDataFrame(
            [
                (1, [1.0, 0.0, 0.0]),   # identical to bench 100
                (2, [0.0, 1.0, 0.0]),   # orthogonal to all bench
                (3, [0.8, 0.6, 0.0]),   # cos 0.8 to bench 100
                (4, [0.0, 0.0, 0.0]),   # zero vector: safe-cos 0
            ],
            "vec_id long, embedding array<float>",
        )
        bench = spark.createDataFrame(
            [(100, [1.0, 0.0, 0.0]), (101, [0.0, 0.0, 1.0])],
            "vec_id long, embedding array<float>",
        )
        return train, bench

    def test_flags_and_max_sim(self, sets):
        from keenwa_spark.pipeline.similarity import semantic_decontaminate

        train, bench = sets
        out = {
            r.vec_id: (r.n_hits, round(r.max_sim, 6), r.contaminated)
            for r in semantic_decontaminate(train, bench, 0.95).collect()
        }
        assert out[1] == (1, 1.0, True)        # exact duplicate
        assert out[2][0] == 0 and not out[2][2]  # orthogonal
        assert out[3][0] == 0 and abs(out[3][1] - 0.8) < 1e-9  # < 0.95
        assert out[4] == (0, 0.0, False)       # zero vector scores 0

    def test_threshold_widens_the_net(self, sets):
        from keenwa_spark.pipeline.similarity import semantic_decontaminate

        train, bench = sets
        out = {
            r.vec_id: r.contaminated
            for r in semantic_decontaminate(train, bench, 0.5).collect()
        }
        assert out[1] and out[3]
        assert not out[2] and not out[4]

    def test_empty_benchmark_is_vacuously_clean(self, sets, spark):
        from keenwa_spark.pipeline.similarity import semantic_decontaminate

        train, bench = sets
        assert (
            semantic_decontaminate(train, bench.where("1 = 0"), 0.5).count()
            == 0
        )

    def test_benchmark_side_is_broadcast(self, sets):
        from keenwa_spark.pipeline.similarity import semantic_decontaminate

        train, bench = sets
        plan = (
            semantic_decontaminate(train, bench, 0.5)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "BroadcastNestedLoopJoin" in plan
        assert "SortMergeJoin" not in plan


class TestFeatureHash:
    """Hashing-trick vectorizer (pipeline/features.py
    feature_hash_vectors)."""

    def test_shape_and_determinism(self, spark):
        from keenwa_spark.pipeline.features import feature_hash_vectors

        docs = spark.createDataFrame(
            [(1, "a b a"), (2, ""), (3, "zz")],
            "doc_id long, text string",
        )
        out = {r.doc_id: r.fvec for r in feature_hash_vectors(docs, 8).collect()}
        assert all(len(v) == 8 for v in out.values())
        assert out[2] == [0.0] * 8  # no tokens -> zero vector
        # repeated token doubles its bucket weight
        assert sum(abs(x) for x in out[1]) >= 2.0
        again = {
            r.doc_id: r.fvec for r in feature_hash_vectors(docs, 8).collect()
        }
        assert out == again

    def test_repeated_token_accumulates_linearly(self, spark):
        from keenwa_spark.pipeline.features import feature_hash_vectors

        docs = spark.createDataFrame(
            [(1, "tok"), (2, "tok tok tok")], "doc_id long, text string"
        )
        out = {r.doc_id: r.fvec for r in feature_hash_vectors(docs, 8).collect()}
        assert [3 * x for x in out[1]] == out[2]

    def test_plan_is_shuffle_free(self, views):
        from keenwa_spark.pipeline.features import feature_hash_vectors

        df = feature_hash_vectors(views.table("documents"), 16)
        df.collect()
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan and "Join" not in plan


class TestClusterSplit:
    """Near-dup-cluster-aware splits: twins can never straddle splits
    (queries/pipeline.py pl_cluster_split)."""

    def test_near_dups_share_a_split(self, views):
        from keenwa_spark.pipeline.dedup import minhash_lsh_pairs
        from keenwa_spark.queries import REGISTRY
        import keenwa_spark.queries.pipeline  # noqa: F401
        import tests.conftest as c

        out = {
            r.doc_id: (r.component, r.split)
            for r in REGISTRY["pl_cluster_split"].fn(views, c.SF_DIR).collect()
        }
        pairs = minhash_lsh_pairs(views.table("documents")).collect()
        checked = 0
        for p in pairs:
            if p.id_a in out and p.id_b in out:
                # same component -> same split, always
                assert out[p.id_a] == (out[p.id_a][0], out[p.id_b][1])
                assert out[p.id_a][0] == out[p.id_b][0]
                checked += 1
        # held-out components drop BOTH twins or NEITHER
        for p in pairs:
            assert (p.id_a in out) == (p.id_b in out)
