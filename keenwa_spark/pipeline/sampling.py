"""Deterministic sampling for training-data pipelines.

Random sampling (``df.sample``) is useless for a 100 TB corpus build:
re-runs must select the SAME rows (caches, incremental re-builds,
train/test splits that never leak across runs), and an oracle engine
must be able to reproduce the selection exactly. Every operator here
is therefore HASH-based — a pure, per-row, shuffle-free map using the
engine-portable md5 hash (pipeline/hashing.py), so a 1000-executor
run, a laptop run, and a DuckDB oracle all pick identical rows.

Scale notes:
- ``hash_sample`` / ``hash_split`` are narrow maps: they pipeline into
  whatever scan feeds them, add zero shuffles, and their selectivity
  is visible to AQE at runtime.
- ``stratified_sample`` ranks by hash WITHIN each stratum — one
  window shuffle keyed on the stratum column. Strata in corpus work
  (language, source domain) are few and fat; the per-stratum sort is
  bounded by ``n_per_stratum`` via rank filter, and skew is handled by
  AQE the same way any grouped top-k is.

The reference has no sampling surface (keenwa plans queries only);
this module is part of the beyond-reference LLM-pipeline layer.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from keenwa_spark.pipeline.hashing import spark_hash64

#: hash buckets for rate arithmetic — 1e6 gives ppm-resolution rates
_BUCKETS = 1_000_000


def _q(s: str) -> str:
    """SQL string-literal escape for interpolated user values (salts,
    split names, domain names) — a stray quote must not alter the
    generated query."""
    return s.replace("'", "''")


def _bucket_expr(key_col: str, salt: str) -> str:
    """Engine-portable uniform bucket in [0, _BUCKETS) from key+salt.

    Salting lets independent samples over the same keys be independent
    draws (rate-0.1 samples with salts 'a' and 'b' overlap ~1%, not
    100%)."""
    h = spark_hash64(f"concat(CAST({key_col} AS STRING), '{_q(salt)}')")
    return f"{h} % {_BUCKETS}"


def _split_edges(splits: dict[str, float]) -> list[tuple[str, int, int]]:
    """Cumulative [lo, hi) bucket edges per split, with each edge
    ROUNDED (not truncated) from the float-accumulated fraction: for
    fraction sets summing to exactly 1, the final edge is exactly
    _BUCKETS, so the last bucket (_BUCKETS - 1) is always covered —
    truncation could yield 999999 and silently drop keys hashing to
    the final bucket, and could shift interior edges one bucket off
    the round numbers an oracle hardcodes."""
    edges = []
    acc = 0.0
    lo = 0
    for name, frac in splits.items():
        acc += frac
        hi = int(round(acc * _BUCKETS))
        edges.append((name, lo, hi))
        lo = hi
    return edges


def hash_sample(
    df: DataFrame, key_col: str, rate: float, salt: str = "s0"
) -> DataFrame:
    """Deterministic Bernoulli-by-hash sample: keeps a row iff
    hash(key, salt) falls in the first ``rate`` fraction of buckets.
    Pure map — no shuffle, no RNG, reproducible on any engine/cluster
    layout."""
    if not 0.0 <= rate <= 1.0:
        raise ValueError(f"rate must be in [0, 1], got {rate}")
    threshold = int(round(rate * _BUCKETS))
    return df.filter(F.expr(f"{_bucket_expr(key_col, salt)} < {threshold}"))


def hash_split(
    df: DataFrame,
    key_col: str,
    splits: dict[str, float],
    salt: str = "split0",
) -> DataFrame:
    """Disjoint named splits (e.g. train/val/test) by hash range:
    adds a ``split`` column; every key lands in exactly one split,
    stable across runs and engines. Fractions must sum to <= 1; keys
    hashing past the total are dropped (rows where split IS NULL are
    filtered), which doubles as held-out mass."""
    total = sum(splits.values())
    if total > 1.0 + 1e-9:
        raise ValueError(f"split fractions sum to {total} > 1")
    edges = _split_edges(splits)
    bucket = _bucket_expr(key_col, salt)
    case = "CASE " + " ".join(
        f"WHEN {bucket} >= {lo} AND {bucket} < {hi} THEN '{_q(name)}'"
        for name, lo, hi in edges
    ) + " END"
    return df.withColumn("split", F.expr(case)).filter(F.col("split").isNotNull())


def stratified_sample(
    df: DataFrame,
    strata_col: str,
    n_per_stratum: int,
    key_col: str,
    salt: str = "strat0",
) -> DataFrame:
    """Exactly-n-per-stratum sample: rank rows inside each stratum by
    (hash, key) and keep the first n. The hash gives a uniform draw;
    the key tie-break makes the ranking total, so the result is unique
    — exactly what an oracle can replay. One shuffle (window on the
    stratum key)."""
    bucket = _bucket_expr(key_col, salt)
    w = Window.partitionBy(strata_col).orderBy(
        F.expr(bucket).asc(), F.col(key_col).asc()
    )
    return (
        df.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= n_per_stratum)
        .drop("_rk")
    )


def stratified_split(
    df: DataFrame,
    strata_col: str,
    splits: dict[str, int],
    key_col: str,
    salt: str = "ssplit0",
) -> DataFrame:
    """EXACT per-stratum proportional splits: within each stratum rows
    are ranked by (hash, key) — a uniform draw made total by the key
    tie-break — and the first floor(p1% * n) rows go to the first
    split, the next floor((p1+p2)% * n) - floor(p1% * n) to the second,
    and so on. Unlike ``hash_split`` (whose proportions hold only in
    expectation, and only corpus-wide), every stratum hits its
    percentage exactly, +-1 row — the difference that matters when a
    rare class has 20 rows and a 10% eval split must not draw 0 or 5
    of them.

    ``splits`` maps name -> integer PERCENT (exact boundary arithmetic
    on both engines; floats would put a rounding tie on the cut).
    Percents must sum to <= 100; ranks past the total are dropped
    (held out), same contract as hash_split. Adds ``split``.

    One shuffle (the per-stratum window). A stratum is one window
    partition, so this assumes strata are numerous-and-bounded (class
    labels, languages, sources); for a handful of giant strata route
    the ranking through operators/ordered.py instead."""
    total = sum(splits.values())
    if total > 100:
        raise ValueError(f"split percents sum to {total} > 100")
    if any(p < 0 for p in splits.values()):
        raise ValueError("split percents must be non-negative")
    bucket = _bucket_expr(key_col, salt)
    w = Window.partitionBy(strata_col).orderBy(
        F.expr(bucket).asc(), F.col(key_col).asc()
    )
    cum = 0
    arms = []
    for name, pct in splits.items():
        cum += pct
        arms.append(f"WHEN _rk <= ({cum} * _n) div 100 THEN '{_q(name)}'")
    case = "CASE " + " ".join(arms) + " END"
    return (
        df.withColumn("_rk", F.row_number().over(w))
        .withColumn("_n", F.count(F.lit(1)).over(Window.partitionBy(strata_col)))
        .withColumn("split", F.expr(case))
        .filter(F.col("split").isNotNull())
        .drop("_rk", "_n")
    )


def mixture_sample(
    df: DataFrame,
    domain_col: str,
    rates: dict[str, float],
    key_col: str,
    salt: str = "mix0",
    default_rate: float = 0.0,
) -> DataFrame:
    """Domain-mixture sampling: an independent deterministic Bernoulli
    draw per row with a PER-DOMAIN rate — the "data recipe" operator
    (upsample wiki-like sources, downsample crawl) used to hit a target
    training mixture.

    Pure map, zero shuffle: the per-domain threshold is a CASE
    expression in codegen, so at 100 TB this is a filter fused into
    the scan — no join against a rates table, no RNG, and the same
    rows survive on any cluster layout or re-run. Domains absent from
    ``rates`` get ``default_rate`` (0.0 = drop unknown domains)."""
    for d, r in {**rates, "<default>": default_rate}.items():
        if not 0.0 <= r <= 1.0:
            raise ValueError(f"rate for {d!r} must be in [0, 1], got {r}")
    whens = " ".join(
        f"WHEN {domain_col} = '{_q(d)}' THEN {int(round(r * _BUCKETS))}"
        for d, r in sorted(rates.items())
    )
    threshold = f"CASE {whens} ELSE {int(round(default_rate * _BUCKETS))} END"
    return df.filter(F.expr(f"{_bucket_expr(key_col, salt)} < ({threshold})"))


def token_budget_cap(
    df: DataFrame,
    domain_col: str,
    budgets: dict[str, int],
    key_col: str,
    text_col: str = "text",
    salt: str = "tb0",
    default_budget: int = 0,
) -> DataFrame:
    """Fill each domain's TOKEN budget (not row count): within a
    domain, docs are taken in a deterministic uniform order (hash,
    key) and kept while the running token total stays within the
    domain's budget — the operator that turns "use 30B wiki tokens,
    100B crawl tokens" into an exact, reproducible doc selection.

    One window shuffle keyed on the domain (domains in corpus recipes
    are few and fat; the cumsum is a single in-partition pass).
    Deterministic and engine-replayable: ordering is (hash, key) — a
    total order — and token counts are whitespace counts (text.py
    convention). The selection is the maximal PREFIX of the ordered
    stream whose cumulative total fits the budget (cumsum is monotone,
    so the first overflowing doc and everything after it are dropped —
    no partial docs, no gap-filling). Domains absent from ``budgets``
    get ``default_budget`` (0 = drop unknown domains)."""
    for d, b in {**budgets, "<default>": default_budget}.items():
        if b < 0:
            raise ValueError(f"budget for {d!r} must be >= 0, got {b}")
    bucket = _bucket_expr(key_col, salt)
    whens = " ".join(
        f"WHEN {domain_col} = '{_q(d)}' THEN CAST({int(b)} AS BIGINT)"
        for d, b in sorted(budgets.items())
    )
    budget = f"CASE {whens} ELSE CAST({int(default_budget)} AS BIGINT) END"
    w = (
        Window.partitionBy(domain_col)
        .orderBy(F.expr(bucket).asc(), F.col(key_col).asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    toks = df.withColumn(
        "n_tokens",
        F.expr(f"CAST(size(split(trim(regexp_replace(lower({text_col}), "
               f"'\\\\s+', ' ')), ' ')) AS BIGINT)"),
    )
    return (
        toks.withColumn("cum_tokens", F.sum("n_tokens").over(w))
        .filter(F.col("cum_tokens") <= F.expr(budget))
    )


def weighted_bernoulli_sample(
    df: DataFrame,
    weight_col: str,
    scale: float,
    key_col: str,
    salt: str = "wb0",
) -> DataFrame:
    """Importance sampling: an independent deterministic Bernoulli draw
    per row with keep-probability ``min(1, scale * weight)`` — sample
    training docs proportional to a quality/length score instead of
    uniformly.

    Pure map, zero shuffle, and EXACTLY cross-engine reproducible: the
    per-row threshold uses only IEEE ops (multiply, min, floor), never
    transcendentals (a u^(1/w) Efraimidis–Spirakis key would hit
    libm pow() divergence between engines), so the same rows survive
    on any engine, layout, or re-run."""
    if scale < 0:
        raise ValueError(f"scale must be >= 0, got {scale}")
    thr = (
        f"CAST(floor(least(CAST({weight_col} AS DOUBLE) * {scale!r}, 1.0D)"
        f" * {_BUCKETS}) AS BIGINT)"
    )
    return df.filter(F.expr(f"{_bucket_expr(key_col, salt)} < {thr}"))


def negative_samples(
    df: DataFrame,
    k: int,
    id_col: str = "doc_id",
    salt: str = "neg",
    distinct: bool = False,
) -> DataFrame:
    """Deterministic negative sampling for contrastive training: pair
    every anchor row with ``k`` pseudo-random OTHER rows, reproducibly.

    Draws are WITH replacement: the ``k`` independent probes for one
    anchor can hash to the same negative_id, so duplicate (anchor,
    negative) pairs are possible — likely only when N is small
    relative to k (birthday bound ~ k^2/2N per anchor). Pass
    ``distinct=True`` to keep one pair per (anchor, negative) — the
    lowest ``j`` survives, determinism preserved — at the cost of one
    (anchor, negative)-keyed shuffle the raw form avoids (an anchor
    may then yield fewer than k negatives).

    Returns (anchor_id, j, negative_id) id triples. Candidate ids
    derive from the portable md5 hash of (anchor, j, salt) modulo the
    id domain, so generation is a pure zero-shuffle projection —
    never a random shuffle of the corpus, which is how naive
    rand()-ordering implementations burn a full sort at 100 TB.
    Resolving triples to row payloads is the caller's equi-join on
    negative_id (broadcast if the anchor set is small, else one keyed
    shuffle). A candidate that hashes onto its own anchor is remapped
    to the next id (mod N), and self-pairs are filtered as a final
    guard — with a degenerate single-row corpus (N=1) no negative
    exists and the result is EMPTY rather than wrong.

    Requires ids dense in [0, N): the standard contiguous-row-id
    layout of a training corpus (materialize one with
    row_number/zipWithIndex if ids are sparse; that costs the one
    shuffle this function otherwise avoids).
    """
    from keenwa_spark.pipeline.hashing import spark_hash64

    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    n_row = df.agg(F.countDistinct(id_col).alias("__n"))
    probes = ", ".join(
        spark_hash64(
            f"concat(CAST({id_col} AS STRING), ':{j}:', '{_q(salt)}')"
        )
        for j in range(k)
    )
    anchors = (
        df.select(id_col)
        .crossJoin(n_row)
        .selectExpr(
            id_col,
            "__n",
            f"transform(array({probes}), h -> h % __n) AS __cands",
        )
        .select(
            F.col(id_col).alias("anchor_id"),
            F.posexplode("__cands").alias("j", "__cand"),
            F.col("__n"),
        )
        # self-collision: step to the neighboring id, still in-domain
        .selectExpr(
            "anchor_id",
            "CAST(j AS BIGINT) AS j",
            "CASE WHEN __cand = anchor_id THEN (__cand + 1) % __n "
            "ELSE __cand END AS negative_id",
        )
        # N=1 degenerate corpus: the remap lands back on the anchor —
        # emit nothing instead of a self-pair
        .where("negative_id <> anchor_id")
    )
    if distinct:
        anchors = (
            anchors.groupBy("anchor_id", "negative_id")
            .agg(F.min("j").alias("j"))
            .select("anchor_id", "j", "negative_id")
        )
    return anchors


def temperature_mixture_rates(
    df: DataFrame,
    domain_col: str,
    alpha: float = 0.5,
    budget_rows: int = 100_000,
) -> DataFrame:
    """Temperature-based mixture rates: sampling share q_i ∝ n_i^alpha
    — the standard multi-source recipe (alpha=1 keeps natural
    proportions, alpha=0 forces equal shares, alpha=0.5 is the usual
    compromise that up-weights small domains without drowning large
    ones). Returns one row per domain: ``n_docs``, ``weight``
    (n^alpha), ``q`` (normalized share), and ``rate`` — the per-row
    keep probability that realizes ``budget_rows`` total expected rows
    (capped at 1: a domain smaller than its allocation contributes
    everything it has). Feed ``rate`` into ``mixture_sample``.

    alpha is restricted to {0.0, 0.5, 1.0}: these have exact IEEE
    forms (1, sqrt, identity) on every engine, while a general
    ``pow(n, alpha)`` is not correctly-rounded-guaranteed and breaks
    cross-engine hashing (same reasoning as the ln()-free BM25/LM
    scores). The share normalizer folds the per-domain weights in
    SORTED domain order — a parallel SUM of doubles is
    partition-order-dependent.
    """
    if alpha not in (0.0, 0.5, 1.0):
        raise ValueError(
            "alpha must be one of 0.0, 0.5, 1.0 (exact cross-engine forms)"
        )
    wfn = {0.0: "1.0", 0.5: "sqrt({n})", 1.0: "{n}"}[alpha]
    counts = df.groupBy(domain_col).agg(
        F.count(F.lit(1)).cast("double").alias("__n")
    )
    fold = counts.agg(
        F.expr(
            "aggregate("
            f"array_sort(collect_list(struct({domain_col} AS d, __n AS n))), "
            "CAST(0 AS DOUBLE), "
            f"(acc, x) -> acc + {wfn.format(n='x.n')})"
        ).alias("__S")
    )
    weight = F.expr(wfn.format(n="__n"))
    q = weight / F.col("__S")
    return (
        counts.crossJoin(fold)
        .select(
            domain_col,
            F.col("__n").cast("bigint").alias("n_docs"),
            weight.alias("weight"),
            q.alias("q"),
            F.least(
                F.lit(1.0), q * F.lit(float(budget_rows)) / F.col("__n")
            ).alias("rate"),
        )
    )
