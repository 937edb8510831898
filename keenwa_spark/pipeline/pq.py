"""Product quantization (PQ) + asymmetric-distance (ADC) search —
the memory-side half of the large-scale ANN stack (Jégou et al. 2011,
"Product Quantization for Nearest Neighbor Search"; the faiss IVF-PQ
pairing's PQ half).

Where IVF (pipeline/ivf.py) prunes WHICH vectors a query compares
against, PQ compresses WHAT is stored: each vector splits into ``m``
subvectors, each subvector is vector-quantized against a per-subspace
codebook of ``k_codes`` centroids, and the corpus keeps only the m
small code ids (m bytes at k<=256 vs 4·dim bytes of fp32 — 256x for
768-dim fp32 at m=12). Search never reconstructs: a query precomputes
its m distance TABLES (query-subvector -> every codebook entry), and a
candidate's approximate distance is m table lookups summed — the ADC
trick that makes scanning billions of codes memory-bandwidth-bound
instead of FLOP-bound.

Scale shape (the same discipline as IVF, reference has no similarity
surface — beyond-reference mandate):
- training is a driver-side fit on a BOUNDED sample (vid <
  ``train_rows``) — model-fit state constant in corpus size (the
  sanctioned IVF/centroid exception); the corpus participates only in
  the single shuffle-free ENCODE pass;
- the codebook model rides into plans as a 1-row sized LocalRelation
  holding an ``array<struct>`` column, which the planner broadcasts
  (constant-size plan text at any m·k);
- query distance tables are computed on the (small, broadcast) query
  side; the corpus-side ADC pass is one zip_with lookup + sequential
  fold per row — no shuffle, no Python;
- top-k per query is a bounded window over the scored stream.

Determinism (everything oracle-replayable in DuckDB, the ivf.py
rules): sample = vid < train_rows; per-subspace init = subvectors of
ids 0..k_codes-1; assignment = squared-L2 SEQUENTIAL fold over dims
with lowest-code tie-break; centroid update = per-dimension SORTED
fold mean; fixed iterations; emptied codes drop out. Code ids in the
encoded output are 1-based POSITIONS in the surviving codebook
(sorted by init id) so ADC lookup is a direct element_at.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from keenwa_spark.litdf import local_df
from keenwa_spark.pipeline.ivf import TRAIN_ROWS, _as_vecs, _assign_ids

#: per subspace: [(pos, centroid subvector)] with pos 1-based in
#: surviving-init-id order
Books = list[list[tuple[int, list[float]]]]

_SQD = (
    "aggregate(zip_with({a}, {b}, (x, y) -> (x - y) * (x - y)), "
    "CAST(0 AS DOUBLE), (acc, z) -> acc + z)"
)

#: encode: per subspace, argmin over codebook entries of the
#: subvector's squared L2 — struct(dist, pos) lexicographic min gives
#: the lowest-pos (== lowest init id) tie-break
_ENC = (
    "transform(books, b -> array_min(transform(b.codes, c -> struct("
    + _SQD.format(a="slice(v, b.sub * {d} + 1, {d})", b="c.cv")
    + " AS dist, c.pos AS pos))).pos)"
)

#: query-side distance tables, position-indexed per subspace
_TABLES = (
    "transform(books, b -> transform(b.codes, c -> "
    + _SQD.format(a="slice(qv, b.sub * {d} + 1, {d})", b="c.cv")
    + "))"
)

#: ADC: m table lookups summed in subspace order (sequential fold —
#: the oracle's explicit left-associated + chain adds identically)
_ADC = (
    "aggregate(zip_with(codes, tables, (c, t) -> element_at(t, c)), "
    "CAST(0 AS DOUBLE), (acc, z) -> acc + z)"
)


def pq_train(
    emb: DataFrame,
    m: int = 4,
    k_codes: int = 8,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    train_rows: int = TRAIN_ROWS,
) -> Books:
    """Fit the m per-subspace codebooks on the bounded sample,
    in-driver (one Spark job: the sample collect)."""
    rows = sorted(
        (int(r.vid), list(r.v))
        for r in _as_vecs(emb, id_col, vec_col)
        .filter(F.col("vid") < train_rows)
        .collect()
    )
    if not rows:
        raise ValueError(
            "cannot train a PQ codebook on an empty corpus "
            f"(no rows with {id_col} < {train_rows})"
        )
    return _fit_books(rows, m, k_codes, iters, id_col)


def _fit_books(
    rows: list[tuple[int, list[float]]],
    m: int,
    k_codes: int,
    iters: int,
    id_col: str = "vec_id",
    seed_lowest: bool = False,
) -> Books:
    """Per-subspace deterministic k-means over already-collected
    (vid, vector) rows (sorted by vid) — factored out of pq_train so
    IVF-PQ can fit codebooks on cell RESIDUALS of the same sample.
    Float op sequences are IDENTICAL to the pre-factor pq_train.

    ``seed_lowest``: seed from the k_codes LOWEST vids present in
    ``rows`` instead of the absolute rule ``vid < k_codes`` — the
    per-cell local-books path (a cell's sample rarely contains the
    globally-lowest ids; the oracle replays this as ROW_NUMBER OVER
    (PARTITION BY cell ORDER BY vid) <= k_codes)."""
    import numpy as np

    X = np.array([v for _, v in rows], dtype=np.float64)
    dim = X.shape[1]
    if m < 1 or dim % m:
        raise ValueError(
            f"m={m} must divide the embedding dimension {dim} "
            "(equal-width subspaces; pad or re-project otherwise)"
        )
    d = dim // m
    books: Books = []
    for s in range(m):
        Xs = X[:, s * d : (s + 1) * d]
        if seed_lowest:
            cents = [
                (vid, Xs[i].tolist())
                for i, (vid, _) in enumerate(rows[:k_codes])
            ]
        else:
            cents = [
                (vid, Xs[i].tolist())
                for i, (vid, _) in enumerate(rows)
                if vid < k_codes
            ]
        if not cents:
            # same loud-failure contract as the empty-corpus check
            # above (ADVICE r08): without this, _assign_ids crashes
            # with an opaque numpy IndexError on id spaces that don't
            # start near 0
            raise ValueError(
                "PQ init found no seed rows: codebook seeds are the "
                f"rows with {id_col} < k_codes={k_codes}, but the "
                f"sampled ids are all >= k_codes (min sampled id "
                f"{rows[0][0]}); remap ids to start at 0 or raise "
                "k_codes"
            )
        for _ in range(iters):
            assign = _assign_ids(Xs, cents)
            new = []
            for ci, (cid, _) in enumerate(cents):
                members = Xs[assign == ci]
                if len(members) == 0:
                    continue  # emptied code drops out (SQL replay rule)
                # sorted fold, r14: np.sort + builtin sum — bit-identical
                # to the old sorted()+loop (see ivf._lloyd), C-speed sort
                S = np.sort(members, axis=0)
                nm = len(members)
                cv = [sum(S[:, dd].tolist(), 0.0) / nm for dd in range(d)]
                new.append((cid, cv))
            cents = new
        # 1-based positions in surviving-init-id order
        books.append([(pos + 1, cv) for pos, (_, cv) in enumerate(cents)])
    return books


def _model_df(spark, books: Books) -> DataFrame:
    """The codebook model as ONE row of nested arrays, a sized
    LocalRelation (litdf.local_df): codebook floats never become plan
    literals, and the planner sees its size."""
    return local_df(
        spark,
        [([(s, [(pos, cv) for pos, cv in codes]) for s, codes in enumerate(books)],)],
        "books ARRAY<STRUCT<sub: INT, codes: ARRAY<STRUCT<pos: INT, cv: ARRAY<DOUBLE>>>>>",
    )


def _local_model_df(spark, lbooks: "dict[int, Books]") -> DataFrame:
    """(cid, books) — the per-cell model, joined on cid (a sized
    LocalRelation, like _model_df)."""
    return local_df(
        spark,
        [
            (cid, [(s, [(pos, cv) for pos, cv in codes])
                   for s, codes in enumerate(bks)])
            for cid, bks in sorted(lbooks.items())
        ],
        "cid INT, books ARRAY<STRUCT<sub: INT, "
        "codes: ARRAY<STRUCT<pos: INT, cv: ARRAY<DOUBLE>>>>>",
    )


def _encode_vecs_local(
    vecs: DataFrame,
    lbooks: "dict[int, Books]",
    backend: str = "auto",
    model: DataFrame | None = None,
) -> DataFrame:
    """(vid, cid, codes) for a (vid, cid, v) residual frame, each row
    encoded with ITS CELL's codebooks — the local-books twin of
    _encode_vecs (same backends, same IEEE fold order, same lowest-pos
    tie-break; the sql/numpy crossover counts the total model size
    across cells). ``model``: a prebuilt _local_model_df frame shared
    with the caller's query side, so Spark reuses ONE broadcast
    exchange instead of building the model twice (r13)."""
    any_books = next(iter(lbooks.values()))
    d = len(any_books[0][0][1])
    backend = _resolve_backend(backend, lbooks, local_books=True)
    if backend == "sql":
        if model is None:
            model = _local_model_df(vecs.sparkSession, lbooks)
        return (
            vecs.join(model, "cid")
            .withColumn("codes", F.expr(_ENC.format(d=d)))
            .select("vid", "cid", "codes")
        )
    import numpy as np
    import pandas as pd

    mats = {
        cid: (
            [np.array([cv for _, cv in b], dtype=np.float64) for b in bks],
            [np.array([p for p, _ in b], dtype=np.int32) for b in bks],
        )
        for cid, bks in lbooks.items()
    }
    n_sub = len(any_books)

    def enc(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            outs = []
            for cid, grp in pdf.groupby("cid", sort=True):
                ms, ps = mats[int(cid)]
                X = np.array(grp["v"].tolist(), dtype=np.float64)
                out = np.empty((len(grp), n_sub), dtype=np.int32)
                for s, (M, P) in enumerate(zip(ms, ps)):
                    Xs = X[:, s * d : (s + 1) * d]
                    acc = np.zeros((len(grp), len(P)), dtype=np.float64)
                    for j in range(d):  # sequential over dims
                        diff = Xs[:, j : j + 1] - M[:, j][None, :]
                        acc = acc + diff * diff
                    out[:, s] = P[np.argmin(acc, axis=1)]
                outs.append(pd.DataFrame({
                    "vid": grp["vid"],
                    "cid": grp["cid"],
                    "codes": [r.tolist() for r in out],
                }))
            yield pd.concat(outs)

    fields = {f.name: f.dataType.simpleString() for f in vecs.schema.fields}
    schema = f"vid {fields['vid']}, cid {fields['cid']}, codes ARRAY<INT>"
    return vecs.mapInPandas(enc, schema)


def _books_kdim(books, local_books: bool) -> int:
    """Total codebook floats — the sql/numpy crossover statistic of
    _encode_vecs / _encode_vecs_local (shared so ivfpq_search can
    resolve the backend BEFORE choosing the corpus-pass shape)."""
    if local_books:
        any_books = next(iter(books.values()))
        d = len(any_books[0][0][1])
        return sum(len(b) for bks in books.values() for b in bks) * d
    return sum(len(b) for b in books) * len(books[0][0][1])


#: sql is only cheaper than the fixed Arrow-crossing cost below this
#: many total codebook floats (tools/pq_crossover.py table in SCALE.md)
_SQL_KDIM_MAX = 128


def _resolve_backend(backend: str, books, local_books: bool) -> str:
    """The ONE home of the sql/numpy 'auto' rule (ADVICE r13: the
    ``kdim <= 128`` threshold was written out in three call sites,
    which could silently desynchronize the encode paths if edited in
    one spot). Every encode entry point resolves through here."""
    if backend != "auto":
        return backend
    return "sql" if _books_kdim(books, local_books) <= _SQL_KDIM_MAX else "numpy"


def _fused_assign_encode_numpy(
    vecs: DataFrame,
    cents,
    books,
    local_books: bool,
) -> DataFrame:
    """(vid, cid, codes) straight from the raw (vid, v) corpus frame:
    coarse assignment, residual, and PQ encode in ONE Arrow-batched
    mapInPandas pass (r13, guide §4.2 shape — the corpus crosses the
    Python boundary once, the whole model rides in the task closure,
    and the interpreted-HOF assign plus the broadcast residual join
    disappear from the corpus side).

    Bit-exact by construction: assignment is the _assign_ids kernel
    (sequential over dims, argmin first-occurrence = lowest-cid
    tie-break), the residual is the same single IEEE subtract as the
    sql ``zip_with(v, cv, x - y)``, and the encode is the
    _encode_vecs / _encode_vecs_local numpy kernel unchanged — so the
    output matches the unfused sql/numpy chain row for row (pinned in
    tests/test_recall.py::test_fused_corpus_pass_matches_unfused)."""
    import numpy as np
    import pandas as pd

    c_ids = np.array([cid for cid, _ in cents], dtype=np.int32)
    c_mat = np.array([cv for _, cv in cents], dtype=np.float64)
    if local_books:
        mats = {
            int(cid): (
                [np.array([cv for _, cv in b], dtype=np.float64) for b in bks],
                [np.array([p for p, _ in b], dtype=np.int32) for b in bks],
            )
            for cid, bks in books.items()
        }
        any_books = next(iter(books.values()))
    else:
        mats = (
            [np.array([cv for _, cv in b], dtype=np.float64) for b in books],
            [np.array([p for p, _ in b], dtype=np.int32) for b in books],
        )
        any_books = books
    n_sub = len(any_books)
    d = len(any_books[0][0][1])
    # The model ships as a sparkContext BROADCAST, not in the task
    # closure (ADVICE r13): a pickled closure is re-shipped per task,
    # which at ivfpq_train's documented local-books upper regime
    # (1024 cells x 16 x 256 x 48 doubles ~ 1.6 GB) is impractical; a
    # broadcast lands once per executor and reused Python workers keep
    # the deserialized value across tasks.
    b_model = vecs.sparkSession.sparkContext.broadcast((c_ids, c_mat, mats))

    def _codes(R, ms, ps, out, rows):
        for s, (M, P) in enumerate(zip(ms, ps)):
            Rs = R[:, s * d : (s + 1) * d]
            acc = np.zeros((R.shape[0], len(P)), dtype=np.float64)
            for j in range(d):  # sequential over dims
                diff = Rs[:, j : j + 1] - M[:, j][None, :]
                acc = acc + diff * diff
            out[rows, s] = P[np.argmin(acc, axis=1)]  # first hit = lowest pos

    def run(batches):
        c_ids, c_mat, mats = b_model.value  # once per (reused) worker
        for pdf in batches:
            if not len(pdf):
                continue
            X = np.array(pdf["v"].tolist(), dtype=np.float64)
            acc = np.zeros((len(pdf), len(c_ids)), dtype=np.float64)
            for j in range(c_mat.shape[1]):  # sequential over dims
                diff = X[:, j : j + 1] - c_mat[:, j][None, :]
                acc = acc + diff * diff
            best = np.argmin(acc, axis=1)  # first hit = lowest cid
            cid = c_ids[best]
            R = X - c_mat[best]  # the sql zip_with subtract, row-wise
            out = np.empty((len(pdf), n_sub), dtype=np.int32)
            if local_books:
                for c in np.unique(cid):
                    rows = np.nonzero(cid == c)[0]
                    ms, ps = mats[int(c)]
                    _codes(R[rows], ms, ps, out, rows)
            else:
                _codes(R, *mats, out, np.arange(len(pdf)))
            yield pd.DataFrame(
                {
                    "vid": pdf["vid"],
                    "cid": cid,
                    "codes": [r.tolist() for r in out],
                }
            )

    vid_t = vecs.schema["vid"].dataType.simpleString()
    return vecs.mapInPandas(run, f"vid {vid_t}, cid INT, codes ARRAY<INT>")


def _encode_vecs(
    vecs: DataFrame,
    books: Books,
    backend: str = "auto",
    keep: tuple[str, ...] = (),
    model: DataFrame | None = None,
) -> DataFrame:
    """(vid, *keep, codes) for a (vid, v[, *keep]) frame — the shared
    encode pass of pq_encode / pq_search / ivfpq_search.

    Backends (bit-identical — same IEEE fold order, same lowest-pos
    tie-break, the ivf_assign twin):
    - ``sql``: the broadcast-model HOF map, pure JVM. Per-row cost is
      O(Σ_s k_s · d) INTERPRETED lambda steps (higher-order functions
      don't codegen) — fine at small models;
    - ``numpy``: Arrow-batched ``mapInPandas`` against the codebook
      matrices shipped in the task closure — vectorized over rows,
      sequential over dims, so each row's squared distance is the
      identical IEEE sequence as the SQL fold and np.argmin's
      first-occurrence rule is the lowest-pos tie-break (positions
      are 1..n in array order). The only sane per-row cost at
      production models (m=16, k=256, dim 768 → ~200k interpreted
      steps/row on the sql path);
    - ``auto``: sql only while total-codebook-floats <= 128, else
      numpy. ``model``: a prebuilt _model_df frame shared with the
      caller's query side so ONE broadcast exchange serves both
      (Spark's ReuseExchange needs the same plan subtree — r13). MEASURED (tools/pq_crossover.py, 50k rows, best-of-3,
      forced-evaluation): numpy is flat 0.5-1.3s across k·dim
      128→32768 while sql grows 0.95s → 11.1s (4096) → 69.6s
      (32768) — the Arrow crossing is a fixed ~0.5s, interpreted HOF
      steps scale with the model. Table in SCALE.md.
    """
    d = len(books[0][0][1])
    backend = _resolve_backend(backend, books, local_books=False)
    if backend == "sql":
        if model is None:
            model = _model_df(vecs.sparkSession, books)
        return (
            vecs.crossJoin(model)
            .withColumn("codes", F.expr(_ENC.format(d=d)))
            .select("vid", *keep, "codes")
        )
    import numpy as np
    import pandas as pd

    mats = [np.array([cv for _, cv in b], dtype=np.float64) for b in books]
    poss = [np.array([p for p, _ in b], dtype=np.int32) for b in books]

    def enc(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            X = np.array(pdf["v"].tolist(), dtype=np.float64)
            out = np.empty((len(pdf), len(mats)), dtype=np.int32)
            for s, (M, P) in enumerate(zip(mats, poss)):
                Xs = X[:, s * d : (s + 1) * d]
                acc = np.zeros((len(pdf), len(P)), dtype=np.float64)
                for j in range(d):  # sequential over dims
                    diff = Xs[:, j : j + 1] - M[:, j][None, :]
                    acc = acc + diff * diff
                out[:, s] = P[np.argmin(acc, axis=1)]  # first hit = lowest pos
            yield pd.DataFrame(
                {
                    "vid": pdf["vid"],
                    **{k: pdf[k] for k in keep},
                    "codes": [r.tolist() for r in out],
                }
            )

    fields = {f.name: f.dataType.simpleString() for f in vecs.schema.fields}
    schema = ", ".join(
        [f"vid {fields['vid']}"]
        + [f"{k} {fields[k]}" for k in keep]
        + ["codes ARRAY<INT>"]
    )
    return vecs.mapInPandas(enc, schema)


def pq_encode(
    emb: DataFrame,
    books: Books,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    backend: str = "auto",
) -> DataFrame:
    """(vid, codes): the compressed corpus — codes[s] is the 1-based
    codebook position of subspace s. One shuffle-free broadcast-model
    pass; NULL vectors are excluded (nothing to encode), mirroring the
    IVF assignment rule. ``backend`` as in _encode_vecs (sql / numpy /
    auto — both bit-identical)."""
    return _encode_vecs(_as_vecs(emb, id_col, vec_col), books, backend)


def pq_search(
    emb: DataFrame,
    queries: DataFrame,
    m: int = 4,
    k_codes: int = 8,
    iters: int = 2,
    topk: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    train_rows: int = TRAIN_ROWS,
    refine: int | None = None,
    encode_backend: str = "auto",
    books: Books | None = None,
) -> DataFrame:
    """ADC top-k: train on the bounded sample, encode the corpus once
    (``encode_backend``: sql / numpy / auto — bit-identical, see
    _encode_vecs), precompute per-query distance tables on the
    broadcast query side, and scan codes with m lookups + a sequential
    fold per row.

    ``books``: prebuilt codebooks (pq_train output or pq_load) — skips
    the fit, the production pattern (train once, save, search many
    times; refitting would re-derive positions against stored codes).
    When given, m/k_codes/iters/train_rows are ignored.

    ``refine=None``: output (query_id, neighbor_id, adc_dist, rnk) —
    ranks carry PQ quantization error by construction (exactness of
    the pipeline lives in the oracle replay; recall in
    tests/test_recall.py). ``refine=N`` (the standard deployment
    shape, faiss's IndexRefine): the ADC scan only SHORTLISTS the top
    N >= topk codes per query, then the shortlist's TRUE vectors are
    fetched (broadcast shortlist -> one more corpus scan, no corpus
    shuffle) and re-ranked by exact squared L2 — output (query_id,
    neighbor_id, l2_dist, rnk). Measured recall@5 vs exact-L2 truth
    on the clustered fixture (m=8, k=64): 0.32 unrefined -> 0.896
    with refine=50, because within-cluster ADC distances collapse to
    few distinct values and the true ordering is recovered by the
    exact pass over the bounded shortlist."""
    if refine is not None and refine < topk:
        raise ValueError(f"refine={refine} must be >= topk={topk}")
    if books is None:
        books = pq_train(emb, m, k_codes, iters, id_col, vec_col, train_rows)
    d = len(books[0][0][1])
    # ONE model frame serves the encode pass and the query tables —
    # identical plan subtree, so Spark reuses the broadcast exchange
    # instead of re-materializing the model (r13)
    mdf = _model_df(emb.sparkSession, books)
    enc = _encode_vecs(
        _as_vecs(emb, id_col, vec_col), books, encode_backend, model=mdf
    )
    qt = (
        _as_vecs(queries, id_col, vec_col)
        .select(F.col("vid").alias("query_id"), F.col("v").alias("qv"))
        .crossJoin(mdf)
        .withColumn("tables", F.expr(_TABLES.format(d=d)))
        .select("query_id", "tables")
    )
    scored = (
        enc.crossJoin(F.broadcast(qt))
        .where(F.col("vid") != F.col("query_id"))
        .withColumn("adc_dist", F.expr(_ADC))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("adc_dist").asc(), F.col("vid").asc()
    )
    ranked = scored.withColumn("rnk", F.row_number().over(w))
    return _emit_topk(ranked, emb, queries, topk, refine, id_col, vec_col)


def _emit_topk(
    ranked: DataFrame,
    emb: DataFrame,
    queries: DataFrame,
    topk: int,
    refine: int | None,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """Shared tail of the ADC searchers: emit the ADC top-k directly,
    or re-rank the ADC top-``refine`` shortlist by exact squared L2
    (broadcast shortlist -> one more corpus scan, no corpus shuffle).
    The shortlist's estimate is the query vectors' source scan, which
    can exceed the corpus side's, so its broadcast stays forced; the
    join back to the query vectors is left to the planner."""
    if refine is None:
        return ranked.filter(F.col("rnk") <= topk).select(
            "query_id",
            F.col("vid").alias("neighbor_id"),
            "adc_dist",
            F.col("rnk").cast("bigint").alias("rnk"),
        )
    short = ranked.filter(F.col("rnk") <= refine).select("query_id", "vid")
    vecs = _as_vecs(emb, id_col, vec_col)
    qv = _as_vecs(queries, id_col, vec_col).select(
        F.col("vid").alias("query_id"), F.col("v").alias("qv")
    )
    exact = (
        vecs.join(F.broadcast(short), "vid")
        .join(qv, "query_id")
        .withColumn("l2_dist", F.expr(_SQD.format(a="v", b="qv")))
    )
    w2 = Window.partitionBy("query_id").orderBy(
        F.col("l2_dist").asc(), F.col("vid").asc()
    )
    return (
        exact.withColumn("rnk", F.row_number().over(w2))
        .filter(F.col("rnk") <= topk)
        .select(
            "query_id",
            F.col("vid").alias("neighbor_id"),
            "l2_dist",
            F.col("rnk").cast("bigint").alias("rnk"),
        )
    )


def ivfpq_train(
    emb: DataFrame,
    k_cells: int = 4,
    m: int = 4,
    k_codes: int = 8,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    train_rows: int = TRAIN_ROWS,
    local_books: bool = False,
):
    """The faiss IVFPQ recipe both this module's and ivf.py's
    docstrings cite: fit the coarse quantizer, then fit the PQ
    codebooks on the sample's cell RESIDUALS (vector minus its cell
    centroid), so codebooks model LOCAL geometry instead of the global
    spread — the fix for plain PQ's within-cluster ADC-distance
    collapse (measured recall@5 0.32 -> see tests/test_recall.py).

    One bounded sample collect feeds BOTH fits (ivf._train_sample);
    everything stays deterministic and DuckDB-replayable: coarse fit =
    ivf recipe; residual = per-element x - c (a single IEEE op, exact
    both engines); residual codebook init = residuals of ids <
    k_codes; same sorted-fold means. Returns (cents, books).

    ``local_books=True`` fits ONE codebook set PER COARSE CELL on that
    cell's sample residuals (per-cell seeds = the cell's k_codes
    lowest vids) and returns (cents, {cid: books}) — the
    rotation-free half of LOPQ (Kalantidis & Avrithis 2014). Measured
    on all three recall fixtures with HELD-OUT queries
    (tools/ivfpq_ceiling.py main_r11): recall@5 +0.11..+0.27 over
    shared books at every (fixture, m); the per-cell OPQ ROTATION was
    measured too and rejected (it degrades recall — the r10 global-
    rotation null result holds per-cell). Model state grows to
    k_cells x m x k_codes x (dim/m) floats — still broadcast-sized
    (1024 cells x 16 x 256 x 48 doubles = 1.6 GB would need trimming,
    but the 64..256-cell regimes this engine targets stay << 100 MB)."""
    import numpy as np

    from keenwa_spark.pipeline.ivf import _lloyd, _train_sample

    rows = _train_sample(emb, id_col, vec_col, train_rows)
    X = np.array([v for _, v in rows], dtype=np.float64)
    cents = _lloyd(X, rows, k_cells, iters)
    C = np.array([cv for _, cv in cents], dtype=np.float64)
    assign = _assign_ids(X, cents)
    res_rows = [
        (vid, (X[i] - C[assign[i]]).tolist())
        for i, (vid, _) in enumerate(rows)
    ]
    if not local_books:
        return cents, _fit_books(res_rows, m, k_codes, iters, id_col)
    by_cell: dict[int, list[tuple[int, list[float]]]] = {}
    for i, rr in enumerate(res_rows):
        by_cell.setdefault(int(cents[assign[i]][0]), []).append(rr)
    empty = [cid for cid, _ in cents if cid not in by_cell]
    if empty:
        raise ValueError(
            f"local_books: cells {empty} have no sample members — "
            "corpus vectors assigned there would be unencodable; "
            "lower k_cells or raise train_rows"
        )
    return cents, {
        cid: _fit_books(cell_rows, m, k_codes, iters, id_col, seed_lowest=True)
        for cid, cell_rows in sorted(by_cell.items())
    }


def ivfpq_search(
    emb: DataFrame,
    queries: DataFrame,
    k_cells: int = 4,
    nprobe: int = 2,
    m: int = 4,
    k_codes: int = 8,
    iters: int = 2,
    topk: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    train_rows: int = TRAIN_ROWS,
    refine: int | None = None,
    encode_backend: str = "auto",
    model: "tuple[Cents, Books] | None" = None,
    local_books: bool = False,
) -> DataFrame:
    """IVF-pruned, residual-PQ-compressed ADC top-k — the composed
    production ANN shape (ivf.py prunes WHICH cells are scanned, this
    module compresses WHAT each cell stores).

    Plan shape (no corpus shuffle anywhere):
    - corpus: ONE assignment pass (broadcast centroid model), residual
      via a broadcast k_cells-row join on cid, codes via the broadcast
      codebook model — all map-side;
    - queries: probe their nprobe nearest cells; distance tables are
      computed per (query, probed cell) on the RESIDUAL q - c, so a
      candidate's m lookups approximate ||(q-c) - r_hat||^2 =
      ||q - x_hat||^2 exactly as in Jegou et al.'s IVFADC;
    - candidates meet only the queries probing their cell (broadcast
      join on cid); top-k is a bounded window over candidates.

    ``refine=N`` re-ranks the ADC shortlist by exact L2 (same
    _emit_topk tail as pq_search). ``model``: a prebuilt
    (cents, books) pair from ivfpq_train — skips both fits (train
    once, save via ivf_save + pq_save, search many times); when given,
    k_cells/m/k_codes/iters/train_rows are ignored.

    ``local_books=True`` = rotation-free LOPQ: one codebook set per
    coarse cell (ivfpq_train local_books), corpus rows encoded with
    their cell's books, query tables computed per (query, probed cell)
    against THAT cell's books. Plan shape is unchanged — the model
    join key simply becomes cid (still broadcast), the corpus still
    never shuffles. Measured recall@5 lift over shared books:
    +0.11..+0.27 on every fixture with held-out queries
    (tools/ivfpq_ceiling.py main_r11; the per-cell ROTATION variant
    was measured and rejected — it degrades recall)."""
    from keenwa_spark.pipeline.ivf import _CELL_DISTS, _with_cells, ivf_assign

    if refine is not None and refine < topk:
        raise ValueError(f"refine={refine} must be >= topk={topk}")
    spark = emb.sparkSession
    if model is not None:
        cents, books = model
        local_books = isinstance(books, dict)
        if local_books:
            # ADVICE r11: a coarse cell present in cents but missing
            # from the per-cell codebooks (stale lopq_load vs fresh
            # centroids, or a trimmed model) would silently DROP that
            # cell's corpus rows on the sql backend (inner join on
            # cid) while the numpy backend raises KeyError. Fail loud
            # and identically on both backends, like ivfpq_train's
            # empty-cell guard.
            missing = [cid for cid, _ in cents if cid not in books]
            if missing:
                raise ValueError(
                    f"local_books model is missing codebooks for coarse "
                    f"cells {missing} — cents/lbooks mismatch (stale "
                    f"lopq_load against fresh centroids?)"
                )
    else:
        cents, books = ivfpq_train(
            emb, k_cells, m, k_codes, iters, id_col, vec_col, train_rows,
            local_books=local_books,
        )
    any_books = next(iter(books.values())) if local_books else books
    d = len(any_books[0][0][1])
    cells_kv = local_df(
        spark, [(cid, cv) for cid, cv in cents], "cid INT, cv ARRAY<DOUBLE>"
    )
    # ONE codebook-model frame serves both the corpus encode and the
    # query tables (broadcast exchange reuse — r13)
    mdf = (
        _local_model_df(spark, books) if local_books
        else _model_df(spark, books)
    )
    # corpus: (vid, cid, codes-of-residual). Backend resolved up front
    # (the _encode_vecs auto rule): on the numpy side the WHOLE corpus
    # chain — coarse assign, residual subtract, PQ encode — fuses into
    # one Arrow-batched pass (_fused_assign_encode_numpy, r13): the
    # corpus crosses the Python boundary once and the interpreted-HOF
    # assign + broadcast residual join disappear; the sql side keeps
    # the unfused broadcast-model chain DELIBERATELY (r14, VERDICT r13
    # item 5): it exists for pandas-less environments, 'auto'
    # never picks it at production model sizes (kdim > _SQL_KDIM_MAX
    # resolves numpy), bit-equality with the fused pass is pinned by
    # tests/test_recall.py, and its executed census is on file at
    # plans/r14/ivfpq_sql_backend_census.txt — fusing the cold path
    # would add a second assign/residual/encode implementation to
    # maintain for zero hot-path benefit.
    resolved = _resolve_backend(encode_backend, books, local_books)
    if resolved == "numpy":
        enc = _fused_assign_encode_numpy(
            _as_vecs(emb, id_col, vec_col), cents, books, local_books
        )
    else:
        residual = (
            ivf_assign(emb, cents, id_col, vec_col)
            .join(cells_kv, "cid")
            .withColumn("v", F.expr("zip_with(v, cv, (x, y) -> x - y)"))
            .select("vid", "cid", "v")
        )
        if local_books:
            enc = _encode_vecs_local(residual, books, resolved, model=mdf)
        else:
            enc = _encode_vecs(
                residual, books, resolved, keep=("cid",), model=mdf
            )
    # queries: nprobe nearest cells, then per-(query, cell) tables on
    # the residual q - c
    probed = _with_cells(_as_vecs(queries, id_col, vec_col), cents).select(
        F.col("vid").alias("query_id"),
        F.col("v").alias("qfull"),
        F.explode(
            F.expr(
                f"transform(slice(array_sort({_CELL_DISTS}), 1, "
                f"{int(nprobe)}), s -> s.cid)"
            )
        ).alias("cid"),
    )
    qres = probed.join(cells_kv, "cid").withColumn(
        "qv", F.expr("zip_with(qfull, cv, (x, y) -> x - y)")
    )
    if local_books:
        qres = qres.join(mdf, "cid")
    else:
        qres = qres.crossJoin(mdf)
    qt = (
        qres.withColumn("tables", F.expr(_TABLES.format(d=d)))
        .select("query_id", "cid", "tables")
    )
    scored = (
        enc.join(F.broadcast(qt), "cid")
        .where(F.col("vid") != F.col("query_id"))
        .withColumn("adc_dist", F.expr(_ADC))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("adc_dist").asc(), F.col("vid").asc()
    )
    ranked = scored.withColumn("rnk", F.row_number().over(w))
    return _emit_topk(ranked, emb, queries, topk, refine, id_col, vec_col)


#: parquet layouts of saved codebooks; the loaders read with them, so
#: loading needs no schema inference
PQ_SCHEMA = "sub INT, pos INT, cv ARRAY<DOUBLE>"
LOPQ_SCHEMA = "cid INT, sub INT, pos INT, cv ARRAY<DOUBLE>"


def pq_save(spark, books: Books, path: str) -> None:
    """Persist fitted codebooks as parquet — the reusable-index story
    of ivf_save, for the PQ half: fit once on a bounded sample, save,
    and every later encode/search session loads the SAME books
    (refitting would re-derive positions and silently invalidate every
    stored code). float64 roundtrips parquet bit-exactly, so loaded
    books encode identically (pinned in tests/test_recall.py)."""
    rows = [
        (s, pos, cv)
        for s, codes in enumerate(books)
        for pos, cv in codes
    ]
    local_df(spark, rows, PQ_SCHEMA).coalesce(1).write.mode(
        "overwrite"
    ).parquet(path)


def pq_load(spark, path: str) -> Books:
    """Load codebooks saved by ``pq_save`` back into the driver-side
    ``Books`` shape. The model is Σ k_s · d doubles — driver-bounded
    by construction (same budget as training's driver fit)."""
    rows = (
        spark.read.schema(PQ_SCHEMA).parquet(path).orderBy("sub", "pos").collect()
    )
    books: Books = []
    for r in rows:
        while len(books) <= r["sub"]:
            books.append([])
        books[r["sub"]].append((int(r["pos"]), list(r["cv"])))
    return books


def lopq_save(spark, lbooks: "dict[int, Books]", path: str) -> None:
    """pq_save's local-books twin: persist the per-cell codebooks of
    ivfpq_train(local_books=True) as one parquet keyed by (cid, sub,
    pos). Pair with ivf_save for the coarse centroids — together they
    reconstruct the full (cents, {cid: books}) model."""
    rows = [
        (cid, s, pos, cv)
        for cid, bks in sorted(lbooks.items())
        for s, codes in enumerate(bks)
        for pos, cv in codes
    ]
    local_df(spark, rows, LOPQ_SCHEMA).coalesce(1).write.mode(
        "overwrite"
    ).parquet(path)


def lopq_load(spark, path: str) -> "dict[int, Books]":
    """Load per-cell codebooks saved by ``lopq_save``; float64
    roundtrips parquet bit-exactly, so loaded books encode identically
    (same contract as pq_load, pinned in tests/test_recall.py)."""
    rows = (
        spark.read.schema(LOPQ_SCHEMA)
        .parquet(path)
        .orderBy("cid", "sub", "pos")
        .collect()
    )
    out: dict[int, Books] = {}
    for r in rows:
        bks = out.setdefault(int(r["cid"]), [])
        while len(bks) <= r["sub"]:
            bks.append([])
        bks[r["sub"]].append((int(r["pos"]), list(r["cv"])))
    return out
