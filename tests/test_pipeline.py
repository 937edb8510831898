"""Pipeline operator behavior tests (correctness vs oracle lives in the
registry; these pin semantic properties the oracle can't express)."""

from __future__ import annotations

import pytest


def test_exact_dedup_finds_planted_duplicates(spark):
    from keenwa_spark.pipeline.dedup import exact_dedup

    df = spark.createDataFrame(
        [
            (1, "Hello   World"),
            (2, "hello world"),       # same after normalization
            (3, "  HELLO WORLD  "),   # same after normalization
            (4, "different doc"),
        ],
        "doc_id LONG, text STRING",
    )
    out = {r.doc_id: r.n_copies for r in exact_dedup(df).collect()}
    assert out == {1: 3, 4: 1}


def test_minhash_lsh_catches_planted_near_dup(spark):
    from keenwa_spark.pipeline.dedup import minhash_lsh_pairs

    base = "the quick brown fox jumps over the lazy dog again and again today"
    near = base.replace("today", "tomorrow")
    far = "completely unrelated content about query optimizers and shuffles here"
    df = spark.createDataFrame(
        [(1, base), (2, near), (3, far)], "doc_id LONG, text STRING"
    )
    pairs = {(r.id_a, r.id_b) for r in minhash_lsh_pairs(df).collect()}
    assert (1, 2) in pairs
    assert (1, 3) not in pairs and (2, 3) not in pairs


def test_jaccard_identical_docs_score_one(spark):
    from keenwa_spark.pipeline.dedup import ngram_jaccard_pairs

    df = spark.createDataFrame(
        [(1, "alpha beta gamma delta"), (2, "alpha beta gamma delta")],
        "doc_id LONG, text STRING",
    )
    rows = ngram_jaccard_pairs(df, threshold=0.99).collect()
    assert len(rows) == 1 and rows[0].jaccard == 1.0


def test_simhash_near_dup_small_hamming(spark):
    from keenwa_spark.pipeline.dedup import simhash_fingerprints

    base = " ".join(f"word{i}" for i in range(60))
    near = base.replace("word59", "changed")
    far = " ".join(f"other{i}" for i in range(60))
    df = spark.createDataFrame(
        [(1, base), (2, near), (3, far)], "doc_id LONG, text STRING"
    )
    fp = {r.doc_id: r.simhash for r in simhash_fingerprints(df).collect()}
    ham_near = bin(fp[1] ^ fp[2]).count("1")
    ham_far = bin(fp[1] ^ fp[3]).count("1")
    assert ham_near < ham_far


def test_cosine_topk_self_similarity_excluded_and_ordered(views):
    from keenwa_spark.pipeline.similarity import cosine_topk

    emb = views.table("embeddings")
    out = cosine_topk(emb, emb.filter("vec_id = 0"), k=5).collect()
    assert len(out) == 5
    assert all(r.neighbor_id != 0 for r in out)
    sims = [r.cos_sim for r in out]
    assert sims == sorted(sims, reverse=True)
    assert [r.rnk for r in out] == [1, 2, 3, 4, 5]


def test_multimodal_decode_batch_schema(views):
    from keenwa_spark.pipeline.multimodal import attach_binary_payload, decode_batch

    docs = views.table("documents").limit(20)
    out = decode_batch(attach_binary_payload(docs))
    rows = out.collect()
    assert out.columns == ["doc_id", "n_bytes", "width", "height", "format"]
    assert all(r.n_bytes > 0 for r in rows)
    assert all(r.format in ("fake-a", "fake-b") for r in rows)


def test_multimodal_real_decode_png(spark):
    """decode_real actually decodes PNG payloads distributed (the
    pure-Python codec path) and flags corrupt blobs instead of failing
    the batch."""
    from keenwa_spark.pipeline.multimodal import decode_real
    from keenwa_spark.pipeline.png import encode_png

    white = encode_png(4, 2, 3, bytes([255] * 4 * 2 * 3))
    black = encode_png(3, 3, 1, bytes(9))
    grad = encode_png(2, 1, 3, bytes([0, 0, 0, 255, 255, 255]))
    df = spark.createDataFrame(
        [(1, white), (2, black), (3, grad), (4, b"not a png")],
        "doc_id LONG, payload BINARY",
    )
    rows = {r.doc_id: r for r in decode_real(df).collect()}
    assert (rows[1].width, rows[1].height, rows[1].channels) == (4, 2, 3)
    assert rows[1].format == "png" and rows[1].mean_luma == pytest.approx(255.0)
    assert rows[2].mean_luma == pytest.approx(0.0)
    assert rows[3].mean_luma == pytest.approx(127.5)
    assert rows[4].format == "invalid" and rows[4].width == 0


class TestImageDedup:
    @staticmethod
    def _gradient_png(w, h, tweak=0):
        from keenwa_spark.pipeline.png import encode_png

        pixels = bytes(
            min(255, ((x * 255) // max(w - 1, 1) + (tweak if x == 0 and y == 0 else 0)) % 256)
            for y in range(h)
            for x in range(w)
        )
        return encode_png(w, h, 1, pixels)

    def test_near_dup_found_distinct_not(self, spark):
        from keenwa_spark.pipeline.multimodal import (
            ahash_fingerprints,
            ahash_near_dup_pairs,
        )
        from keenwa_spark.pipeline.png import encode_png

        grad = self._gradient_png(16, 16)
        grad_tweaked = self._gradient_png(16, 16, tweak=3)  # one pixel off
        checker = encode_png(
            16, 16, 1,
            bytes(255 if (x + y) % 2 else 0 for y in range(16) for x in range(16)),
        )
        df = spark.createDataFrame(
            [(1, grad), (2, grad_tweaked), (3, checker), (4, b"junk")],
            "doc_id LONG, payload BINARY",
        )
        fps = ahash_fingerprints(df)
        rows = {r.doc_id: r.ahash for r in fps.collect()}
        assert set(rows) == {1, 2, 3}  # junk payload dropped
        pairs = ahash_near_dup_pairs(fps, max_hamming=3).collect()
        assert {(r.id_a, r.id_b) for r in pairs} == {(1, 2)}
        assert all(r.hamming <= 3 for r in pairs)

    def test_pair_generation_stays_jvm_side(self, spark):
        """Only the decode pass crosses into Python; banding + popcount
        verification must be JVM-only (no second Python eval)."""
        from keenwa_spark.pipeline.multimodal import (
            ahash_fingerprints,
            ahash_near_dup_pairs,
        )
        from keenwa_spark.plans import explain_text

        df = spark.createDataFrame(
            [(1, self._gradient_png(8, 8))], "doc_id LONG, payload BINARY"
        )
        fps = ahash_fingerprints(df).localCheckpoint(eager=True)
        plan = explain_text(ahash_near_dup_pairs(fps))
        assert "EvalPython" not in plan

    def test_max_bucket_drops_viral_groups_only(self, spark):
        """The viral-content guard (r13, mirroring minhash_lsh_pairs):
        a band bucket wider than max_bucket is dropped wholesale —
        bounding the quadratic pair blowup a viral image causes at
        100 TB — while smaller groups keep their exact pairs."""
        from keenwa_spark.pipeline.multimodal import ahash_near_dup_pairs

        # fingerprints directly: 6 copies of hash A (viral), 3 of hash B
        rows = [(i, 0x0F0F0F0F) for i in range(6)]
        rows += [(10 + i, 0x12345678) for i in range(3)]
        fps = spark.createDataFrame(rows, "doc_id LONG, ahash LONG")
        capped = ahash_near_dup_pairs(fps, max_hamming=0, max_bucket=5)
        got = {(r.id_a, r.id_b) for r in capped.collect()}
        # viral group (6 > 5) gone; small group's C(3,2)=3 pairs intact
        assert got == {(10, 11), (10, 12), (11, 12)}
        # without the cap the viral group's C(6,2)=15 pairs come back
        full = ahash_near_dup_pairs(fps, max_hamming=0, max_bucket=1000)
        assert full.count() == 15 + 3


class TestPngCodec:
    def test_roundtrip_rgb(self):
        from keenwa_spark.pipeline.png import decode_png, encode_png

        pixels = bytes((i * 7) % 256 for i in range(5 * 4 * 3))
        data = encode_png(5, 4, 3, pixels)
        w, h, ch, out = decode_png(data)
        assert (w, h, ch) == (5, 4, 3)
        assert out == pixels

    def test_roundtrip_rgba_and_grey(self):
        from keenwa_spark.pipeline.png import decode_png, encode_png

        for channels in (1, 2, 4):
            pixels = bytes((i * 13) % 256 for i in range(3 * 2 * channels))
            w, h, ch, out = decode_png(encode_png(3, 2, channels, pixels))
            assert (w, h, ch) == (3, 2, channels)
            assert out == pixels

    def test_all_scanline_filters_decode(self):
        """Hand-build IDAT scanlines using filters Sub/Up/Average/Paeth
        and check the decoder recovers the raw pixels (our encoder only
        writes filter None, so these exercise the unfilter paths a
        foreign encoder would produce)."""
        import struct
        import zlib

        from keenwa_spark.pipeline.png import decode_png

        width, height, ch = 4, 4, 1
        pixels = bytes((i * 11 + 3) % 256 for i in range(width * height))
        rows = [pixels[y * width : (y + 1) * width] for y in range(height)]

        def paeth(a, b, c):
            p = a + b - c
            pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
            return a if pa <= pb and pa <= pc else (b if pb <= pc else c)

        filtered = bytearray()
        prev = bytes(width)
        for y, row in enumerate(rows):
            f = [1, 2, 3, 4][y % 4]
            filtered.append(f)
            for i, x in enumerate(row):
                left = row[i - ch] if i >= ch else 0
                up = prev[i]
                ul = prev[i - ch] if i >= ch else 0
                if f == 1:
                    filtered.append((x - left) & 0xFF)
                elif f == 2:
                    filtered.append((x - up) & 0xFF)
                elif f == 3:
                    filtered.append((x - ((left + up) >> 1)) & 0xFF)
                else:
                    filtered.append((x - paeth(left, up, ul)) & 0xFF)
            prev = row

        def chunk(ctype, body):
            return (
                struct.pack(">I", len(body))
                + ctype
                + body
                + struct.pack(">I", zlib.crc32(ctype + body) & 0xFFFFFFFF)
            )

        data = (
            b"\x89PNG\r\n\x1a\n"
            + chunk(b"IHDR", struct.pack(">IIBBBBB", width, height, 8, 0, 0, 0, 0))
            + chunk(b"IDAT", zlib.compress(bytes(filtered)))
            + chunk(b"IEND", b"")
        )
        w, h, c, out = decode_png(data)
        assert (w, h, c) == (width, height, 1)
        assert out == pixels

    def test_unsupported_variants_raise(self):
        import struct
        import zlib

        from keenwa_spark.pipeline.png import PngError, decode_png, encode_png

        with pytest.raises(PngError):
            decode_png(b"JFIF not a png")

        def chunk(ctype, body):
            return (
                struct.pack(">I", len(body))
                + ctype
                + body
                + struct.pack(">I", zlib.crc32(ctype + body) & 0xFFFFFFFF)
            )

        sixteen_bit = (
            b"\x89PNG\r\n\x1a\n"
            + chunk(b"IHDR", struct.pack(">IIBBBBB", 1, 1, 16, 0, 0, 0, 0))
            + chunk(b"IDAT", zlib.compress(b"\x00\x00\x00"))
            + chunk(b"IEND", b"")
        )
        with pytest.raises(PngError, match="bit depth"):
            decode_png(sixteen_bit)
        with pytest.raises(PngError, match="channel"):
            encode_png(1, 1, 5, bytes(5))


def test_short_docs_produce_no_shingles(spark):
    from keenwa_spark.pipeline.dedup import minhash_signatures

    df = spark.createDataFrame(
        [(1, "two words"), (2, ""), (3, "one two three four")],
        "doc_id LONG, text STRING",
    )
    sigs = minhash_signatures(df).collect()
    assert {r.doc_id for r in sigs} == {3}  # only the >=3-word doc


def test_registry_contract_complete(views):
    """Every registry entry runs and matches its declared oracle key set
    (the driver-contract invariant)."""
    import __spark_entry__ as entrymod

    q = entrymod.queries()
    o = entrymod.oracle_sql()
    assert len(q) >= 90
    assert set(o) <= set(q)
    # spot-run one query per module family
    for name in ["get_scan", "expr_case", "win_rank", "subq_exists",
                 "ev_funnel", "pl_dedup_exact", "bld_setops_semi"]:
        assert q[name](views, __import__("tests.conftest", fromlist=["SF_DIR"]).SF_DIR).count() >= 0


def test_vectorized_cosine_matches_exact_ranking(views):
    """The numpy-matmul backend must produce the same top-k RANKING as
    the exact SQL-fold version (scores agree to ~1e-12, ranks exactly)."""
    from keenwa_spark.pipeline.similarity import cosine_topk, cosine_topk_vectorized

    emb = views.table("embeddings")
    queries = emb.filter("vec_id < 5")
    exact = {(r.query_id, r.rnk): r.neighbor_id for r in cosine_topk(emb, queries, k=5).collect()}
    vect = {(r.query_id, r.rnk): r.neighbor_id for r in cosine_topk_vectorized(emb, queries, k=5).collect()}
    assert exact == vect


def test_dedup_clusters_consistency(views):
    """Every LSH pair must land in the same component; representatives
    are component minima."""
    from keenwa_spark.pipeline.clustering import dedup_groups
    from keenwa_spark.pipeline.dedup import minhash_lsh_pairs

    docs = views.table("documents")
    pairs = minhash_lsh_pairs(docs)
    groups = dedup_groups(docs, pairs)
    comp = {r.doc_id: r.component for r in groups.collect()}
    for p in pairs.collect():
        assert comp[p.id_a] == comp[p.id_b]
    keeps = {r.doc_id for r in groups.filter("keep").collect()}
    assert keeps == {c for c in comp.values()}


def test_ivf_recall_vs_brute_force(views):
    """IVF with nprobe=2 of 8 cells should recover a meaningful share of
    the true top-5 (random data: cells are weak, but the pipeline must
    return k results per query with valid cell-local candidates)."""
    from keenwa_spark.pipeline.ivf import ivf_search
    from keenwa_spark.pipeline.similarity import cosine_topk

    emb = views.table("embeddings")
    queries = emb.filter("vec_id < 10")
    truth = {
        (r.query_id, r.neighbor_id) for r in cosine_topk(emb, queries, k=5).collect()
    }
    approx = list(ivf_search(emb, queries, k=5).collect())
    assert len(approx) == 50  # 10 queries x 5 results
    got = {(r.query_id, r.neighbor_id) for r in approx}
    recall = len(got & truth) / len(truth)
    assert recall > 0.1, recall  # random 64-dim data; cells are coarse


def test_ivf_assign_backends_bit_identical(views):
    """The JVM HOF map and the Arrow/numpy kernel must agree BIT-EXACTLY
    (same IEEE fold order, same lowest-cid tie-break) — the backend is a
    pure physical-plan choice."""
    from keenwa_spark.pipeline.ivf import ivf_search

    emb = views.table("embeddings")
    queries = emb.filter("vec_id < 10")
    a = sorted(map(tuple, ivf_search(emb, queries, k=5, assign_backend="sql").collect()))
    b = sorted(map(tuple, ivf_search(emb, queries, k=5, assign_backend="numpy").collect()))
    assert a == b


def test_ivf_train_empty_cell_drop(views):
    """Cells that lose all members during Lloyd drop out of the model
    (matching the SQL oracle's group-by-present-cids behavior)."""
    from keenwa_spark.pipeline.ivf import ivf_train

    emb = views.table("embeddings")
    cents = ivf_train(emb, k_cells=8, iters=2).collect()
    assert 0 < len(cents) <= 8
    assert [r.cid for r in cents] == sorted(r.cid for r in cents)


class TestMultimodalRound6:
    """Resize / frame-sample / PCM features — the remaining multimodal
    verbs from the pipeline brief, over the same Arrow-batched
    plumbing."""

    def test_resize_nearest_neighbor_exact(self, spark):
        from keenwa_spark.pipeline.multimodal import resize_images
        from keenwa_spark.pipeline.png import encode_png

        # 4x2 RGB: left half black, right half white
        px = bytes(
            ([0, 0, 0] if x < 2 else [255, 255, 255])[c]
            for y in range(2)
            for x in range(4)
            for c in range(3)
        )
        img = encode_png(4, 2, 3, px)
        df = spark.createDataFrame(
            [(1, img), (2, b"junk")], "doc_id LONG, payload BINARY"
        )
        rows = {r.doc_id: r for r in resize_images(df, 2, 1).collect()}
        assert set(rows) == {1}  # undecodable dropped
        r = rows[1]
        assert (r.src_width, r.src_height, r.width, r.height, r.channels) == (
            4, 2, 2, 1, 3,
        )
        # NN: out x=0 <- src x=0 (black), out x=1 <- src x=2 (white)
        assert bytes(r.pixels) == bytes([0, 0, 0, 255, 255, 255])

    def test_resize_upscale_replicates(self, spark):
        from keenwa_spark.pipeline.multimodal import resize_images
        from keenwa_spark.pipeline.png import encode_png

        img = encode_png(1, 1, 1, bytes([7]))
        df = spark.createDataFrame([(1, img)], "doc_id LONG, payload BINARY")
        r = resize_images(df, 3, 2).collect()[0]
        assert bytes(r.pixels) == bytes([7] * 6)

    def test_video_frames_real_y4m_decode_and_sampling(self, spark):
        import zlib

        from keenwa_spark.pipeline.multimodal import (
            explode_video_frames,
            frame_sample_plan,
        )
        from keenwa_spark.pipeline.y4m import encode_y4m

        planes = [bytes([k] * 54) for k in range(3)]  # 6x6 C420 = 54
        good = encode_y4m(6, 6, planes)
        df = spark.createDataFrame(
            [(9, good), (10, b"junk"), (11, good[:-5])],
            "doc_id LONG, payload BINARY",
        )
        frames = sorted(explode_video_frames(df).collect(), key=lambda r: r.frame_idx)
        # corrupt payloads (non-Y4M, truncated) dropped, never phantom rows
        assert {r.doc_id for r in frames} == {9}
        assert [(r.frame_idx, r.width, r.height, r.frame_bytes) for r in frames] == [
            (0, 6, 6, 54), (1, 6, 6, 54), (2, 6, 6, 54),
        ]
        assert frames[1].frame_crc == zlib.crc32(planes[1]) & 0xFFFFFFFF
        # compose with the pure-DataFrame sampler: keep every 2nd frame
        kept = frame_sample_plan(explode_video_frames(df), every_n=2).collect()
        assert sorted(r.frame_idx for r in kept) == [0, 2]

    def test_pcm_features_hand_computed(self, spark):
        import math

        from keenwa_spark.pipeline.multimodal import pcm_features

        # alternating +10/-10 as signed int8: rms 10, one crossing per step
        samples = bytes(((10 if i % 2 == 0 else -10) & 0xFF) for i in range(8))
        df = spark.createDataFrame(
            [(1, samples), (2, b"")], "doc_id LONG, payload BINARY"
        )
        rows = {r.doc_id: r for r in pcm_features(df, sample_rate=4).collect()}
        assert rows[1].n_samples == 8
        assert rows[1].duration_s == 2.0
        assert math.isclose(rows[1].rms, 10.0)
        assert rows[1].zero_crossings == 7
        assert rows[2].n_samples == 0 and rows[2].rms == 0.0


class TestMultimodalFixtureCorpus:
    """Round-7 registry evidence for the multimodal operators
    (VERDICT r06 items: multimodal had pytest-only coverage): the
    deterministic fixture corpus and its independent oracles."""

    def test_fixture_is_deterministic_and_has_near_dups(self):
        from keenwa_spark.pipeline import mm_fixtures as mm

        imgs = mm.fixture_images()
        assert len(imgs) == mm.N_BASE + mm.N_DUP
        assert imgs == mm.fixture_images()  # cached + stable
        pairs = mm.expected_ahash_pairs(3)
        # every constructed near-dup (nudged single pixel) must land
        # within hamming 3 of its base image
        pair_set = {(a, b) for a, b, _ in pairs}
        for j in range(mm.N_DUP):
            base = j + 1
            assert (base, 100 + base) in pair_set, base

    def test_registry_queries_match_constant_oracles_via_duckdb(self, spark):
        import duckdb

        from keenwa_spark.pipeline import mm_fixtures as mm
        from keenwa_spark.queries import load_all

        reg = load_all()
        con = duckdb.connect()
        for name, oracle in (
            ("pl_image_ahash_dedup", mm.ahash_pairs_oracle_sql(3)),
            ("pl_image_resize_stats", mm.resize_stats_oracle_sql(8, 8)),
            ("pl_audio_pcm_features", mm.pcm_features_oracle_sql()),
        ):
            got = sorted(tuple(r) for r in reg[name].fn(spark, "/root/testdata/sf0.001").collect())
            want = sorted(tuple(r) for r in con.execute(oracle).fetchall())
            assert got == want, name


class TestY4MCodec:
    """Pure-Python YUV4MPEG2 codec (pipeline/y4m.py) — the real video
    decode that retired the r7 stub slicer."""

    def test_roundtrip_all_colorspaces(self):
        from keenwa_spark.pipeline.y4m import decode_y4m, encode_y4m

        cases = [
            ("C420", 8, 6, 8 * 6 + 2 * (4 * 3)),
            ("C422", 6, 5, 6 * 5 + 2 * (3 * 5)),
            ("C444", 4, 3, 3 * 4 * 3),
            ("Cmono", 10, 7, 10 * 7),
            ("C420jpeg", 4, 2, 4 * 2 + 2 * (2 * 1)),
        ]
        for cs, w, h, fsize in cases:
            frames = [bytes([k % 251] * fsize) for k in range(3)]
            hdr, got = decode_y4m(encode_y4m(w, h, frames, colorspace=cs))
            assert (hdr["width"], hdr["height"], hdr["colorspace"]) == (w, h, cs)
            assert hdr["frame_size"] == fsize
            assert got == frames

    def test_zero_frames_and_default_colorspace(self):
        from keenwa_spark.pipeline.y4m import decode_y4m, encode_y4m

        hdr, frames = decode_y4m(encode_y4m(4, 2, []))
        assert frames == []
        # no C tag in the header -> the spec's C420 default
        hdr2, frames2 = decode_y4m(
            b"YUV4MPEG2 W4 H2 F30:1\nFRAME\n" + bytes(4 * 2 + 2 * (2 * 1))
        )
        assert hdr2["colorspace"] == "C420" and len(frames2) == 1

    def test_frame_params_accepted_header_extras_ignored(self):
        from keenwa_spark.pipeline.y4m import decode_y4m

        body = bytes(4 * 2 + 2 * (2 * 1))
        hdr, frames = decode_y4m(
            b"YUV4MPEG2 W4 H2 F25:1 It A4:3 Xcustom=1\nFRAME Xf=2\n" + body
        )
        assert len(frames) == 1 and frames[0] == body

    def test_rejects_malformed_streams(self):
        import pytest

        from keenwa_spark.pipeline.y4m import Y4MError, decode_y4m, encode_y4m

        good = encode_y4m(4, 2, [bytes(4 * 2 + 2 * (2 * 1))])
        for bad, why in [
            (b"JUNK" + good, "signature"),
            (b"YUV4MPEG2 W4 H2", "unterminated header"),
            (b"YUV4MPEG2 H2\nFRAME\n" + bytes(10), "missing W"),
            (b"YUV4MPEG2 W0 H2\n", "non-positive dims"),
            (b"YUV4MPEG2 W4 H2 C999\n", "unknown colorspace"),
            (b"YUV4MPEG2 W4 H2 Q9\n", "unknown tag"),
            (b"YUV4MPEG2 W3 H3\nFRAME\n" + bytes(99), "odd dims for C420"),
            (good[:-3], "truncated frame"),
            (good + b"xx", "trailing garbage"),
            (good.replace(b"FRAME\n", b"FRAMX\n"), "bad frame marker"),
        ]:
            with pytest.raises(Y4MError):
                decode_y4m(bad)
        with pytest.raises(Y4MError):
            encode_y4m(4, 2, [bytes(3)])  # wrong frame size
        with pytest.raises(Y4MError):
            encode_y4m(5, 3, [bytes(99)], colorspace="C420")  # odd dims

    def test_video_fixture_oracle_matches_registry_query(self, spark):
        import duckdb

        from keenwa_spark.pipeline import mm_fixtures as mm
        from keenwa_spark.queries import load_all

        reg = load_all()
        con = duckdb.connect()
        for name, oracle in (
            ("pl_video_frames", mm.video_frames_oracle_sql()),
            ("pl_video_frame_sample", mm.video_frames_oracle_sql(every_n=2)),
        ):
            got = sorted(
                tuple(r)
                for r in reg[name].fn(spark, "/root/testdata/sf0.001").collect()
            )
            want = sorted(tuple(r) for r in con.execute(oracle).fetchall())
            assert got == want and len(got) > 0, name


def _cc_reference(pairs, max_rounds=25):
    """The r13 shape of the distributed connected-components loop: lazy
    checkpoints and a collect()ed label sum per round, with no
    observation fused into the round's job. A pair with a null
    endpoint is not an edge."""
    from pyspark.sql import functions as F

    pairs = pairs.dropna(subset=["id_a", "id_b"])
    edges = (
        pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
        .union(pairs.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst")))
        .union(pairs.select(F.col("id_a").alias("src"), F.col("id_a").alias("dst")))
        .union(pairs.select(F.col("id_b").alias("src"), F.col("id_b").alias("dst")))
        .distinct()
        .localCheckpoint(eager=False)
    )
    labels = (
        edges.groupBy(F.col("src").alias("node"))
        .agg(F.min("dst").alias("label"))
        .localCheckpoint(eager=False)
    )

    def label_sum(frame):
        return frame.agg(
            F.sum(F.col("label").cast("decimal(38,0)")).alias("s")
        ).collect()[0].s

    prev = label_sum(labels)
    for _ in range(max_rounds):
        hopped = (
            edges.join(labels, edges.dst == labels.node)
            .groupBy(F.col("src").alias("node"))
            .agg(F.min("label").alias("label"))
        )
        jumped = (
            hopped.alias("a")
            .join(
                hopped.select(
                    F.col("node").alias("jnode"), F.col("label").alias("jlabel")
                ),
                F.col("a.label") == F.col("jnode"),
                "left",
            )
            .select(
                F.col("a.node").alias("node"),
                F.least(
                    F.col("a.label"), F.coalesce("jlabel", "a.label")
                ).alias("label"),
            )
        )
        labels = jumped.localCheckpoint(eager=False)
        new = label_sum(labels)
        if new == prev:
            return labels.select(
                F.col("node").alias("doc_id"), F.col("label").alias("component")
            )
        prev = new
    raise RuntimeError("no converge")


def _cc_rows_and_jobs(spark, group, cc, pairs):
    """The frame ``cc(pairs)``, its sorted (doc_id, component) rows and
    the number of Spark jobs that building and collecting it ran."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        comp = cc(pairs)
        rows = sorted((r.doc_id, r.component) for r in comp.collect())
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return comp, rows, len(sc.statusTracker().getJobIdsForGroup(group))


#: a 31-node chain (several hop+jump rounds), a 3-node path and a self-pair
_CC_CHAIN = [(i, i + 1) for i in range(1, 31)] + [(40, 41), (41, 42), (50, 50)]


def test_connected_components_observe_fusion(spark, monkeypatch):
    """r14: the distributed loop's convergence sum rides the round's
    checkpoint job as an observed metric instead of a separate
    collect-aggregate action. Pin (a) multi-round correctness on a
    31-node chain (hop+jump needs several rounds, so the fused sum
    gates a real loop, not just init) and (b) that the fused shape runs
    strictly fewer jobs than the collect-sum reference on the same
    input. The loop is forced: the chain is small enough for the
    driver path."""
    from keenwa_spark.pipeline import clustering

    monkeypatch.setattr(clustering, "SMALL_GRAPH_MAX_PAIRS", 0)
    pairs = spark.createDataFrame(_CC_CHAIN, "id_a LONG, id_b LONG").localCheckpoint(
        eager=True
    )
    _, got_ref, jobs_ref = _cc_rows_and_jobs(spark, "cc_ref_r13", _cc_reference, pairs)
    _, got_new, jobs_new = _cc_rows_and_jobs(
        spark, "cc_new_r14", clustering.connected_components, pairs
    )

    # chain 1..31 all collapse to 1; 40-42 to 40; self-pair 50 stays 50
    assert got_new == got_ref
    assert {c for _, c in got_new} == {1, 40, 50}
    assert jobs_new < jobs_ref, (jobs_new, jobs_ref)


_CC_CASES = {
    "chain": _CC_CHAIN,
    "reversed": [(b, a) for a, b in _CC_CHAIN],
    "duplicates": _CC_CHAIN + _CC_CHAIN + [(b, a) for a, b in _CC_CHAIN[:5]],
    "self_pair": [(7, 7)],
    "empty": [],
    "null_endpoint": [(1, 2), (2, None), (None, 3), (None, None), (5, 6)],
}


@pytest.mark.parametrize("case", sorted(_CC_CASES))
def test_connected_components_both_paths_match_reference(spark, monkeypatch, case):
    """Both connected-components paths give the reference's min-id
    labels: the driver union-find (the default for a graph this small)
    and the distributed hop/jump loop (forced with
    SMALL_GRAPH_MAX_PAIRS = 0). A null endpoint is not an edge on
    either path. The path taken shows in a consumer's executed plan:
    the driver path's labels scan as a LocalTableScan. On every
    non-empty graph the driver path runs fewer jobs than the loop,
    which runs fewer than the collect-sum reference. An empty graph has
    at most 0 pairs, so it is solved on the driver at either threshold,
    and its empty labels fold the consumer's join away."""
    from pyspark.sql import functions as F

    from keenwa_spark.pipeline import clustering
    from keenwa_spark.plans import executed_plan_text

    pairs = spark.createDataFrame(
        _CC_CASES[case], "id_a LONG, id_b LONG"
    ).localCheckpoint(eager=True)
    ids = spark.range(0, 60).select(F.col("id").alias("doc_id"))

    def consumer_plan(comp):
        joined = ids.join(comp, "doc_id", "left")
        joined.collect()
        return executed_plan_text(joined)

    _, got_ref, jobs_ref = _cc_rows_and_jobs(
        spark, f"cc_ref_{case}", _cc_reference, pairs
    )
    small, got_small, jobs_small = _cc_rows_and_jobs(
        spark, f"cc_small_{case}", clustering.connected_components, pairs
    )
    monkeypatch.setattr(clustering, "SMALL_GRAPH_MAX_PAIRS", 0)
    dist, got_dist, jobs_dist = _cc_rows_and_jobs(
        spark, f"cc_dist_{case}", clustering.connected_components, pairs
    )

    assert got_small == got_ref
    assert got_dist == got_ref
    assert all(d is not None for d, _ in got_ref)
    if case == "empty":
        # the empty labels fold the consumer's join away entirely
        assert got_ref == []
        return
    assert "LocalTableScan" in consumer_plan(small)
    assert "LocalTableScan" not in consumer_plan(dist)
    assert jobs_small < jobs_dist < jobs_ref, (jobs_small, jobs_dist, jobs_ref)


def test_min_id_components_matches_bfs():
    """The driver solver against a brute-force BFS on seeded random
    graphs (sparse and dense, self-pairs and duplicate edges included),
    plus a 10k-node chain in shuffled id order — the largest diameter
    for a given size."""
    from collections import defaultdict, deque

    import numpy as np

    from keenwa_spark.pipeline.clustering import min_id_components

    def bfs_components(a, b):
        adj = defaultdict(set)
        for x, y in zip(a.tolist(), b.tolist()):
            adj[x].add(y)
            adj[y].add(x)
        comp = {}
        for start in sorted(adj):
            if start in comp:
                continue
            comp[start] = start
            queue = deque([start])
            while queue:
                for nb in adj[queue.popleft()]:
                    if nb not in comp:
                        comp[nb] = start
                        queue.append(nb)
        return comp

    rng = np.random.default_rng(4)
    graphs = []
    for n_nodes, n_edges in ((1, 1), (5, 3), (50, 30), (200, 150), (1000, 2000), (10**9, 500)):
        graphs.append(
            (
                rng.integers(0, n_nodes, n_edges),
                rng.integers(0, n_nodes, n_edges),
            )
        )
    chain = rng.permutation(10_000).astype(np.int64)
    graphs.append((chain[:-1], chain[1:]))
    for a, b in graphs:
        nodes, component = min_id_components(a, b)
        want = bfs_components(a, b)
        assert nodes.tolist() == sorted(want)
        assert dict(zip(nodes.tolist(), component.tolist())) == want
    assert set(component.tolist()) == {0}


def test_components_join_is_not_hinted(views):
    """The corpus-curation components join carries no broadcast hint:
    at sf0.001 the driver path's LocalRelation is broadcast by the
    planner on its own size (one BroadcastHashJoin, no SortMergeJoin),
    while with autoBroadcastJoinThreshold = -1 the same join falls back
    to a sort-merge join and keeps its result."""
    from keenwa_spark.plans import summarize
    from keenwa_spark.queries import load_all
    from tests.conftest import SF_DIR

    fn = load_all()["pl_corpus_curation"].fn
    df = fn(views, SF_DIR)
    want = sorted(df.collect())
    s = summarize(df)
    assert (s.broadcast_joins, s.sort_merge_joins) == (1, 0)
    key = "spark.sql.autoBroadcastJoinThreshold"
    prev = views.conf.get(key)
    views.conf.set(key, "-1")
    try:
        off = fn(views, SF_DIR)
        assert sorted(off.collect()) == want
        s = summarize(off)
        assert (s.broadcast_joins, s.sort_merge_joins) == (0, 1)
    finally:
        views.conf.set(key, prev)


def test_lsh_bucket_skew_observed_on_viral_input(spark):
    """r14 skew instrumentation (VERDICT r13 item 8): the bucket-stats
    diagnostics measure max-bucket-size BEFORE the cap filter over the
    SAME bucket population as the pair generators (shared builder), so
    a viral bucket is visible in the metric even though its pairs are
    (correctly) dropped."""
    from pyspark.sql import functions as F

    from keenwa_spark.pipeline.dedup import minhash_bucket_stats, minhash_lsh_pairs
    from keenwa_spark.pipeline.multimodal import (
        ahash_bucket_stats,
        ahash_near_dup_pairs,
    )

    viral = "the same viral boilerplate footer text repeated everywhere online"
    docs = spark.createDataFrame(
        [(i, viral) for i in range(1, 31)]
        + [(100, "one unique document about spark shuffles"),
           (101, "another unique document about bloom filters")],
        "doc_id LONG, text STRING",
    )
    pairs = minhash_lsh_pairs(docs, max_bucket=10)
    got_ids = {r.id_a for r in pairs.collect()} | {r.id_b for r in pairs.collect()}
    assert not (got_ids & set(range(1, 31)))  # viral bucket dropped
    stats = minhash_bucket_stats(docs).collect()[0]
    assert stats.max_bucket_seen == 30  # the dropped viral bucket IS seen
    assert stats.n_buckets >= 1
    assert stats.n_over_default_cap == 0

    fp = spark.createDataFrame(
        [(i, 0xDEADBEEF) for i in range(1, 21)]
        + [(200, 0x0F0F0F0F0F0F0F0F)],
        "doc_id LONG, ahash LONG",
    )
    ah_pairs = ahash_near_dup_pairs(fp, max_bucket=5)
    assert ah_pairs.where(F.col("id_a") < 21).count() == 0
    ah_stats = ahash_bucket_stats(fp).collect()[0]
    assert ah_stats.max_bucket_seen == 20
