"""applyInPandasWithState operator: streaming state must equal the
batch aggregate after draining the stream."""

from __future__ import annotations

import os
import shutil

import pytest

SF_DIR = os.environ.get("SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="module")
def event_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("stateful_stream")
    shutil.copy(os.path.join(SF_DIR, "events.parquet"), d / "part-000.parquet")
    return str(d)


def test_user_tracker_matches_batch(views, event_dir, tmp_path_factory):
    from keenwa_spark.streaming import read_event_stream
    from keenwa_spark.streaming.stateful import user_activity_tracker

    stream = user_activity_tracker(read_event_stream(views, event_dir))
    assert stream.isStreaming
    ckpt = str(tmp_path_factory.mktemp("ckpt"))
    q = (
        stream.writeStream.format("memory")
        .queryName("user_state")
        .outputMode("update")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        r.user_id: (r.n_events, round(r.total_value, 6), r.n_purchases)
        for r in views.table("user_state").collect()
    }
    batch = views.sql(
        """
        SELECT user_id, COUNT(*) AS n, ROUND(SUM(value), 6) AS tv,
               COUNT(CASE WHEN event_type = 'purchase' THEN 1 END) AS np
        FROM events GROUP BY user_id
        """
    ).collect()
    assert len(got) == len(batch) > 0
    for r in batch:
        assert got[r.user_id] == (r.n, r.tv, r.np)


def test_state_carries_across_batches(views, tmp_path_factory):
    """Two files arriving in one AvailableNow run = two micro-batches;
    the state store must accumulate across them (per-user totals equal
    the union, not the last batch)."""
    import pyspark.sql.functions as F

    from keenwa_spark.streaming import read_event_stream
    from keenwa_spark.streaming.stateful import user_activity_tracker

    d = tmp_path_factory.mktemp("two_batches")
    src = views.table("events")
    for i, half in enumerate(
        [src.filter("event_id % 2 = 0"), src.filter("event_id % 2 = 1")]
    ):
        tmp = str(d / f"w{i}")
        half.coalesce(1).write.mode("overwrite").parquet(tmp)
        part = [f for f in os.listdir(tmp) if f.endswith(".parquet")][0]
        os.makedirs(d / "in", exist_ok=True)
        shutil.copy(os.path.join(tmp, part), d / "in" / f"f{i}.parquet")

    stream = user_activity_tracker(read_event_stream(views, str(d / "in")))
    ckpt = str(tmp_path_factory.mktemp("ckpt2"))
    q = (
        stream.writeStream.format("memory")
        .queryName("user_state2")
        .outputMode("update")
        .option("checkpointLocation", ckpt)
        .option("maxFilesPerTrigger", 1)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    # update-mode memory sink appends one snapshot per micro-batch;
    # keep the LAST (= max n_events) per user
    out = views.sql(
        """
        SELECT user_id, n_events FROM (
          SELECT *, ROW_NUMBER() OVER (
            PARTITION BY user_id ORDER BY n_events DESC
          ) AS rn FROM user_state2
        ) WHERE rn = 1
        """
    ).collect()
    got = {r.user_id: r.n_events for r in out}
    expect = {
        r.user_id: r.n
        for r in views.sql(
            "SELECT user_id, COUNT(*) AS n FROM events GROUP BY user_id"
        ).collect()
    }
    assert got == expect


def test_stream_anomaly_multi_batch_equals_batch_expanding_window(
    views, tmp_path_factory
):
    """Cross-batch exactness: the anomaly stream fed TWO time-ordered
    micro-batches must equal the batch expanding-window twin
    bit-for-bit — the integer state makes batch boundaries invisible."""
    from pyspark.sql import functions as F

    from keenwa_spark.streaming.anomaly import stream_zscore_anomaly
    from keenwa_spark.streaming.events import read_event_stream, run_available_now

    base = tmp_path_factory.mktemp("anomaly_stream")
    src_dir = str(base / "src")
    events = views.table("events")
    # time-ordered arrival: first half of January, then the rest
    # (expanding state needs event-time-ordered batches per key)
    early = events.where("ts <  TIMESTAMP '2024-01-16 00:00:00'")
    late = events.where("ts >= TIMESTAMP '2024-01-16 00:00:00'")
    early.coalesce(1).write.parquet(src_dir, mode="overwrite")
    import time

    time.sleep(1.1)  # distinct mtimes: file stream orders by mod time
    late.coalesce(1).write.mode("append").parquet(src_dir)

    stream = read_event_stream(views, src_dir, maxFilesPerTrigger=1)
    got = {
        r["event_id"]: (r["n_hist"], r["z"], r["is_anomaly"])
        for r in run_available_now(
            stream_zscore_anomaly(stream), output_mode="update"
        ).collect()
    }

    twin = views.sql(
        """
        WITH scored AS (
          SELECT user_id, event_id, value,
                 COUNT(value) OVER w AS n,
                 CAST(SUM(CAST(value AS DECIMAL(18,6))) OVER w AS DOUBLE) AS s1,
                 CAST(SUM(CAST(value AS DECIMAL(18,6))
                          * CAST(value AS DECIMAL(18,6))) OVER w AS DOUBLE) AS s2
          FROM events
          WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        )
        SELECT event_id, CAST(n AS BIGINT) AS n_hist,
               CASE WHEN n >= 5 AND ((s2 - s1 * s1 / n) / (n - 1)) > 0
                    THEN (value - s1 / n)
                         / sqrt((s2 - s1 * s1 / n) / (n - 1))
               END AS z
        FROM scored
        """
    ).collect()
    assert len(got) == len(twin) > 0
    mismatches = [
        (r["event_id"], got[r["event_id"]], (r["n_hist"], r["z"]))
        for r in twin
        if got[r["event_id"]][0] != r["n_hist"]
        or got[r["event_id"]][1] != r["z"]  # exact, incl. None
    ]
    assert mismatches == [], mismatches[:5]


def test_stream_anomaly_validates_min_obs(views):
    from keenwa_spark.streaming.anomaly import stream_zscore_anomaly

    with pytest.raises(ValueError):
        stream_zscore_anomaly(views.table("events"), min_obs=1)


def test_stream_anomaly_group_spanning_arrow_chunks(views):
    """A key whose micro-batch rows span multiple Arrow chunks must
    still be scored in global (ts, event_id) order — the group is
    concatenated and sorted ONCE, never per-chunk (per-chunk sorting
    silently folded events out of order for >maxRecordsPerBatch
    groups)."""
    import pandas as pd

    from keenwa_spark.streaming.anomaly import _score_and_fold

    class FakeState:
        exists = False

        def update(self, v):
            self.value = v

    # two chunks, deliberately interleaved in time across the boundary
    c1 = pd.DataFrame({"event_id": [4, 1], "ts": [40, 10],
                       "value": [10.0, 10.0]})
    c2 = pd.DataFrame({"event_id": [3, 2, 5, 6, 7, 8],
                       "ts": [30, 20, 50, 60, 70, 80],
                       "value": [10.0, 10.0, 10.0, 10.0, 10.0, 100.0]})
    [out] = list(_score_and_fold((7,), iter([c1, c2]), FakeState(),
                                 min_obs=5, z_threshold=3.0))
    by_id = dict(zip(out["event_id"], out["n_hist"]))
    # n_hist must equal the number of STRICTLY EARLIER events — only
    # true if the chunks were merged before scoring
    assert by_id == {1: 0, 2: 1, 3: 2, 4: 3, 5: 4, 6: 5, 7: 6, 8: 7}


def test_stream_asof_carries_state_across_batches(views, tmp_path_factory):
    """A purchase in batch 2 must match a view from batch 1: the
    two-long per-user state carries the last view across micro-batch
    boundaries, and the result equals the batch as-of twin."""
    from keenwa_spark.streaming.asof import asof_stream
    from keenwa_spark.streaming.events import read_event_stream, run_available_now

    base = tmp_path_factory.mktemp("asof_stream")
    src_dir = str(base / "src")
    events = views.table("events")
    early = events.where("ts <  TIMESTAMP '2024-01-16 00:00:00'")
    late = events.where("ts >= TIMESTAMP '2024-01-16 00:00:00'")
    early.coalesce(1).write.parquet(src_dir, mode="overwrite")
    import time

    time.sleep(1.1)
    late.coalesce(1).write.mode("append").parquet(src_dir)

    got = {
        r["purchase_id"]: r["view_id"]
        for r in run_available_now(
            asof_stream(read_event_stream(views, src_dir, maxFilesPerTrigger=1)),
            output_mode="update",
        ).collect()
    }
    from pyspark.sql import functions as F

    from keenwa_spark.operators.asof import asof_join

    purchases = events.where("event_type = 'purchase'")
    view_side = events.where("event_type = 'view'").select(
        "user_id", "ts", F.col("event_id").alias("view_id")
    )
    twin = {
        r["event_id"]: r["view_id_right"]
        for r in asof_join(
            purchases, view_side, on="user_id", left_ts="ts", right_ts="ts"
        ).collect()
    }
    assert got == twin and len(got) > 0
    # at least one purchase whose matching view arrived in batch 1
    early_views = {
        r["event_id"] for r in early.where("event_type='view'").collect()
    }
    late_purchases = {
        r["event_id"] for r in late.where("event_type='purchase'").collect()
    }
    assert any(
        pid in late_purchases and vid in early_views
        for pid, vid in got.items()
        if vid is not None
    )


class TestScratchReclaim:
    """ADVICE r09: reclaiming a scratch generation must be diagnosable —
    a RuntimeWarning naming the KEENWA_SCRATCH_KEEP contract at reclaim
    time plus a tombstone file in the emptied dir (the lazy read error
    alone is a bare missing-path)."""

    def test_reclaim_warns_and_tombstones(self, monkeypatch):
        import os
        import warnings

        import keenwa_spark.session as sess

        monkeypatch.setattr(sess, "SCRATCH_KEEP", 2)
        monkeypatch.setattr(sess, "_SCRATCH_LIVE", {})
        with warnings.catch_warnings(record=True) as caught:
            warnings.simplefilter("always")
            dirs = [sess.session_scratch_dir("t_reclaim_") for _ in range(3)]
        assert len(caught) == 1
        assert caught[0].category is RuntimeWarning
        assert "KEENWA_SCRATCH_KEEP" in str(caught[0].message)
        assert dirs[0] in str(caught[0].message)
        # oldest generation emptied but tombstoned; newer two intact
        assert os.listdir(dirs[0]) == ["RECLAIMED_RAISE_KEENWA_SCRATCH_KEEP"]
        assert os.path.isdir(dirs[1]) and os.path.isdir(dirs[2])


class TestKillRestartRecovery:
    """Failure-recovery pin (VERDICT r11 item 4): a streaming query
    killed after a random micro-batch and restarted from the same
    checkpoint + parquet file sink must produce EXACTLY the batch/
    DuckDB-oracle result — windowed aggregation state, dedup state,
    and stream-stream join buffers all recover; the sink manifest
    makes a cancelled half-written batch invisible. Wide sweeps:
    tools/fuzz.py stream:ck."""

    def test_kill_restart_cases_match_oracle_exactly(self, spark):
        import duckdb

        from keenwa_spark.stream_fuzz import run_stream_fuzz

        duck = duckdb.connect()
        mis = run_stream_fuzz(spark, duck, seed=41, n=8, only_prefix="ck")
        assert mis == [], mis[:3]

    def test_multi_kill_restart_cases_match_oracle_exactly(self, spark):
        """Two consecutive kill/resume cycles (VERDICT r12 item 5):
        the second kill lands during the first resume (or stages a
        second clean-boundary crash), optionally under a SECOND
        shuffle-partition resize — state must still recover to exact
        oracle equality. Wide sweeps: tools/fuzz.py
        stream:ck2."""
        import duckdb

        from keenwa_spark.stream_fuzz import run_stream_fuzz

        duck = duckdb.connect()
        mis = run_stream_fuzz(spark, duck, seed=43, n=6, only_prefix="ck2")
        assert mis == [], mis[:3]

    def test_every_subshape_and_kill_mode_is_exercised(self):
        from keenwa_spark.stream_fuzz import StreamGen

        import re

        gen = StreamGen(41)
        seen = set()
        rescales = set()
        second = set()
        depths = set()
        for _ in range(900):
            c = gen.case()
            if c.kind.startswith("ck"):
                shape = re.sub(r"^ck\d?", "ck", c.kind).split("_")[0]
                k, depth = c.params["restart"], 1
                seen.add((shape, k["mode"]))
                rescales.add(k["rescale"])
                while k.get("second"):
                    k = k["second"]
                    depth += 1
                    second.add((k["mode"], k["rescale"]))
                depths.add(depth)
        assert seen == {(k, m) for k in ("ckwin", "ckdedup", "cksjoin")
                        for m in ("staged", "stop")}
        # the cluster-resize axis (resume under different
        # shuffle.partitions) must be drawn both ways
        assert rescales == {True, False}
        # later kills cover both modes x both resize choices, and the
        # generator draws single, double AND triple kill chains
        assert second == {(m, r) for m in ("staged", "stop")
                          for r in (True, False)}
        assert depths == {1, 2, 3}
