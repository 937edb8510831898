"""Seeded fuzzer for the STREAMING operators (round 11, VERDICT r10
item 3) — the twelfth randomized axis.

The st_* registry rows prove each streaming operator once, on one
micro-batch layout. This axis randomizes the part streaming semantics
actually hinge on: MICRO-BATCH BOUNDARIES and DELIVERY. Every case
generates a small random event set, splits it into 1..5 parquet files
(each file = one micro-batch under maxFilesPerTrigger=1 +
Trigger.AvailableNow, ordered by mtime+name), optionally REPLAYS whole
batches (at-least-once redelivery), shuffles rows so event time is
heavily out of order across batches, and then asserts

    stream result == batch twin == independent DuckDB oracle.

Families:
- ``win``     windowed counts/sums (streaming/events.windowed_type_counts)
              under random window sizes, splits, duplicate rows, NULL
              values and NULL event times (dropped by contract) — the
              watermark delay exceeds the event-time spread, so split
              placement must NOT change the result.
- ``ohlc``    streaming OHLC bars (events.ohlc_stream): min_by/max_by
              picked rows must be split-invariant.
- ``sess``    session_window stats (events.session_stats_stream) under
              random gaps — the oracle is the batch gaps-and-islands
              reconstruction (a structurally different algorithm).
- ``dedup``   dropDuplicatesWithinWatermark under injected duplicate
              rows AND whole-file replays — the at-least-once axis:
              redelivered batches must not change the output.
- ``sjoin``   stream-STREAM interval join (events.interval_join_streams):
              the row set is split into two independent file streams
              with INDEPENDENT random batch layouts, so join partners
              routinely arrive batches apart and out of order — the
              buffered-state path. The generous watermark keeps both
              sides' state alive to the end, so the result must equal
              the batch inequality join exactly (DuckDB oracle).
- ``ck*``     KILL-RESTART (failure recovery, VERDICT r11 item 4):
              the query writes to a fault-tolerant parquet file sink,
              is killed after a random micro-batch — either a clean
              crash at a batch boundary (``staged``: only a prefix of
              the input files exists for phase 1) or an abrupt
              mid-run ``stop()`` that can cancel a half-written sink
              batch — and a NEW query object resumes from the same
              checkpoint + sink. The manifest-read final output must
              equal the batch/DuckDB oracle exactly (exactly-once
              resume; restart-after-completion must re-emit nothing).
              Sub-shapes: ``ckwin`` windowed counts with time-ordered
              batches (no row ever late, so the append oracle is
              EXACT: all windows ending <= final watermark, straddling
              windows aggregating phase-1 rows out of recovered
              state), ``ckdedup`` duplicates + whole-batch
              redeliveries across the failure point, ``cksjoin``
              stream-stream interval join with buffered state spanning
              the restart. Half the cases also RESUME UNDER A
              DIFFERENT spark.sql.shuffle.partitions (a cluster resize
              between crash and restart) — stateful operators must
              keep the checkpointed state partitioning, so the result
              is invariant to the drift. ``ck2*``/``ck3*`` (MULTI-KILL,
              VERDICT r12 item 5) run TWO or THREE consecutive
              kill/resume cycles over the same sub-shapes: each later
              kill lands during the previous resume (or stages another
              clean-boundary crash / restart-after-completion), with
              an independent shuffle-partition resize per cycle (+3,
              +5, +7) — same exact oracle.
- ``late``    windowed counts in APPEND mode with a SMALL watermark
              delay and deliberately late batches. Spark's CONTRACT is
              one-sided: data less than ``delay`` late is never
              dropped, data later than that MAY or MAY NOT be (the
              filter's watermark lags batch planning by an
              unspecified amount — probed empirically this round: the
              same layout can keep or drop a late row depending on
              when event-time stats commit). The oracle is therefore
              a BOUNDS law, not an equality: per (window, type),
              guaranteed-kept rows (never late under the most
              aggressive possible watermark sequence) give a lower
              bound and all rows an upper bound on n/sum (values
              generated positive so sums are monotone); the emitted
              window set must lie between the two induced sets; keys
              must be unique (append mode may never emit a finalized
              window twice); and when the bounds coincide the check
              is exact. The final watermark IS deterministic
              (global max ts - delay, committed by the trailing
              empty batch), so emission eligibility is exact.

All timestamps travel as BIGINT epoch seconds end to end
(timestamp_seconds in, unix_seconds out); sums are BIGINT — no float
or timezone compare traps. In the late family, event times are drawn
with ``ts % w != delay % w`` so no realizable watermark (always some
``ts - delay``) ever equals a window boundary (always a multiple of
``w``) — no boundary-tie ambiguity at Spark's eviction-at-equality
edge (ADVICE r11). Deterministic by seed. Used by tools/fuzz.py stream (wide
sweeps) and tests/test_fuzz.py (pinned-seed corpus).
"""

from __future__ import annotations

import os
import random
import re
import shutil
import tempfile
import uuid
from dataclasses import dataclass


@dataclass
class StreamCase:
    kind: str
    rows: list[tuple]          # (event_id, user_id, event_type, ts_sec|None, value|None)
    batches: list[list[int]]   # row-index lists, one per micro-batch (replays repeat)
    params: dict
    oracle_sql: str
    #: second independent stream's batch layout (stream-stream joins)
    batches2: "list[list[int]] | None" = None


def _values_sql(rows) -> str:
    """DuckDB VALUES relation e(event_id, user_id, event_type, ts, value)."""
    vals = ", ".join(
        "(" + ", ".join(
            "NULL" if v is None else (f"'{v}'" if isinstance(v, str) else str(v))
            for v in row
        ) + ")"
        for row in rows
    )
    return (
        "(SELECT CAST(event_id AS VARCHAR) AS event_id, "
        "CAST(user_id AS BIGINT) AS user_id, "
        "CAST(event_type AS VARCHAR) AS event_type, "
        "CAST(ts AS BIGINT) AS ts, CAST(value AS BIGINT) AS value "
        f"FROM (VALUES {vals}) AS _v(event_id, user_id, event_type, ts, value))"
    )


class StreamGen:
    """Seeded generator: one StreamCase per call."""

    def __init__(self, seed: int):
        self.rng = random.Random(seed)

    # -- raw material ---------------------------------------------------
    def _rows(self, n: int, null_ts_p: float = 0.0, null_val_p: float = 0.15,
              dup_p: float = 0.0, spread: int = 14000) -> list[tuple]:
        rng = self.rng
        rows = []
        for i in range(n):
            ts = None if rng.random() < null_ts_p else rng.randint(1, spread)
            val = None if rng.random() < null_val_p else rng.randint(-50, 50)
            rows.append((f"e{i:03d}", rng.randint(0, 3),
                         rng.choice(["a", "b", "c"]), ts, val))
        # exact duplicate rows = redeliveries of the same event
        for i in range(n):
            if rng.random() < dup_p:
                rows.append(rows[i])
        return rows

    def _split(self, n_rows: int, max_batches: int = 5) -> list[list[int]]:
        rng = self.rng
        order = list(range(n_rows))
        rng.shuffle(order)  # event time heavily out of order across batches
        k = rng.randint(1, max_batches)
        cuts = sorted(rng.sample(range(1, n_rows), min(k - 1, n_rows - 1))) if n_rows > 1 else []
        batches, prev = [], 0
        for c in [*cuts, n_rows]:
            batches.append(order[prev:c])
            prev = c
        return [b for b in batches if b]

    # -- families --------------------------------------------------------
    def case(self) -> StreamCase:
        return self.rng.choice(
            [self._win, self._ohlc, self._sess, self._dedup, self._late,
             self._sjoin, self._restart, self._multikill]
        )()

    def _kill_params(self, n_batches: int, multi: bool = False) -> dict:
        """Random failure point + kill mode (VERDICT r11 item 4).

        ``staged``: phase 1 sees only the first ``point`` input files,
        drains to completion (a crash at a micro-batch boundary), then
        the rest of the files land and a NEW query resumes from the
        same checkpoint + sink. ``stop``: all files present, the query
        is stopped mid-run after ~point progress reports (may cancel a
        half-written sink batch — the manifest must exclude it), then
        resumed. point == n_batches exercises restart-after-completion
        (the resume must not re-emit anything).

        ``multi`` (VERDICT r12 item 5) adds one or two MORE kills, each
        landing during the previous resume — mode/point/rescale drawn
        independently per kill (a staged point never precedes an
        earlier staged point, so the file timeline stays monotone);
        every rescale resizes the "cluster" AGAIN relative to the
        last. Kills chain via nested ``second`` dicts."""
        rng = self.rng
        n_kills = (1 if not multi else rng.choice([2, 2, 3]))
        chain: list[dict] = []
        prev_staged = 1
        for _ in range(n_kills):
            mode = rng.choice(["staged", "stop"])
            point = (rng.randint(prev_staged, n_batches) if mode == "staged"
                     else rng.randint(1, n_batches))
            if mode == "staged":
                prev_staged = point
            # restart under a DIFFERENT session shuffle-partition
            # count (a cluster resize between crash and resume):
            # stateful operators must keep the CHECKPOINTED state
            # partitioning, so results are invariant to the drift
            chain.append({"mode": mode, "point": point,
                          "rescale": rng.random() < 0.5})
        for i in range(len(chain) - 2, -1, -1):
            chain[i]["second"] = chain[i + 1]
        return chain[0]

    def _restart(self) -> StreamCase:
        return self.rng.choice(
            [self._ckwin, self._ckdedup, self._cksjoin]
        )()

    def _multikill(self) -> StreamCase:
        """Two or three consecutive kill/resume cycles over a
        kill-restart case (VERDICT r12 item 5): each later kill can
        land DURING the previous resume (stop mode), or stage another
        clean-boundary crash, and can resize the shuffle-partition
        count again. Kind prefix ``ck2``/``ck3`` by kill count, for
        dedicated sweeps."""
        base = self._restart()
        n_b = max(len(base.batches), len(base.batches2 or []))
        k = self._kill_params(n_b, multi=True)
        base.params["restart"] = k
        depth = 1
        while k.get("second"):
            depth += 1
            k = k["second"]
        base.kind = f"ck{depth}" + base.kind.removeprefix("ck")
        return base

    def _ckwin(self) -> StreamCase:
        """Kill-restart windowed counts with an EXACT append-mode
        oracle: rows are time-sorted ACROSS batches (shuffled only
        within a batch), so no row is ever late under any watermark
        sequence, and the emitted set is exactly {windows with end <=
        final_wm} — straddling windows force the restarted query to
        aggregate phase-1 rows out of recovered state. ts is drawn
        with ts % w != delay % w so the end <= final_wm cutoff never
        ties (same tie-freedom law as the late family)."""
        rng = self.rng
        w = rng.choice([700, 1100, 1900])
        delay = rng.choice([501, 1001, 2003])
        n = rng.randint(10, 28)
        tss = []
        for _ in range(n):
            ts = rng.randint(1, 12000)
            while ts % w == delay % w:
                ts = rng.randint(1, 12000)
            tss.append(ts)
        tss.sort()
        rows = [(f"e{i:03d}", rng.randint(0, 3), rng.choice(["a", "b", "c"]),
                 tss[i], None if rng.random() < 0.15 else rng.randint(-50, 50))
                for i in range(n)]
        # sequential (time-ordered) split, disorder only within a batch
        k = rng.randint(2, 5)
        cuts = sorted(rng.sample(range(1, n), min(k - 1, n - 1)))
        batches, prev = [], 0
        for c in [*cuts, n]:
            b = list(range(prev, c))
            rng.shuffle(b)
            batches.append(b)
            prev = c
        final_wm = max(tss) - delay
        oracle = (
            f"WITH e AS (SELECT * FROM {_values_sql(rows)}) "
            f"SELECT (ts // {w}) * {w} AS ws, event_type, "
            "CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(value) AS BIGINT) AS s "
            f"FROM e WHERE (ts // {w}) * {w} + {w} <= {final_wm} "
            "GROUP BY 1, 2"
        )
        return StreamCase(
            f"ckwin_w{w}_d{delay}", rows, batches,
            {"window": w, "delay": delay,
             "restart": self._kill_params(len(batches))},
            oracle,
        )

    def _ckdedup(self) -> StreamCase:
        """Kill-restart dropDuplicatesWithinWatermark: duplicate rows
        and whole-batch redeliveries that may land on EITHER side of
        the failure point — the recovered dedup state must still drop
        them (exactly-once output)."""
        rng = self.rng
        rows = self._rows(rng.randint(6, 20), dup_p=0.4)
        batches = self._split(len(rows))
        for _ in range(rng.randint(0, 2)):
            batches.append(list(rng.choice(batches)))
        oracle = (
            f"SELECT DISTINCT event_id, user_id, event_type, ts, value "
            f"FROM {_values_sql(rows)}"
        )
        return StreamCase(
            f"ckdedup_b{len(batches)}", rows, batches,
            {"restart": self._kill_params(len(batches))}, oracle,
        )

    def _cksjoin(self) -> StreamCase:
        """Kill-restart stream-STREAM interval join: both sides'
        buffered join state must survive the restart — partners that
        arrive in phase 2 must still join rows buffered in phase 1."""
        base = self._sjoin()
        n_b = max(len(base.batches), len(base.batches2 or []))
        return StreamCase(
            "cksjoin_" + base.kind.removeprefix("sjoin_"),
            base.rows, base.batches,
            {**base.params, "restart": self._kill_params(n_b)},
            base.oracle_sql, batches2=base.batches2,
        )

    def _win(self) -> StreamCase:
        rng = self.rng
        w = rng.choice([700, 1100, 1900, 3600])
        rows = self._rows(rng.randint(6, 28), null_ts_p=0.1, dup_p=0.2)
        batches = self._split(len(rows))
        oracle = (
            f"WITH e AS (SELECT * FROM {_values_sql(rows)} WHERE ts IS NOT NULL) "
            f"SELECT (ts // {w}) * {w} AS ws, event_type, "
            "CAST(COUNT(*) AS BIGINT) AS n, "
            "CAST(SUM(value) AS BIGINT) AS s "
            f"FROM e GROUP BY 1, 2"
        )
        return StreamCase(f"win_w{w}", rows, batches, {"window": w}, oracle)

    def _ohlc(self) -> StreamCase:
        rng = self.rng
        w = rng.choice([900, 1300, 2700])
        # unique (event_id) tie-break rides inside min_by/max_by; NULL
        # values excluded by the operator
        rows = self._rows(rng.randint(6, 24), null_val_p=0.2)
        batches = self._split(len(rows))
        oracle = (
            f"WITH e AS (SELECT * FROM {_values_sql(rows)} "
            "WHERE value IS NOT NULL AND ts IS NOT NULL), "
            f"k AS (SELECT *, (ts // {w}) * {w} AS ws, "
            "ROW_NUMBER() OVER (PARTITION BY event_type, (ts // " + str(w) + ") "
            "ORDER BY ts ASC, event_id ASC) AS rn_open, "
            "ROW_NUMBER() OVER (PARTITION BY event_type, (ts // " + str(w) + ") "
            "ORDER BY ts DESC, event_id DESC) AS rn_close FROM e) "
            "SELECT ws, event_type, "
            "CAST(MAX(CASE WHEN rn_open = 1 THEN value END) AS BIGINT) AS open, "
            "CAST(MAX(value) AS BIGINT) AS high, "
            "CAST(MIN(value) AS BIGINT) AS low, "
            "CAST(MAX(CASE WHEN rn_close = 1 THEN value END) AS BIGINT) AS close, "
            "CAST(COUNT(*) AS BIGINT) AS n, "
            "CAST(SUM(value) AS BIGINT) AS volume "
            "FROM k GROUP BY ws, event_type"
        )
        return StreamCase(f"ohlc_w{w}", rows, batches, {"window": w}, oracle)

    def _sess(self) -> StreamCase:
        rng = self.rng
        gap = rng.choice([300, 700, 1500])
        rows = self._rows(rng.randint(6, 24), spread=8000)
        batches = self._split(len(rows))
        oracle = (
            f"WITH e AS (SELECT * FROM {_values_sql(rows)} WHERE ts IS NOT NULL), "
            "s AS (SELECT user_id, ts, CASE WHEN ts - lag(ts) OVER "
            f"(PARTITION BY user_id ORDER BY ts) > {gap} THEN 1 ELSE 0 END AS brk "
            "FROM e), "
            "g AS (SELECT user_id, ts, SUM(brk) OVER (PARTITION BY user_id "
            "ORDER BY ts ROWS UNBOUNDED PRECEDING) AS grp FROM s) "
            "SELECT user_id, MIN(ts) AS session_start, "
            f"MAX(ts) + {gap} AS session_end, "
            "CAST(COUNT(*) AS BIGINT) AS n FROM g GROUP BY user_id, grp"
        )
        return StreamCase(f"sess_g{gap}", rows, batches, {"gap": gap}, oracle)

    def _dedup(self) -> StreamCase:
        rng = self.rng
        rows = self._rows(rng.randint(6, 20), dup_p=0.4)
        batches = self._split(len(rows))
        # whole-batch replays: at-least-once redelivery of 0..2 batches
        for _ in range(rng.randint(0, 2)):
            batches.append(list(rng.choice(batches)))
        oracle = (
            f"SELECT DISTINCT event_id, user_id, event_type, ts, value "
            f"FROM {_values_sql(rows)}"
        )
        return StreamCase(f"dedup_b{len(batches)}", rows, batches, {}, oracle)

    def _sjoin(self) -> StreamCase:
        rng = self.rng
        within = rng.choice([300, 900, 2100])
        n_left = rng.randint(4, 14)
        n_right = rng.randint(4, 14)
        rows = []
        for i in range(n_left + n_right):
            rows.append((f"e{i:03d}", rng.randint(0, 2),
                         "l" if i < n_left else "r",
                         rng.randint(1, 6000), rng.randint(-50, 50)))
        right_idx = list(range(n_left, n_left + n_right))
        batches = self._split(n_left)
        batches2 = [[right_idx[j] for j in b] for b in self._split(n_right)]
        oracle = (
            f"WITH e AS (SELECT * FROM {_values_sql(rows)}), "
            "l AS (SELECT user_id, event_id AS l_event_id, ts AS l_ts "
            "FROM e WHERE event_type = 'l'), "
            "r AS (SELECT user_id, event_id AS r_event_id, ts AS r_ts "
            "FROM e WHERE event_type = 'r') "
            "SELECT l.user_id, l_event_id, l_ts, r_event_id, r_ts "
            "FROM l JOIN r ON l.user_id = r.user_id "
            f"AND r_ts >= l_ts - {within} AND r_ts <= l_ts + {within}"
        )
        return StreamCase(f"sjoin_w{within}", rows, batches,
                          {"within": within}, oracle, batches2=batches2)

    def _late(self) -> StreamCase:
        rng = self.rng
        w = rng.choice([700, 1100, 1900])
        delay = rng.choice([501, 1001, 2003])  # never a multiple of w
        n = rng.randint(8, 26)
        # positive values only: makes SUM monotone in the kept-row set,
        # so the bounds law below is sound for s as well as n.
        # ts is drawn with ts % w != delay % w (ADVICE r11): every
        # realizable watermark is (some ts) - delay, so this guarantees
        # no watermark ever equals a window boundary (multiple of w) —
        # the <= comparisons below never sit on Spark's eviction-at-
        # equality edge, and the must_emit/eligible sets stay exact.
        rows = []
        for i in range(n):
            ts = rng.randint(1, 12000)
            while ts % w == delay % w:
                ts = rng.randint(1, 12000)
            rows.append((f"e{i:03d}", rng.randint(0, 3),
                         rng.choice(["a", "b", "c"]), ts, rng.randint(1, 50)))
        batches = self._split(len(rows))
        # most-aggressive possible watermark sequence (zero planning
        # lag): wm before batch N = max ts of batches 0..N-1 minus
        # delay. A row whose window end exceeds even this is
        # GUARANTEED kept (Spark's one-sided lateness contract).
        wm = None
        kept_idx: list[int] = []
        for batch in batches:
            for i in batch:
                win_end = (rows[i][3] // w) * w + w
                if wm is None or win_end > wm:
                    kept_idx.append(i)
            cand = max(rows[i][3] for i in batch) - delay
            wm = cand if wm is None else max(wm, cand)
        final_wm = wm
        kept_set = set(kept_idx)
        lower: dict[tuple[int, str], list[int]] = {}
        upper: dict[tuple[int, str], list[int]] = {}
        for idx, row in enumerate(rows):
            key = ((row[3] // w) * w, row[2])
            upper.setdefault(key, [0, 0])
            upper[key][0] += 1
            upper[key][1] += row[4]
            if idx in kept_set:
                lower.setdefault(key, [0, 0])
                lower[key][0] += 1
                lower[key][1] += row[4]
        return StreamCase(
            f"late_w{w}_d{delay}", rows, batches,
            {"window": w, "delay": delay, "final_wm": final_wm,
             "lower": lower, "upper": upper},
            oracle_sql="",
        )


# ---------------------------------------------------------------------------
# Execution
# ---------------------------------------------------------------------------

_SCHEMA = None


def _schema():
    global _SCHEMA
    if _SCHEMA is None:
        from pyspark.sql.types import (LongType, StringType, StructField,
                                       StructType)
        _SCHEMA = StructType([
            StructField("event_id", StringType()),
            StructField("user_id", LongType()),
            StructField("event_type", StringType()),
            StructField("ts_sec", LongType()),
            StructField("value", LongType()),
        ])
    return _SCHEMA


def _write_some(rows: list[tuple], batches: list[list[int]], d: str,
                start_idx: int = 0) -> None:
    """Write a batch layout (or a phase of one) as parquet files with
    strictly increasing mtimes (FileStreamSource orders by (mtime,
    path), so either key yields the generated order). ``start_idx``
    keeps file names/mtimes unique when a later phase appends more
    files to a directory the source has already seen."""
    import pandas as pd

    t0 = 1_000_000_000.0
    for bi, batch in enumerate(batches, start=start_idx):
        part = [rows[i] for i in batch]
        df = pd.DataFrame(part, columns=["event_id", "user_id", "event_type",
                                         "ts_sec", "value"])
        df["user_id"] = df["user_id"].astype("int64")
        df["ts_sec"] = df["ts_sec"].astype("Int64")
        df["value"] = df["value"].astype("Int64")
        path = os.path.join(d, f"part-{bi:03d}.parquet")
        df.to_parquet(path, index=False)
        os.utime(path, (t0 + 2 * bi, t0 + 2 * bi))


def _write_sentinel(d: str, idx: int = 999) -> None:
    """A ZERO-ROW parquet file with the full typed schema. Used by the
    kill-restart 'stop' mode: if the kill lands after the last data
    batch but before the trailing watermark-flush batch, a restarted
    AvailableNow query that sees no new files runs no batch at all and
    the final watermark is never APPLIED — windows that are fully
    eligible stay unemitted forever. One empty heartbeat file (a
    realistic delivery) forces >=1 micro-batch, which applies the
    checkpointed watermark and flushes the eligible state. Rows: none,
    so no oracle is affected."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    schema = pa.schema([
        ("event_id", pa.string()), ("user_id", pa.int64()),
        ("event_type", pa.string()), ("ts_sec", pa.int64()),
        ("value", pa.int64()),
    ])
    t = pa.Table.from_arrays([pa.array([], type=f.type) for f in schema],
                             schema=schema)
    path = os.path.join(d, f"part-{idx:03d}.parquet")
    pq.write_table(t, path)
    os.utime(path, (1_000_000_000.0 + 2 * idx,) * 2)


def _write_batches(case: StreamCase, base_dir: str,
                   batches: "list[list[int]] | None" = None) -> str:
    d = os.path.join(base_dir, f"in_{uuid.uuid4().hex[:8]}")
    os.makedirs(d)
    _write_some(case.rows, case.batches if batches is None else batches, d)
    return d


def _drain(stream_df, checkpoint: str, output_mode: str):
    name = f"sf_{uuid.uuid4().hex[:8]}"
    q = (stream_df.writeStream.format("memory").queryName(name)
         .outputMode(output_mode)
         .option("checkpointLocation", checkpoint)
         .trigger(availableNow=True).start())
    q.awaitTermination()
    spark = stream_df.sparkSession
    rows = [tuple(r) for r in spark.table(name).collect()]
    spark.catalog.dropTempView(name)
    return rows


def run_stream_case(spark, case: StreamCase, base_dir: str):
    """Run one case's streaming pipeline; returns raw result tuples."""
    from pyspark.sql import functions as F

    from keenwa_spark.streaming import (dedup_stream, ohlc_stream,
                                        session_stats_stream,
                                        windowed_type_counts)

    in_dir = _write_batches(case, base_dir)
    ckpt = os.path.join(base_dir, f"ck_{uuid.uuid4().hex[:8]}")
    src = (spark.readStream.schema(_schema())
           .option("maxFilesPerTrigger", "1").parquet(in_dir)
           .withColumn("ts", F.timestamp_seconds(F.col("ts_sec"))))
    p = case.params
    if case.kind.startswith("win_"):
        out = windowed_type_counts(src, window=f"{p['window']} seconds",
                                   watermark="48 hours")
        out = out.select(F.unix_seconds("win_start").alias("ws"), "event_type",
                         F.col("n_events").cast("bigint").alias("n"),
                         F.col("total_value").cast("bigint").alias("s"))
        return _drain(out, ckpt, "complete")
    if case.kind.startswith("ohlc_"):
        out = ohlc_stream(src, window=f"{p['window']} seconds",
                          watermark="48 hours")
        out = out.select(F.unix_seconds("win_start").alias("ws"), "event_type",
                         F.col("open").cast("bigint"), F.col("high").cast("bigint"),
                         F.col("low").cast("bigint"), F.col("close").cast("bigint"),
                         "n", F.col("volume").cast("bigint"))
        return _drain(out, ckpt, "complete")
    if case.kind.startswith("sess_"):
        out = session_stats_stream(src, gap=f"{p['gap']} seconds",
                                   watermark="48 hours")
        out = out.select("user_id",
                         F.unix_seconds("session_start").alias("session_start"),
                         F.unix_seconds("session_end").alias("session_end"),
                         F.col("n_events").cast("bigint").alias("n"))
        return _drain(out, ckpt, "complete")
    if case.kind.startswith("dedup_"):
        out = dedup_stream(src.where(F.col("ts").isNotNull()), keys=["event_id"],
                           watermark="48 hours")
        out = out.select("event_id", "user_id", "event_type",
                         F.col("ts_sec").alias("ts"), "value")
        return _drain(out, ckpt, "append")
    if case.kind.startswith("sjoin_"):
        from keenwa_spark.streaming import interval_join_streams

        in2 = _write_batches(case, base_dir, case.batches2)
        src2 = (spark.readStream.schema(_schema())
                .option("maxFilesPerTrigger", "1").parquet(in2)
                .withColumn("ts", F.timestamp_seconds(F.col("ts_sec"))))
        out = interval_join_streams(
            src, src2, on="user_id", within=f"{p['within']} seconds",
            watermark="48 hours",
        )
        out = out.select("user_id", "l_event_id",
                         F.unix_seconds("l_ts").alias("l_ts"),
                         "r_event_id",
                         F.unix_seconds("r_ts").alias("r_ts"))
        return _drain(out, ckpt, "append")
    if case.kind.startswith("late_"):
        out = windowed_type_counts(src, window=f"{p['window']} seconds",
                                   watermark=f"{p['delay']} seconds")
        out = out.select(F.unix_seconds("win_start").alias("ws"), "event_type",
                         F.col("n_events").cast("bigint").alias("n"),
                         F.col("total_value").cast("bigint").alias("s"))
        return _drain(out, ckpt, "append")
    raise ValueError(case.kind)


def run_stream_case_restart(spark, case: StreamCase, base_dir: str):
    """Run one kill-restart case (VERDICT r11 item 4; multi-kill r12
    item 5): the pipeline writes to a fault-tolerant parquet FILE sink
    (a memory sink would forget phase-1 output on restart), is killed
    per params['restart'] — once, or twice when a 'second' kill is
    present (the second landing during the first resume) — and a fresh
    query object resumes from the SAME checkpoint + sink after every
    kill. The read-back goes through the sink's _spark_metadata
    manifest, so a batch cancelled mid-write by the 'stop' mode is
    invisible unless a restarted query re-commits it exactly once.
    Each kill may independently resize the session shuffle-partition
    count before its resume (repeated cluster-resize drift)."""
    import time

    from pyspark.sql import functions as F

    from keenwa_spark.streaming import (dedup_stream, interval_join_streams,
                                        windowed_type_counts)

    p = case.params
    uid = uuid.uuid4().hex[:8]
    in_dir = os.path.join(base_dir, f"in_{uid}")
    os.makedirs(in_dir)
    out_dir = os.path.join(base_dir, f"out_{uid}")
    ckpt = os.path.join(base_dir, f"ck_{uid}")
    # normalize ck/ck2/ck3 prefixes to the pipeline sub-shape
    shape = re.sub(r"^ck\d?", "ck", case.kind)
    two_sided = shape.startswith("cksjoin_")
    in2_dir = None
    if two_sided:
        in2_dir = os.path.join(base_dir, f"in2_{uid}")
        os.makedirs(in2_dir)

    def _src(d: str):
        return (spark.readStream.schema(_schema())
                .option("maxFilesPerTrigger", "1").parquet(d)
                .withColumn("ts", F.timestamp_seconds(F.col("ts_sec"))))

    def _pipeline():
        src = _src(in_dir)
        if shape.startswith("ckwin_"):
            out = windowed_type_counts(src, window=f"{p['window']} seconds",
                                       watermark=f"{p['delay']} seconds")
            return out.select(F.unix_seconds("win_start").alias("ws"),
                              "event_type",
                              F.col("n_events").cast("bigint").alias("n"),
                              F.col("total_value").cast("bigint").alias("s"))
        if shape.startswith("ckdedup_"):
            out = dedup_stream(src.where(F.col("ts").isNotNull()),
                               keys=["event_id"], watermark="48 hours")
            return out.select("event_id", "user_id", "event_type",
                              F.col("ts_sec").alias("ts"), "value")
        if shape.startswith("cksjoin_"):
            out = interval_join_streams(
                src, _src(in2_dir), on="user_id",
                within=f"{p['within']} seconds", watermark="48 hours")
            return out.select("user_id", "l_event_id",
                              F.unix_seconds("l_ts").alias("l_ts"),
                              "r_event_id",
                              F.unix_seconds("r_ts").alias("r_ts"))
        raise ValueError(case.kind)

    def _start():
        return (_pipeline().writeStream.format("parquet")
                .option("path", out_dir)
                .option("checkpointLocation", ckpt)
                .outputMode("append")
                .trigger(availableNow=True).start())

    kills, k = [p["restart"]], p["restart"]
    while k.get("second"):
        k = k["second"]
        kills.append(k)
    b1, b2 = case.batches, case.batches2 or []
    n_all = max(len(b1), len(b2))
    written = {in_dir: 0}
    if two_sided:
        written[in2_dir] = 0

    def _write_upto(point: int) -> None:
        """Land batch files up to ``point`` per side (no-op for sides
        already past it); start_idx keeps names/mtimes monotone."""
        for d, batches in ((in_dir, b1), *(((in2_dir, b2),) if two_sided else ())):
            upto = min(point, len(batches))
            if upto > written[d]:
                _write_some(case.rows, batches[written[d]:upto], d, written[d])
                written[d] = upto

    old_parts = spark.conf.get("spark.sql.shuffle.partitions")
    sentinel_idx = 990  # above any real batch index; unique per kill
    try:
        for ki, k in enumerate(kills):
            if k["mode"] == "staged":
                # clean-boundary crash: drain whatever has landed
                _write_upto(k["point"])
                q = _start()
                q.awaitTermination()
            else:  # abrupt stop mid-run
                _write_upto(n_all)
                q = _start()
                deadline = time.time() + 120
                while (q.isActive and len(q.recentProgress) < k["point"]
                       and time.time() < deadline):
                    time.sleep(0.005)
                try:
                    q.stop()
                    q.awaitTermination()
                except Exception:  # noqa: BLE001 — a cancelled batch may raise
                    pass
                # the kill may have cancelled the trailing
                # watermark-flush batch AFTER all data batches
                # committed; see _write_sentinel
                _write_sentinel(in_dir, sentinel_idx)
                if two_sided:
                    _write_sentinel(in2_dir, sentinel_idx)
                sentinel_idx += 1
            if k.get("rescale"):
                # a different resize after EACH kill (+3 then +5)
                spark.conf.set("spark.sql.shuffle.partitions",
                               str(int(old_parts) + 3 + 2 * ki))
        _write_upto(n_all)
        q = _start()
        q.awaitTermination()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old_parts)
    if not os.path.isdir(out_dir):
        return []  # nothing ever committed (valid when the oracle is empty)
    return [tuple(r) for r in spark.read.parquet(out_dir).collect()]


def check_late_bounds(case: StreamCase, got: list[tuple]) -> str | None:
    """Verify APPEND-mode emissions against the one-sided lateness
    contract; returns a failure description or None."""
    w = case.params["window"]
    final_wm = case.params["final_wm"]
    lower, upper = case.params["lower"], case.params["upper"]
    keys = [(r[0], r[1]) for r in got]
    if len(keys) != len(set(keys)):
        return f"duplicate append emission: {sorted(keys)}"
    emitted = {(r[0], r[1]): (r[2], r[3]) for r in got}
    eligible = {k for k in upper if k[0] + w <= final_wm}
    must_emit = {k for k in lower if k[0] + w <= final_wm}
    if not set(emitted) <= eligible:
        return f"emitted beyond final watermark: {sorted(set(emitted) - eligible)}"
    if not must_emit <= set(emitted):
        return f"guaranteed windows missing: {sorted(must_emit - set(emitted))}"
    for k, (got_n, got_s) in emitted.items():
        lo = lower.get(k, [0, 0])
        hi = upper[k]
        if not (lo[0] <= got_n <= hi[0] and lo[1] <= got_s <= hi[1]):
            return f"bounds violated for {k}: n={got_n} in [{lo[0]},{hi[0]}]? s={got_s} in [{lo[1]},{hi[1]}]?"
        if lo == hi and (got_n, got_s) != tuple(lo):
            return f"exact check failed for {k}: {(got_n, got_s)} != {tuple(lo)}"
    return None


def run_stream_fuzz(spark, duck, seed: int, n: int,
                    only_prefix: str | None = None) -> list[dict]:
    """Run n seeded cases; returns mismatch records (empty == clean).
    ``only_prefix`` keeps drawing until the case kind matches (e.g.
    "ck" for a dedicated kill-restart sweep) — the generator sequence
    stays seed-deterministic, skipped cases are simply not run."""
    from keenwa_spark import conformance as cf

    gen = StreamGen(seed)
    base_dir = tempfile.mkdtemp(prefix=f"stream_fuzz_{seed}_")
    old_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "2")
    mismatches = []
    try:
        for i in range(n):
            case = gen.case()
            while only_prefix and not case.kind.startswith(only_prefix):
                case = gen.case()
            try:
                if case.kind.startswith("ck"):
                    raw = run_stream_case_restart(spark, case, base_dir)
                else:
                    raw = run_stream_case(spark, case, base_dir)
                got = cf.canon_rows(raw, ordered=False)
            except Exception as e:  # noqa: BLE001 — the error IS the finding
                mismatches.append({"i": i, "kind": case.kind,
                                   "error": f"spark: {e}"})
                continue
            if case.kind.startswith("late_"):
                problem = check_late_bounds(case, raw)
                if problem:
                    mismatches.append({
                        "i": i, "kind": case.kind,
                        "batches": [len(b) for b in case.batches],
                        "error": problem,
                    })
                continue
            try:
                want = cf.canon_rows(duck.execute(case.oracle_sql).fetchall(),
                                     ordered=False)
            except Exception as e:  # noqa: BLE001
                mismatches.append({"i": i, "kind": case.kind,
                                   "error": f"duckdb: {e}"})
                continue
            if got != want:
                mismatches.append({
                    "i": i, "kind": case.kind,
                    "batches": [len(b) for b in case.batches],
                    "spark_rows": len(got), "duck_rows": len(want),
                    "spark_head": got[:4], "duck_head": want[:4],
                    "oracle": case.oracle_sql[:500],
                })
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old_parts)
        shutil.rmtree(base_dir, ignore_errors=True)
    return mismatches
