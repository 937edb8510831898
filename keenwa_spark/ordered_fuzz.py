"""Seeded cross-engine fuzzer for the two-pass ORDERED operators
(round 10): with_global_row_number / with_global_cumsum /
with_global_prev_min (operators/ordered.py) vs DuckDB's single-node
window functions.

These are the repo's most custom scale path — the range-bucket
replacement for every single-partition global window — and their
correctness burden is exactly the place randomized evidence pays:
bucket-boundary rows, heavy and MEGA ties (every row equal, collapsing
the quantile cuts), NULLs in the summed column (the bucket-offset
NULL-prefix semantics), both directions, bucket counts from 1 (the
no-cut degenerate) past the row count, and the tie_bucket_col
sub-split path. Each case is random integer data with a unique id
tie-break, run through the operator on Spark and through the plain
``OVER (ORDER BY ...)`` window on DuckDB (total order by construction,
so ROWS frames are deterministic); id-keyed multiset compare.

Deterministic by seed. Used by tools/fuzz.py ordered (wide sweeps) and
tests/test_fuzz.py (pinned-seed corpus).
"""

from __future__ import annotations

import random

from keenwa_spark.conformance import OracleCase, values_df, values_sql


class OrderedGen:
    def __init__(self, seed: int):
        self.rng = random.Random(seed)

    def case(self) -> OracleCase:
        n = self.rng.randint(5, 250)
        # tie density: domain size 1 is the mega-tie worst case (every
        # quantile cut collapses), 3 is heavy ties, 10^3 is near-unique
        domain = self.rng.choice([1, 1, 3, 10, 1000])
        null_w = self.rng.random() < 0.4
        rows = [
            (
                i,
                self.rng.randint(0, domain - 1),
                None
                if null_w and self.rng.random() < 0.25
                else self.rng.randint(-40, 40),
            )
            for i in range(n)
        ]
        names = ["id", "v", "w"]
        descending = self.rng.random() < 0.5
        n_buckets = self.rng.choice([None, 1, 2, 5, 16, 64])
        tie_bucket = "id" if self.rng.random() < 0.3 else None
        kind = self.rng.choice(["row_number", "cumsum", "prev_min"])
        # the operators' contract: ``descending`` flips the FIRST
        # order column only (_order_exprs(..., descending_first));
        # tie-break columns stay ASC
        d = "DESC" if descending else "ASC"
        order = f"v {d}, id ASC"
        src = values_sql(rows, names)

        if kind == "row_number":

            def spark_build(
                spark, rows=rows, descending=descending,
                n_buckets=n_buckets, tie_bucket=tie_bucket,
            ):
                from keenwa_spark.operators.ordered import with_global_row_number

                df = values_df(spark, rows, names)
                return with_global_row_number(
                    df, order_by=["v", "id"], bucket_col="v", out_col="o",
                    descending=descending, n_buckets=n_buckets,
                    tie_bucket_col=tie_bucket,
                ).select("id", "o")

            oracle = (
                f"SELECT id, CAST(ROW_NUMBER() OVER (ORDER BY {order}) "
                f"AS BIGINT) AS o FROM {src}"
            )
        elif kind == "cumsum":

            def spark_build(
                spark, rows=rows, descending=descending,
                n_buckets=n_buckets, tie_bucket=tie_bucket,
            ):
                from keenwa_spark.operators.ordered import with_global_cumsum

                df = values_df(spark, rows, names)
                return with_global_cumsum(
                    df, order_by=["v", "id"], bucket_col="v",
                    sums={"o": "w"}, descending=descending,
                    n_buckets=n_buckets, tie_bucket_col=tie_bucket,
                ).select("id", "o")

            oracle = (
                f"SELECT id, CAST(SUM(w) OVER (ORDER BY {order} "
                f"ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) "
                f"AS BIGINT) AS o FROM {src}"
            )
        else:

            def spark_build(
                spark, rows=rows, descending=descending,
                n_buckets=n_buckets, tie_bucket=tie_bucket,
            ):
                from keenwa_spark.operators.ordered import with_global_prev_min

                df = values_df(spark, rows, names)
                return with_global_prev_min(
                    df, order_by=["v", "id"], bucket_col="v", min_of="w",
                    out_col="o", descending=descending,
                    n_buckets=n_buckets, tie_bucket_col=tie_bucket,
                ).select("id", "o")

            oracle = (
                f"SELECT id, CAST(MIN(w) OVER (ORDER BY {order} "
                f"ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) "
                f"AS BIGINT) AS o FROM {src}"
            )
        return OracleCase(kind, spark_build, oracle)
