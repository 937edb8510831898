"""Engine-portable hashing primitives for the pipeline operators.

All content hashing goes through md5 → first 8 hex chars → int64
(32-bit value range). md5 is available and bit-identical in Spark,
DuckDB, and every other engine an oracle might run on — unlike
xxhash64/murmur, whose seeds and variants differ per engine. 32 bits
per hash is plenty for MinHash/SimHash estimators (they rely on rank
order / bit statistics, not collision-freedom).

The (a, b) affine constants below define the k MinHash functions
h_j(x) = (a_j * x + b_j) mod P. P is the smallest prime > 2^32;
a_j < 2^30 keeps a_j * x < 2^62 — no int64 overflow in either engine
(DuckDB errors on overflow; Spark silently wraps — both avoided).

Constants are fixed (not seeded at runtime) so signatures are stable
across runs, sessions, and engines — a hard requirement for
incremental dedup at scale (yesterday's signatures must match
today's).
"""

from __future__ import annotations

#: smallest prime > 2^32
MINHASH_P = 4_294_967_311

#: k=12 affine (a, b) pairs; a odd, < 2^30. Generated once from
#: a fixed seed and frozen here for cross-run stability.
MINHASH_AB: list[tuple[int, int]] = [
    (458216371, 128839121),
    (942173761, 318211193),
    (123874751, 771131947),
    (688239377, 251192683),
    (314159257, 908817121),
    (271828171, 133711939),
    (161803399, 414213563),
    (577215661, 662607015),
    (141421357, 173205081),
    (223606797, 264575131),
    (828427125, 449489743),
    (301029995, 693147181),
]


def spark_hash64(expr: str) -> str:
    """Spark SQL: md5-derived 32-bit int64 of a string expression."""
    return f"CAST(conv(substr(md5({expr}), 1, 8), 16, 10) AS BIGINT)"


def duck_hash64(expr: str) -> str:
    """DuckDB SQL: identical md5-derived 32-bit int64."""
    return f"(('0x' || substr(md5({expr}), 1, 8))::BIGINT)"
