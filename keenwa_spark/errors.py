"""Error taxonomy mirroring keenwa's OptimizerError family.

Reference: /root/reference/src/error/mod.rs (351 LoC) — keenwa reports
``NotImplemented``, ``NotSupported``, ``Argument`` and ``Internal``
errors from the SQL frontend and builder; its golden tests match error
*messages* exactly. We assert error *class* (SURVEY.md §7 risk 6):
tests check ``NotSupportedError`` is raised, not exact wording.
"""

from __future__ import annotations


class KeenwaSparkError(Exception):
    """Base class for all engine errors."""


class NotSupportedError(KeenwaSparkError):
    """A SQL construct the engine's dialect intentionally rejects.

    Mirrors keenwa's not-supported rejections, e.g. recursive CTEs
    (reference src/sql/mod.rs:210), GROUPING SETS/CUBE/ROLLUP (:341-343),
    LATERAL (:539), UNNEST (:561), FETCH (:174), named windows
    (:1235-1237), NULLS FIRST/LAST (:594).
    """


class ArgumentError(KeenwaSparkError):
    """Invalid argument to a builder method or function call.

    Mirrors keenwa OperatorBuilder argument validation
    (reference src/operators/builder/mod.rs).
    """


class TypeCheckError(KeenwaSparkError):
    """Static expression typing failure.

    Mirrors keenwa's resolve_expr_type errors
    (reference src/operators/scalar/types.rs:18+).
    """
