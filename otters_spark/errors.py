"""Error hierarchy for otters-spark.

Mirrors the reference's error surface (otters ``src/expr.rs`` /
``src/vec.rs`` error enums) as Python exceptions. Builder methods in the
query plans never raise — errors are deferred and surfaced at
``.collect()`` / ``.df()``, matching the reference's deferred-error model
(reference: src/vec.rs:63-65, src/meta.rs:605-615, CHANGELOG.md:6-9).
"""

from __future__ import annotations


class OttersError(Exception):
    """Base class for all otters-spark errors."""


# --- expression compilation errors (reference: src/expr.rs:385-466) ---


class ExprError(OttersError):
    """Base class for expression-compilation errors."""


class UnknownColumnError(ExprError):
    """Predicate references a column not in the schema (src/expr.rs:396-398)."""


class TypeMismatchError(ExprError):
    """Literal type incompatible with column type, e.g. float literal vs
    int column (src/expr.rs:420-432)."""


class UnsupportedStringOpError(ExprError):
    """Ordering comparison on a string column (src/expr.rs:400-419)."""


class InvalidComparisonError(ExprError):
    """Comparison not of the form ``col CMP lit`` (src/expr.rs:391-394)."""


class InvalidExpressionError(ExprError):
    """Bare column / bare literal used as a boolean expression
    (src/expr.rs:370)."""


class DateTimeParseError(ExprError):
    """Unparseable datetime literal (src/col.rs:524-526)."""


# --- plan / execution errors (reference: src/vec.rs:170-203) ---


class PlanError(OttersError):
    """Base class for query-plan validation errors (raised at collect)."""


class DimensionMismatchError(PlanError):
    """Query vector dimension != store dimension (src/vec.rs:186-199)."""


class EmptyQueryError(PlanError):
    """No query vectors supplied (src/vec.rs:178-180)."""


class MissingMetricError(PlanError):
    """No metric configured on the plan (src/vec.rs:181-182)."""


class TopKLimitError(OttersError):
    """Per-query top-k asked for k above
    ``spark.sql.optimizer.windowGroupLimitThreshold``: the rank window would
    not be planned as a map-side WindowGroupLimit, so every scored row
    would cross the exchange."""


class StoreBuildError(OttersError):
    """Store construction failed validation, e.g. column length mismatch
    (src/meta.rs:159-173)."""
