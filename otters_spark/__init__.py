"""otters-spark — a PySpark-native analytics engine with the query and
data-processing capabilities of AtharvBhat/otters (exact vector search
with expressive metadata filtering), extended with the LLM-data-pipeline
operators a 100TB training-data pipeline needs (dedup, similarity
search, text analysis, multimodal plumbing, streaming).

Built Spark-first: DataFrame/Catalyst expresses the plans; Parquet
row-group statistics and bloom filters replace the reference's
hand-built zonemap/bloom index; ``TakeOrderedAndProject`` replaces its
top-k collector. See SURVEY.md for the full reference→Spark mapping.
"""

from .errors import (
    DateTimeParseError,
    DimensionMismatchError,
    EmptyQueryError,
    ExprError,
    InvalidComparisonError,
    InvalidExpressionError,
    MissingMetricError,
    OttersError,
    PlanError,
    StoreBuildError,
    TopKLimitError,
    TypeMismatchError,
    UnknownColumnError,
    UnsupportedStringOpError,
)
from .expr import CompiledFilter, Expr, col, compile_expr, lit
from .plan import MetaQueryPlan, QueryStats, VecQueryPlan
from .session import get_spark
from .store import MetaStore, VecStore, with_row_index

__version__ = "0.1.0"

__all__ = [
    "col",
    "lit",
    "Expr",
    "CompiledFilter",
    "compile_expr",
    "VecStore",
    "MetaStore",
    "VecQueryPlan",
    "MetaQueryPlan",
    "QueryStats",
    "get_spark",
    "with_row_index",
    "OttersError",
    "ExprError",
    "PlanError",
    "TypeMismatchError",
    "UnknownColumnError",
    "UnsupportedStringOpError",
    "InvalidComparisonError",
    "InvalidExpressionError",
    "DateTimeParseError",
    "DimensionMismatchError",
    "EmptyQueryError",
    "MissingMetricError",
    "StoreBuildError",
    "TopKLimitError",
]
