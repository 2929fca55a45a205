from vectordb_spark.expr.parser import parse_filter, ValueType
from vectordb_spark.expr.compile import (
    ArrowUnsupported,
    references_distance,
    to_arrow,
    to_duckdb_sql,
    to_spark_column,
)

__all__ = [
    "parse_filter",
    "ValueType",
    "to_spark_column",
    "to_duckdb_sql",
    "to_arrow",
    "ArrowUnsupported",
    "references_distance",
]
