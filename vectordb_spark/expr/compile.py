"""AST → Spark Column, AST → DuckDB SQL and AST → pyarrow.compute
compilers.

The Spark backend hands Catalyst a declarative Column tree — pushdown,
pruning, folding all apply; nothing is evaluated row-at-a-time in
Python. Numeric evaluation follows the reference evaluator: *all*
numeric math runs in double (reference expr_evaluator.cpp:127-164
NumEvaluate returns double — so INT/INT division is double division and
`%` is fmod). The DuckDB backend emits structurally identical SQL so an
oracle can replay any filter bit-for-bit. The pyarrow backend evaluates
a filter eagerly over an in-memory Arrow table for the driver-resident
serving tier (serving.py); where it cannot match Spark's result
exactly it raises ``ArrowUnsupported`` and the caller runs Spark.
"""

from __future__ import annotations

import math

import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import Column
from pyspark.sql import functions as F

from vectordb_spark.expr.parser import (
    Attr,
    Binary,
    Const,
    InList,
    Nearby,
    Node,
    Unary,
    ValueType,
)
from vectordb_spark.functions.geo import nearby
from vectordb_spark.schema import invalid_expr

DISTANCE_COL = "_distance"


def references_distance(node: Node | None) -> bool:
    """True if the AST reads @distance — forces the post-scoring plan
    (reference vec_search_executor.cpp:785-786)."""
    if node is None:
        return False
    if isinstance(node, Attr):
        return node.name == "@distance"
    if isinstance(node, Unary):
        return references_distance(node.child)
    if isinstance(node, Binary):
        return references_distance(node.left) or references_distance(node.right)
    return False


# --------------------------------------------------------------------------
# Spark backend
# --------------------------------------------------------------------------


def to_spark_column(node: Node, *, distance_col: str = DISTANCE_COL) -> Column:
    return _spark(node, distance_col)


def _spark_num(node: Node, dcol: str) -> Column:
    """Numeric operand — evaluated in double like the reference."""
    return _spark(node, dcol).cast("double")


def _spark(node: Node, dcol: str) -> Column:
    if isinstance(node, Const):
        return F.lit(node.value)
    if isinstance(node, Attr):
        return F.col(dcol if node.name == "@distance" else node.name)
    if isinstance(node, Unary):
        return ~_spark(node.child, dcol)
    if isinstance(node, InList):
        return _spark(node.attr, dcol).isin(*node.items)
    if isinstance(node, Nearby):
        return nearby(F.col(node.field_name), node.lat, node.lon, node.radius_km)
    if isinstance(node, Binary):
        op = node.op
        if op == "AND":
            return _spark(node.left, dcol) & _spark(node.right, dcol)
        if op == "OR":
            return _spark(node.left, dcol) | _spark(node.right, dcol)
        if op == "LIKE":
            left = _spark(node.left, dcol)
            if isinstance(node.right, Const):
                return left.like(str(node.right.value))
            return F.call_function("like", left, _spark(node.right, dcol))
        if op in (">", ">=", "<", "<=", "=", "<>"):
            if (
                node.left.vtype in (ValueType.INT, ValueType.DOUBLE)
                and node.right.vtype in (ValueType.INT, ValueType.DOUBLE)
            ):
                left, right = _spark_num(node.left, dcol), _spark_num(node.right, dcol)
            else:
                left, right = _spark(node.left, dcol), _spark(node.right, dcol)
            if op == "=":
                return left == right
            if op == "<>":
                return left != right
            if op == ">":
                return left > right
            if op == ">=":
                return left >= right
            if op == "<":
                return left < right
            return left <= right
        if op == "+" and node.vtype == ValueType.STRING:
            return F.concat(_spark(node.left, dcol), _spark(node.right, dcol))
        if op in ("+", "-", "*", "/", "%"):
            left, right = _spark_num(node.left, dcol), _spark_num(node.right, dcol)
            if op == "+":
                return left + right
            if op == "-":
                return left - right
            if op == "*":
                return left * right
            # Spark 4 defaults to ANSI mode where x/0 and x%0 raise;
            # the reference's C++ doubles never error (inf/nan). NULL
            # via nullif is the portable middle ground (filters treat
            # NULL as false), mirrored in the DuckDB backend.
            if op == "/":
                return left / F.nullif(right, F.lit(0.0))
            return left % F.nullif(right, F.lit(0.0))  # fmod semantics
    raise invalid_expr(f"cannot compile node {node!r}")


# --------------------------------------------------------------------------
# DuckDB backend (oracle)
# --------------------------------------------------------------------------


def to_duckdb_sql(node: Node, *, distance_col: str = DISTANCE_COL) -> str:
    return _duck(node, distance_col)


def _quote(s: str) -> str:
    return "'" + s.replace("'", "''") + "'"


def _duck_num(node: Node, dcol: str) -> str:
    return f"CAST({_duck(node, dcol)} AS DOUBLE)"


def _duck(node: Node, dcol: str) -> str:
    if isinstance(node, Const):
        if node.vtype == ValueType.STRING:
            return _quote(node.value)  # type: ignore[arg-type]
        if node.vtype == ValueType.BOOL:
            return "TRUE" if node.value else "FALSE"
        return repr(node.value)
    if isinstance(node, Attr):
        return dcol if node.name == "@distance" else node.name
    if isinstance(node, Unary):
        return f"(NOT {_duck(node.child, dcol)})"
    if isinstance(node, InList):
        items = ", ".join(_quote(i) for i in node.items)
        return f"({_duck(node.attr, dcol)} IN ({items}))"
    if isinstance(node, Nearby):
        return _duck_nearby(node)
    if isinstance(node, Binary):
        op = node.op
        if op in ("AND", "OR"):
            return f"({_duck(node.left, dcol)} {op} {_duck(node.right, dcol)})"
        if op == "LIKE":
            return f"({_duck(node.left, dcol)} LIKE {_duck(node.right, dcol)})"
        if op in (">", ">=", "<", "<=", "=", "<>"):
            if (
                node.left.vtype in (ValueType.INT, ValueType.DOUBLE)
                and node.right.vtype in (ValueType.INT, ValueType.DOUBLE)
            ):
                l, r = _duck_num(node.left, dcol), _duck_num(node.right, dcol)
            else:
                l, r = _duck(node.left, dcol), _duck(node.right, dcol)
            return f"({l} {op} {r})"
        if op == "+" and node.vtype == ValueType.STRING:
            return f"({_duck(node.left, dcol)} || {_duck(node.right, dcol)})"
        if op == "%":
            # DuckDB's fmod() is floored-mod (sign of divisor); its %
            # operator is C fmod (sign of dividend) — which is what the
            # reference's std::fmod and Spark's % do. Found by the
            # hypothesis fuzzer on a negative divisor.
            return (
                f"({_duck_num(node.left, dcol)} % "
                f"nullif({_duck_num(node.right, dcol)}, 0.0))"
            )
        if op == "/":
            return (
                f"({_duck_num(node.left, dcol)} / "
                f"nullif({_duck_num(node.right, dcol)}, 0.0))"
            )
        if op in ("+", "-", "*"):
            return f"({_duck_num(node.left, dcol)} {op} {_duck_num(node.right, dcol)})"
    raise invalid_expr(f"cannot compile node {node!r}")


def _duck_nearby(node: Nearby) -> str:
    """Haversine SQL structurally matching functions.geo.haversine_km
    (R=6371 km, reference geoindex.cpp:41-59). The bounding-box
    prefilter is a Spark-side optimization only — it never changes the
    result set, so the oracle omits it."""
    glat = f"{node.field_name}.latitude"
    glon = f"{node.field_name}.longitude"
    lat, lon = repr(node.lat), repr(node.lon)
    a = (
        f"(sin(radians({lat} - {glat}) / 2) * sin(radians({lat} - {glat}) / 2) + "
        f"cos(radians({glat})) * cos(radians({lat})) * "
        f"sin(radians({lon} - {glon}) / 2) * sin(radians({lon} - {glon}) / 2))"
    )
    return (
        f"(2.0 * 6371.0 * atan2(sqrt({a}), sqrt(1 - {a})) <= {repr(node.radius_km)})"
    )


# --------------------------------------------------------------------------
# pyarrow backend (driver-resident serving tier)
# --------------------------------------------------------------------------


class ArrowUnsupported(Exception):
    """The pyarrow backend cannot reproduce Spark's result for this
    node (or, for NaN operands, for this data); answer through Spark."""


_ARROW_COMPARE = {
    "=": pc.equal,
    "<>": pc.not_equal,
    ">": pc.greater,
    ">=": pc.greater_equal,
    "<": pc.less,
    "<=": pc.less_equal,
}
_ARROW_ARITH = {"+": pc.add, "-": pc.subtract, "*": pc.multiply}
_INT64 = (-(2**63), 2**63 - 1)


def to_arrow(node: Node, table: pa.Table, *, distance_col: str = DISTANCE_COL):
    """Evaluate ``node`` over every row of ``table`` with the Spark
    backend's semantics: numeric operands in double, Kleene three-valued
    AND/OR/NOT, NULL from a NULL operand, from ``IN`` over a NULL and
    from ``/`` by zero. Returns an array of ``table.num_rows`` values.

    Raises ``ArrowUnsupported`` for what it does not reproduce exactly:
    ``%`` (fmod), ``NEARBY``, ``LIKE`` against a non-literal pattern or
    one holding the escape character, integer literals outside BIGINT,
    and a comparison whose operands hold NaN (Spark orders NaN above
    every number and equal to itself; IEEE comparisons do not)."""
    out = _arrow(node, table, distance_col)
    if isinstance(out, pa.Scalar):
        out = pa.repeat(out, table.num_rows)
    return out


def _arrow_num(node: Node, table: pa.Table, dcol: str):
    # unsafe: a BIGINT beyond 2**53 rounds to the nearest double, as
    # Spark's cast does (the safe cast raises on it)
    return pc.cast(_arrow(node, table, dcol), pa.float64(), safe=False)


def _no_nan(v) -> None:
    if isinstance(v, pa.Scalar):
        nan = v.is_valid and math.isnan(v.as_py())
    else:
        nan = bool(pc.any(pc.is_nan(v)).as_py())
    if nan:
        raise ArrowUnsupported("NaN comparison operand")


def _arrow(node: Node, table: pa.Table, dcol: str):
    if isinstance(node, Const):
        v = node.value
        if node.vtype == ValueType.INT and not _INT64[0] <= v <= _INT64[1]:
            raise ArrowUnsupported(f"integer literal {v} outside BIGINT")
        return pa.scalar(v)
    if isinstance(node, Attr):
        return table.column(dcol if node.name == "@distance" else node.name)
    if isinstance(node, Unary):
        return pc.invert(_arrow(node.child, table, dcol))
    if isinstance(node, InList):
        v = _arrow(node.attr, table, dcol)
        hit = pc.is_in(v, value_set=pa.array(node.items, pa.string()))
        return pc.if_else(pc.is_null(v), pa.scalar(None, pa.bool_()), hit)
    if isinstance(node, Binary):
        op = node.op
        if op == "AND":
            return pc.and_kleene(
                _arrow(node.left, table, dcol), _arrow(node.right, table, dcol)
            )
        if op == "OR":
            return pc.or_kleene(
                _arrow(node.left, table, dcol), _arrow(node.right, table, dcol)
            )
        if op == "LIKE":
            pat = node.right
            if not isinstance(pat, Const) or "\\" in str(pat.value):
                raise ArrowUnsupported("LIKE needs a literal pattern without escapes")
            return pc.match_like(_arrow(node.left, table, dcol), str(pat.value))
        if op in _ARROW_COMPARE:
            if (
                node.left.vtype in (ValueType.INT, ValueType.DOUBLE)
                and node.right.vtype in (ValueType.INT, ValueType.DOUBLE)
            ):
                left = _arrow_num(node.left, table, dcol)
                right = _arrow_num(node.right, table, dcol)
                _no_nan(left)
                _no_nan(right)
            else:
                left = _arrow(node.left, table, dcol)
                right = _arrow(node.right, table, dcol)
            return _ARROW_COMPARE[op](left, right)
        if op == "+" and node.vtype == ValueType.STRING:
            return pc.binary_join_element_wise(
                _arrow(node.left, table, dcol), _arrow(node.right, table, dcol), ""
            )
        if op in _ARROW_ARITH:
            return _ARROW_ARITH[op](
                _arrow_num(node.left, table, dcol), _arrow_num(node.right, table, dcol)
            )
        if op == "/":
            right = _arrow_num(node.right, table, dcol)
            nonzero = pc.if_else(
                pc.equal(right, 0.0), pa.scalar(None, pa.float64()), right
            )
            return pc.divide(_arrow_num(node.left, table, dcol), nonzero)
    raise ArrowUnsupported(f"no pyarrow form for {node!r}")
