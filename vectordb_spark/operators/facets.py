"""Facet aggregations (reference "facets", SURVEY.md §2.4).

Request shape (reference db_server.cpp:362-456, aggregation.hpp):
``[{"group": ["age"], "aggregate": ["SUM(age)", "COUNT(*)"]}, ...]``

Semantics replicated:
- exactly 0 or 1 group expression; multiple → error (db_server.cpp:398-399)
- empty group = global aggregate (db_server.cpp:395-397)
- aggregate args are full filter-language expressions, including
  @distance (aggregation.hpp:272-295)
- COUNT ignores its argument (db_server.cpp:376-378)
- accumulation in double (aggregation.hpp:24)
- output column names are the literal request strings
"""

from __future__ import annotations

import math
import re
from dataclasses import dataclass, field

import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from vectordb_spark.expr.compile import (
    ArrowUnsupported,
    references_distance,
    to_arrow,
    to_spark_column,
)
from vectordb_spark.expr.parser import Attr, Node, ValueType, parse_filter
from vectordb_spark.schema import FieldType, VectorDBError, invalid_expr

_AGG_RE = re.compile(r"^\s*(SUM|MIN|MAX|COUNT)\s*\((.*)\)\s*$", re.IGNORECASE | re.DOTALL)


@dataclass
class FacetSpec:
    group_expr: str | None
    aggregates: list[tuple[str, str, str]] = field(default_factory=list)
    # (func_upper, arg_str, original_label)


def parse_facets(facets_json: list[dict], field_map: dict[str, FieldType]) -> list[FacetSpec]:
    specs: list[FacetSpec] = []
    for obj in facets_json or []:
        groups = obj.get("group", [])
        if len(groups) > 1:
            raise VectorDBError(
                "NOT_IMPLEMENTED_ERROR", "Multiple group by fields are not supported."
            )
        group_expr = groups[0] if groups else None
        aggs: list[tuple[str, str, str]] = []
        for agg_str in obj.get("aggregate", []):
            m = _AGG_RE.match(agg_str)
            if not m:
                raise invalid_expr(f"Invalid aggregate expression: {agg_str}")
            func = m.group(1).upper()
            arg = m.group(2).strip()
            if func == "COUNT":
                arg = "1"  # argument ignored (db_server.cpp:376-378)
            aggs.append((func, arg, agg_str))
        if not aggs:
            raise invalid_expr("Facet needs at least one aggregate.")
        specs.append(FacetSpec(group_expr, aggs))
    return specs


def _parse_expr(
    expr_str: str, field_map: dict[str, FieldType], *, has_distance: bool
) -> Node:
    ast = parse_filter(expr_str, field_map, check_bool=False)
    if ast is None:
        raise invalid_expr("Empty expression in facet.")
    if references_distance(ast) and not has_distance:
        raise invalid_expr("@distance is not available in this context.")
    return ast


def _compile_expr(
    expr_str: str, field_map: dict[str, FieldType], *, has_distance: bool, distance_col: str
) -> Column:
    return to_spark_column(
        _parse_expr(expr_str, field_map, has_distance=has_distance),
        distance_col=distance_col,
    )


def compute_facets(
    df: DataFrame,
    specs: list[FacetSpec],
    field_map: dict[str, FieldType],
    *,
    has_distance: bool = False,
    distance_col: str = "_distance",
) -> list[list[dict]]:
    """Evaluate each facet spec over ``df`` (a search/scan result set —
    reference runs facets over the top-K ids, table_mvp.cpp:386-400).
    Returns one list of group dicts per spec.

    All specs run in ONE action: each spec's aggregation becomes a
    union branch tagged with its spec index, rows serialized to JSON
    (types survive: ints/doubles/bools stay typed through the
    round-trip), collected once, demultiplexed driver-side. The input
    is cached across the branches so the scan/score subtree computes
    once, not N times — N facet specs used to cost N sequential jobs
    on the serving path.
    """
    import json

    from functools import reduce

    if not specs:
        return []
    branches = []
    for i, spec in enumerate(specs):
        agg_cols = []
        for func, arg, label in spec.aggregates:
            col = _compile_expr(
                arg, field_map, has_distance=has_distance, distance_col=distance_col
            )
            if func == "COUNT":
                agg_cols.append(F.count(F.lit(1)).cast("double").alias(label))
            elif func == "SUM":
                agg_cols.append(F.sum(col.cast("double")).alias(label))
            elif func == "MIN":
                agg_cols.append(F.min(col.cast("double")).alias(label))
            else:
                agg_cols.append(F.max(col.cast("double")).alias(label))
        if spec.group_expr is not None:
            key = _compile_expr(
                spec.group_expr, field_map,
                has_distance=has_distance, distance_col=distance_col,
            )
            res = df.groupBy(key.alias(spec.group_expr)).agg(*agg_cols)
        else:
            res = df.agg(*agg_cols)
        branches.append(
            res.select(
                F.lit(i).alias("_spec"),
                F.to_json(
                    F.struct(*[res[c].alias(c) for c in res.columns]),
                    {"ignoreNullFields": "false"},
                ).alias("_js"),
            )
        )
    # cache() returns the SAME DataFrame object, so track the decision
    # in a flag (an identity check would never release the cache)
    did_cache = len(specs) > 1
    if did_cache:
        df.cache()
    try:
        union = reduce(lambda a, b: a.unionByName(b), branches)
        rows = union.collect()  # the single action
    finally:
        if did_cache:
            df.unpersist()
    out: list[list[dict]] = [[] for _ in specs]
    for r in rows:
        out[r["_spec"]].append(json.loads(r["_js"]))
    return out


def fold_facets(
    rows: pa.Table,
    specs: list[FacetSpec],
    field_map: dict[str, FieldType],
    *,
    has_distance: bool = False,
) -> list[list[dict]]:
    """:func:`compute_facets` on the driver, over the in-memory result
    rows of the serving tier (at most ``limit`` of them, in result
    order). Spark aggregates that single-partition result sequentially
    in the same order, so each aggregate is the same double fold: SUM
    is ``0.0 + (((0.0 + v0) + v1) + ...)`` over the non-NULL values,
    MIN/MAX keep the first of equal values, COUNT counts rows. Groups
    come out in first-seen order (Spark's are unordered).

    Raises ``ArrowUnsupported`` where the Spark result could differ: an
    aggregate over a STRING expression (Spark casts it), a NaN among
    the values or group keys, a FLOAT group key (Spark prints it in
    single precision), or repeated output names."""
    out = []
    for spec in specs:
        labels = [label for _f, _a, label in spec.aggregates]
        if len(set(labels)) != len(labels) or spec.group_expr in labels:
            raise ArrowUnsupported("repeated facet output name")
        columns = []
        for func, arg, _label in spec.aggregates:
            ast = _parse_expr(arg, field_map, has_distance=has_distance)
            if func == "COUNT":
                columns.append(None)
                continue
            if ast.vtype not in (ValueType.INT, ValueType.DOUBLE, ValueType.BOOL):
                raise ArrowUnsupported(f"{func} over a {ast.vtype.value} value")
            # unsafe: BIGINTs beyond 2**53 round as Spark's cast does
            values = pc.cast(to_arrow(ast, rows), pa.float64(), safe=False).to_pylist()
            _reject_nan(values)
            columns.append(values)
        if spec.group_expr is None:
            groups = {None: list(range(rows.num_rows))}
        else:
            key = _parse_expr(spec.group_expr, field_map, has_distance=has_distance)
            if isinstance(key, Attr) and key.ftype == FieldType.FLOAT:
                raise ArrowUnsupported("FLOAT group key")
            keys = to_arrow(key, rows).to_pylist()
            _reject_nan(keys)
            groups = {}
            for i, k in enumerate(keys):
                # Spark normalizes -0.0 to 0.0 in grouping keys
                if isinstance(k, float) and k == 0.0:
                    k = 0.0
                groups.setdefault(k, []).append(i)
        facet = []
        for k, members in groups.items():
            rec = {} if spec.group_expr is None else {spec.group_expr: k}
            for (func, _arg, label), values in zip(spec.aggregates, columns):
                rec[label] = _fold(func, members, values)
            facet.append(rec)
        out.append(facet)
    return out


def _reject_nan(values: list) -> None:
    if any(isinstance(v, float) and math.isnan(v) for v in values):
        raise ArrowUnsupported("NaN facet value")


def _fold(func: str, members: list[int], values: list | None):
    if func == "COUNT":
        return float(len(members))
    acc = None
    for i in members:
        v = values[i]
        if v is None:
            continue
        if acc is None:
            acc = 0.0 + v if func == "SUM" else v
        elif func == "SUM":
            acc = acc + v
        elif (v < acc) if func == "MIN" else (v > acc):
            acc = v
    if func == "SUM" and acc is not None:
        acc = 0.0 + acc
    return acc
