"""Property-based cross-engine equivalence: random filter expressions
from the reference grammar must select identical row sets when compiled
to a Catalyst Column, to DuckDB oracle SQL and — wherever it accepts
the expression — to the serving tier's pyarrow.compute evaluation. This
is the fuzzing arm of the multi-compilation design. The rows include
NULLs, so three-valued logic is exercised on every engine."""

from __future__ import annotations

import duckdb
import pyarrow as pa
import pytest
from hypothesis import HealthCheck, given, settings, strategies as st

from vectordb_spark.expr import (
    ArrowUnsupported,
    parse_filter,
    to_arrow,
    to_duckdb_sql,
    to_spark_column,
)
from vectordb_spark.schema import FieldType as FT, VectorDBError

FIELDS = {"i32": FT.INT4, "f64": FT.DOUBLE, "name": FT.STRING, "flag": FT.BOOL}

ROWS = [
    (i, i - 8, (i * 7 % 23) * 0.5 - 3.0, n, i % 3 == 0)
    for i, n in enumerate(
        ["Berlin", "London", "Moscow", "", "O'Brien", "san jose", "SAN", "x_y",
         "a%b", "zz", "Berlin", "lon"] * 2
    )
] + [
    # NULL in every column position: NOT over a NULL comparison or a
    # NULL IN must stay NULL (never selected), like / by zero
    (24, None, 1.5, "Berlin", True),
    (25, 3, None, None, None),
    (26, None, None, "lon", False),
]
COLUMNS = ["rid", "i32", "f64", "name", "flag"]
ARROW = pa.table(
    {c: [r[k] for r in ROWS] for k, c in enumerate(COLUMNS)},
    schema=pa.schema([("rid", pa.int64()), ("i32", pa.int64()), ("f64", pa.float64()),
                      ("name", pa.string()), ("flag", pa.bool_())]),
)


def _arrow_ids(ast) -> set[int]:
    mask = to_arrow(ast, ARROW).to_pylist()
    return {rid for rid, keep in zip(ARROW.column("rid").to_pylist(), mask) if keep}


# ---------------------------------------------------- expression grammar

_num_atom = st.one_of(
    st.integers(min_value=-9, max_value=99).map(str),
    st.sampled_from(["0.5", "2.25", "-1.5", "3.0", "10.125"]),
    st.sampled_from(["i32", "f64"]),
)
_arith_op = st.sampled_from(["+", "-", "*", "/", "%"])


@st.composite
def _num_expr(draw, depth=2):
    if depth == 0 or draw(st.booleans()):
        return draw(_num_atom)
    a = draw(_num_expr(depth=depth - 1))
    b = draw(_num_expr(depth=depth - 1))
    op = draw(_arith_op)
    return f"({a} {op} {b})"


_str_lit = st.sampled_from(
    ["'Berlin'", "'lon'", "''", "'O\\'Brien'", "'san%'", "'_AN'", "'a%b'"]
)


@st.composite
def _bool_expr(draw, depth=2):
    choice = draw(st.integers(min_value=0, max_value=6))
    if choice == 0:
        a, b = draw(_num_expr()), draw(_num_expr())
        op = draw(st.sampled_from(["<", "<=", "=", ">=", ">", "<>"]))
        return f"({a} {op} {b})"
    if choice == 1:
        lit = draw(_str_lit)
        op = draw(st.sampled_from(["=", "<>"]))
        return f"(name {op} {lit})"
    if choice == 2:
        return f"(name LIKE {draw(_str_lit)})"
    if choice == 3:
        lits = draw(st.lists(_str_lit, min_size=1, max_size=3))
        return f"name IN ({', '.join(lits)})"
    if choice == 4:
        return "flag"
    if depth == 0:
        return "flag"
    if choice == 5:
        return f"(NOT {draw(_bool_expr(depth=depth - 1))})"
    a = draw(_bool_expr(depth=depth - 1))
    b = draw(_bool_expr(depth=depth - 1))
    return f"({a} {draw(st.sampled_from(['AND', 'OR']))} {b})"


@pytest.fixture(scope="module")
def sdf(spark):
    df = spark.createDataFrame(
        ROWS, "rid long, i32 long, f64 double, name string, flag boolean"
    )
    df = df.cache()
    df.count()
    yield df
    df.unpersist()


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    con.register("t", ARROW)
    return con


@settings(
    max_examples=30,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(expr=_num_expr())
def test_random_numeric_projections_agree(sdf, duck, expr):
    """Numeric expressions (not just booleans) must produce
    bit-identical doubles through both compilers — this is what the
    facet-aggregate path evaluates."""
    try:
        ast = parse_filter(expr, FIELDS, check_bool=False)
    except VectorDBError:
        return
    from pyspark.sql import functions as F

    spark_vals = {
        r.rid: r.v
        for r in sdf.select(
            "rid", to_spark_column(ast).cast("double").alias("v")
        ).collect()
    }
    sql = to_duckdb_sql(ast)
    duck_vals = {
        r[0]: r[1]
        for r in duck.execute(
            f"SELECT rid, CAST({sql} AS DOUBLE) FROM t"
        ).fetchall()
    }
    for rid, sv in spark_vals.items():
        dv = duck_vals[rid]
        assert (sv is None and dv is None) or sv == dv, (
            f"expr={expr!r} rid={rid}: spark={sv!r} duck={dv!r}"
        )
    try:
        arrow = pa.compute.cast(to_arrow(ast, ARROW), pa.float64()).to_pylist()
    except ArrowUnsupported:
        return
    arrow_vals = dict(zip(ARROW.column("rid").to_pylist(), arrow))
    for rid, sv in spark_vals.items():
        av = arrow_vals[rid]
        assert (sv is None and av is None) or (
            sv is not None and av is not None and sv.hex() == av.hex()
        ), f"expr={expr!r} rid={rid}: spark={sv!r} arrow={av!r}"


@settings(
    max_examples=50,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(expr=_bool_expr())
def test_random_filters_agree(sdf, duck, expr):
    try:
        ast = parse_filter(expr, FIELDS)
    except VectorDBError:
        return  # grammar corner the reference rejects too — fine
    spark_ids = {
        r.rid for r in sdf.where(to_spark_column(ast)).select("rid").collect()
    }
    sql = to_duckdb_sql(ast)
    duck_ids = {
        r[0] for r in duck.execute(f"SELECT rid FROM t WHERE {sql}").fetchall()
    }
    assert spark_ids == duck_ids, f"expr={expr!r}\nsql={sql}"
    try:
        arrow_ids = _arrow_ids(ast)
    except ArrowUnsupported:
        return  # the serving tier hands this filter to Spark
    assert arrow_ids == spark_ids, f"expr={expr!r}"


@pytest.mark.parametrize(
    "expr, null_rows_kept",
    [
        ("NOT (i32 > 3)", {25}),
        ("NOT (name IN ('Berlin', 'lon'))", set()),
        ("NOT ((f64 / 0) = 1)", set()),
        ("NOT ((i32 / (f64 - f64)) < 1)", set()),
        ("(NOT flag) OR (i32 = 3)", {25, 26}),
        ("NOT ((name + 'x') = 'lonx')", {24}),
    ],
)
def test_null_logic_agrees_on_three_engines(sdf, duck, expr, null_rows_kept):
    """A NULL operand keeps a comparison, an IN, a concatenation and a
    / by zero NULL under NOT — the row is not selected — while Kleene
    OR still keeps ``NULL OR TRUE``, on every engine."""
    ast = parse_filter(expr, FIELDS)
    spark_ids = {
        r.rid for r in sdf.where(to_spark_column(ast)).select("rid").collect()
    }
    duck_ids = {
        r[0]
        for r in duck.execute(f"SELECT rid FROM t WHERE {to_duckdb_sql(ast)}").fetchall()
    }
    assert spark_ids == duck_ids == _arrow_ids(ast), expr
    assert spark_ids & {24, 25, 26} == null_rows_kept, expr


@pytest.mark.parametrize(
    "expr, fields",
    [
        ("(i32 % 3) = 1", FIELDS),
        ("NEARBY(loc, 10.0, 20.0, 5.0)", {**FIELDS, "loc": FT.GEO_POINT}),
        ("name LIKE 'a\\%b'", FIELDS),
        ("name LIKE name", FIELDS),
        ("i32 < 99999999999999999999", FIELDS),
        ("f64 > 1.0", FIELDS),
    ],
)
def test_arrow_target_declines_what_it_cannot_match(expr, fields):
    """``%`` (fmod), NEARBY, an escaped or non-literal LIKE pattern, an
    integer literal beyond BIGINT and a NaN comparison operand are left
    to Spark."""
    table = ARROW.set_column(2, "f64", pa.array([float("nan")] * ARROW.num_rows))
    with pytest.raises(ArrowUnsupported):
        to_arrow(parse_filter(expr, fields), table)
