"""Segment-skipping bounds from a filter AST.

The lakehouse data-skipping idea (Delta file stats, Iceberg manifests)
applied to this table format: writes record per-segment min/max for
integer fields in the manifest, and a filter's CONJUNCTIVE range
constraints prune whole segment dirs driver-side — before Spark ever
lists their files. Extraction is deliberately conservative: only
top-level AND chains of ``attr <op> const`` / ``const <op> attr``
comparisons contribute; anything else (OR, NOT, arithmetic, LIKE,
functions) simply contributes nothing, so pruning can never drop a
segment a richer predicate might still match. A dropped conjunct only
widens the kept range — correctness never depends on completeness.
"""

from __future__ import annotations

from vectordb_spark.expr.parser import Attr, Binary, Const, Node

_FLIP = {"<": ">", "<=": ">=", ">": "<", ">=": "<=", "=": "="}


Bound = float | str | None


def _same_kind(a, b) -> bool:
    return isinstance(a, str) == isinstance(b, str)


def tighten(
    bounds: dict[str, tuple[Bound, Bound]], name: str, lo: Bound, hi: Bound
) -> None:
    """Intersect ``bounds[name]`` with the closed interval [lo, hi] in
    place; None leaves that side as it was. A type clash (x > 5 AND
    x > 'a') keeps the OLDER bound: both are implied by the caller's
    predicate, so either is safe to prune with."""
    cur_lo, cur_hi = bounds.get(name, (None, None))
    if lo is not None and (
        cur_lo is None or (_same_kind(lo, cur_lo) and lo > cur_lo)
    ):
        cur_lo = lo
    if hi is not None and (
        cur_hi is None or (_same_kind(hi, cur_hi) and hi < cur_hi)
    ):
        cur_hi = hi
    bounds[name] = (cur_lo, cur_hi)


def range_bounds(ast: Node | None) -> dict[str, tuple[Bound, Bound]]:
    """{attr name: (lo, hi)} closed-interval bounds implied by the
    filter; None = unbounded on that side. Empty dict = nothing
    extractable (prune nothing). String constants contribute string
    bounds (r12: string-PK stats are recorded exactly at segment-write
    time, so string ranges prune too); Python ``str`` comparison is
    code-point order, which matches Spark's binary UTF8 ordering —
    UTF-8 byte order preserves code-point order."""
    out: dict[str, tuple[Bound, Bound]] = {}
    if ast is None:
        return out

    def walk(node: Node) -> None:
        if not isinstance(node, Binary):
            return
        if node.op == "AND":
            walk(node.left)
            walk(node.right)
            return
        op = node.op
        left, right = node.left, node.right
        if isinstance(left, Const) and isinstance(right, Attr):
            left, right = right, left
            op = _FLIP.get(op)
        if (
            op in _FLIP
            and isinstance(left, Attr)
            and isinstance(right, Const)
            and isinstance(right.value, (int, float, str))
            and not isinstance(right.value, bool)
        ):
            v = (
                right.value
                if isinstance(right.value, str)
                else float(right.value)
            )
            if op in ("<", "<="):
                # closed-interval stats: x < v prunes like x <= v
                tighten(out, left.name, None, v)
            elif op in (">", ">="):
                tighten(out, left.name, v, None)
            elif op == "=":
                tighten(out, left.name, v, v)

    walk(ast)
    return out


def segment_overlaps(
    stats: dict[str, list] | None,
    bounds: dict[str, tuple[Bound, Bound]],
) -> bool:
    """True unless some bounded column's stats prove the segment can't
    match. Missing stats (dir or column) always keep the segment, as
    does a bound whose type disagrees with the recorded stats (a
    string bound against int stats can prove nothing)."""
    if not stats:
        return True
    for col, (lo, hi) in bounds.items():
        st = stats.get(col)
        if not st or st[0] is None or st[1] is None:
            continue
        str_stats = isinstance(st[0], str)
        if hi is not None and _same_kind(hi, st[0]):
            if (st[0] if str_stats else float(st[0])) > hi:
                return False
        if lo is not None and _same_kind(lo, st[1]):
            if (st[1] if str_stats else float(st[1])) < lo:
                return False
    return True
