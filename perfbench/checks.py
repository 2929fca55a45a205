"""Output checkers. Each takes what the program returned plus the
benchmark's own reference data and returns ``(ok, reason)``; none of
them calls the program, so the self-tests can feed them corrupted
results directly."""

from __future__ import annotations

import hashlib
import math

import numpy as np

# Spark sums the squared differences in double over float32 inputs, in
# a different order than numpy: allow for the rounding, nothing more.
_REL_TOL = 1e-9
_ABS_TOL = 1e-9


def _close(a: float, b: float) -> bool:
    return math.isclose(a, b, rel_tol=_REL_TOL, abs_tol=_ABS_TOL)


def l2_squared(vecs: np.ndarray, q: np.ndarray) -> np.ndarray:
    diff = vecs.astype(np.float64) - np.asarray(q, dtype=np.float64)
    return np.einsum("ij,ij->i", diff, diff)


def check_topk(
    got: list[tuple[int, float]],
    ids: np.ndarray,
    vecs: np.ndarray,
    q: np.ndarray,
    k: int,
) -> tuple[bool, str]:
    """``got`` is the program's top-k as (id, distance) pairs; ``ids`` and
    ``vecs`` are every row that passes the query's filter. Exact top-k
    up to ties: each returned id is a candidate, its distance is its
    true distance, the list is ascending, and the distances equal the
    k smallest true distances."""
    if len(ids) == 0:
        return (len(got) == 0, f"expected no rows, got {len(got)}")
    dist = l2_squared(vecs, q)
    want = min(k, len(ids))
    if len(got) != want:
        return False, f"expected {want} rows, got {len(got)}"
    got_ids = [int(i) for i, _ in got]
    if len(set(got_ids)) != len(got_ids):
        return False, "duplicate ids in result"
    pos = {int(i): n for n, i in enumerate(ids)}
    for i, d in got:
        n = pos.get(int(i))
        if n is None:
            return False, f"id {i} is not a live row passing the filter"
        if not _close(float(d), float(dist[n])):
            return False, f"id {i}: distance {d} != exact {dist[n]}"
    got_d = [float(d) for _, d in got]
    if any(b < a for a, b in zip(got_d, got_d[1:])):
        return False, "distances not ascending"
    best = np.sort(dist)[:want]
    for a, b in zip(got_d, best):
        if not _close(a, float(b)):
            return False, f"top-{k} distance {a} != exact {b}"
    return True, ""


def check_records(
    got: list[dict], expected: dict[int, dict], pk: str
) -> tuple[bool, str]:
    """Every record returned equals the reference copy of that row, and
    no expected row is missing."""
    seen = set()
    for rec in got:
        key = rec.get(pk)
        ref = expected.get(key)
        if ref is None:
            return False, f"unexpected row {key}"
        for name, want in ref.items():
            have = rec.get(name)
            if isinstance(want, float):
                if have is None or not _close(float(have), want):
                    return False, f"row {key} field {name}: {have!r} != {want!r}"
            elif have != want:
                return False, f"row {key} field {name}: {have!r} != {want!r}"
        seen.add(key)
    missing = set(expected) - seen
    if missing:
        return False, f"missing rows {sorted(missing)[:5]}"
    return True, ""


def check_counts(got: dict, want: dict) -> tuple[bool, str]:
    """A write's reply counts (inserted/skipped, deleted) equal the
    reference model's."""
    for key, value in want.items():
        if got.get(key) != value:
            return False, f"{key}: {got.get(key)!r} != {value!r}"
    return True, ""


def check_ids(ids: list[int], live: set[int], k: int, *, exact: bool) -> tuple[bool, str]:
    """A search result names distinct live rows: exactly ``k`` of them,
    or with ``exact=False`` between 1 and ``k``."""
    if len(ids) > k or not ids or (exact and len(ids) != k):
        return False, f"{len(ids)} rows for top-{k}"
    if len(set(ids)) != len(ids):
        return False, f"duplicate ids {ids}"
    dead = [i for i in ids if i not in live]
    if dead:
        return False, f"ids not live: {dead}"
    return True, ""


def recall_at_k(got_ids: list[int], exact_ids: list[int]) -> float:
    if not exact_ids:
        return 1.0
    return len(set(got_ids) & set(exact_ids)) / len(exact_ids)


def check_equal_ranking(
    got: list[tuple[int, float]], exact: list[tuple[int, float]]
) -> tuple[bool, str]:
    """An index that only prunes must return the exact ranking."""
    if len(got) != len(exact):
        return False, f"{len(got)} rows vs exact {len(exact)}"
    for (gi, gd), (ei, ed) in zip(got, exact):
        if gi != ei or gd != ed:
            return False, f"({gi}, {gd}) vs exact ({ei}, {ed})"
    return True, ""


# ---------------------------------------------- order-insensitive digest


def _canon(v):
    if v is None:
        return "\0NULL"
    if isinstance(v, (list, tuple, np.ndarray)):
        return tuple(_canon(x) for x in v)
    if isinstance(v, (float, np.floating)):
        if math.isnan(v):
            return "\0NULL"
        # bitwise, as the oracle gate compares floats; -0.0 == 0.0
        return float(v + 0.0).hex()
    if isinstance(v, (np.integer,)):
        return int(v)
    if isinstance(v, (np.bool_,)):
        return bool(v)
    return v


def frame_digest(df) -> str:
    """Order-insensitive digest of a pandas frame: the scripts/selfcheck.py
    normalisation (columns sorted, rows sorted, list cells as tuples,
    floats bitwise) hashed, so a Spark result and its DuckDB oracle
    agree exactly when they hold the same rows."""
    cols = sorted(df.columns)
    rows = sorted(
        (tuple(_canon(v) for v in rec) for rec in df[cols].itertuples(index=False, name=None)),
        key=repr,
    )
    h = hashlib.sha256(repr(cols).encode())
    for r in rows:
        h.update(repr(r).encode())
    return h.hexdigest()


def check_oracle(spark_pdf, oracle_pdf) -> tuple[bool, str]:
    if len(spark_pdf) != len(oracle_pdf):
        return False, f"{len(spark_pdf)} rows vs oracle {len(oracle_pdf)}"
    if frame_digest(spark_pdf) != frame_digest(oracle_pdf):
        return False, "rows differ from the oracle"
    return True, ""
