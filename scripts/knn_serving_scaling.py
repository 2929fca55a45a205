"""Served exact knn at the reference's table sizes: the float32 BLAS
prefilter against the full distance fold.

Builds a 64-d EUCLIDEAN table of 32 Gaussian blobs (the serve
benchmark's data) at 20k and 150k rows (150k is the reference's default
table capacity, ``InitTableScale``), warms the serving tier's cache,
and times ``Table.query`` top-10 knn over the same queries three ways,
interleaved query by query:

- ``prefilter``: ``Table.query`` as it runs (``serving._candidates``
  picks the rows the fold scores);
- ``full fold``: ``Table.query`` with the prefilter passing every row
  through, which is the tier before the prefilter;
- ``fold_distances``: the bare fold plus the top-k sort over the whole
  matrix, called directly — the scan cost ``Table.query`` pays on top
  of its fixed per-request work.

Every prefiltered reply is checked against the full-fold reply by ids
and distance bits. Prints one markdown table (p50 over the queries).

Run alone (an idle machine; see the verify notes):
    python scripts/knn_serving_scaling.py [--queries 41]
"""

from __future__ import annotations

import argparse
import os
import shutil
import sys
import tempfile
import time
from unittest import mock

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import numpy as np
import pandas as pd

from vectordb_spark import get_spark, serving
from vectordb_spark.catalog import Warehouse

DIM, CLUSTERS, LIMIT = 64, 32, 10
SIZES = (20_000, 150_000)


def _table(spark, root: str, rows: int, rng):
    centers = rng.normal(size=(CLUSTERS, DIM)) * 1.5
    vec = (centers[rng.integers(CLUSTERS, size=rows)] + rng.normal(size=(rows, DIM))).astype(
        np.float32
    )
    db = Warehouse(spark, root).load_db("scaling")
    t = db.create_table({
        "name": f"knn_{rows}",
        "fields": [
            {"name": "id", "dataType": "INT", "primaryKey": True},
            {"name": "vec", "dataType": "VECTOR_FLOAT", "dimensions": DIM,
             "metricType": "EUCLIDEAN"},
        ],
    })
    pdf = pd.DataFrame({"id": np.arange(rows, dtype=np.int32), "vec": list(vec)})
    t.insert_df(spark.createDataFrame(pdf, t.schema.to_spark_schema()))
    return t, centers, vec


def _timed(fn) -> tuple[float, object]:
    t0 = time.perf_counter()
    out = fn()
    return (time.perf_counter() - t0) * 1e3, out


def _bits(reply: dict) -> list:
    return [(r["id"], r["@distance"].hex()) for r in reply["result"]]


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--queries", type=int, default=41)
    args = ap.parse_args()
    spark = get_spark("knn_serving_scaling")
    root = tempfile.mkdtemp(prefix="knn_serving_")
    rng = np.random.default_rng(1)
    passthrough = lambda metric, vectors, norms, q, idx, limit: idx  # noqa: E731
    lines = []
    try:
        for rows in SIZES:
            t, centers, vec = _table(spark, root, rows, rng)
            queries = [
                [float(x) for x in (centers[rng.integers(CLUSTERS)] + rng.normal(size=DIM))]
                for _ in range(args.queries)
            ]

            def knn(q):
                return t.query(query_vector=q, limit=LIMIT, response=["id"], with_distance=True)

            def scan(q):
                d = serving.fold_distances("EUCLIDEAN", vec, np.asarray(q))
                return np.lexsort((np.arange(rows), d))[:LIMIT]

            for q in queries[:5]:
                knn(q)  # decode the segments into the cache, warm the JIT
            cands = []
            wrap = serving._candidates

            def counted(*a):
                out = wrap(*a)
                cands.append(len(out))
                return out

            times = {"prefilter": [], "full fold": [], "fold_distances": []}
            for q in queries:
                with mock.patch.object(serving, "_candidates", counted):
                    ms, got = _timed(lambda: knn(q))
                times["prefilter"].append(ms)
                with mock.patch.object(serving, "_candidates", passthrough):
                    ms, want = _timed(lambda: knn(q))
                times["full fold"].append(ms)
                times["fold_distances"].append(_timed(lambda: scan(q))[0])
                assert _bits(got) == _bits(want), "prefiltered reply differs from the full fold"
            p50 = {k: float(np.median(v)) for k, v in times.items()}
            lines.append(
                f"| {rows:,} | {p50['prefilter']:.2f} | {p50['full fold']:.2f} | "
                f"{p50['fold_distances']:.2f} | {int(np.median(cands))} |"
            )
    finally:
        shutil.rmtree(root, ignore_errors=True)
    print(f"\n## Served knn, top-{LIMIT}, {DIM}-d EUCLIDEAN, p50 of {args.queries} queries\n")
    print("| rows | prefilter ms | full fold ms | fold_distances ms | candidates |")
    print("|---|---|---|---|---|")
    print("\n".join(lines))


if __name__ == "__main__":
    main()
