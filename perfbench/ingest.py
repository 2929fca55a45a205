"""``ingest``: a growing table paying its index upkeep a little at a time
(Progressive Indexes, VLDB 2019).

The table carries a dense vector, a STRING body and a sparse vector,
indexed by ``rebuild``, ``rebuild_text_index`` and
``rebuild_sparse_index``. Each round then upserts a batch through
``insert_df`` (some keys already exist), refreshes all three indexes,
runs searches on each, and deletes by filter; ``compact`` runs every
other round and ``vacuum`` at the end. ANN queries fall between vector
clusters, so recall sits below 1 and can move either way. The work is in table.py's
write path, copy-on-write upserts and the three index families, none
of which the ``serve`` mix touches.
"""

from __future__ import annotations

import json
import math
import time
from dataclasses import dataclass

import numpy as np

import checks
from harness import median, tree_bytes_files

TABLE = "docs"
K = 10


@dataclass
class Sizes:
    rows: int = 1500
    dim: int = 32
    clusters: int = 24
    vocab: int = 500
    sparse_dims: int = 1000
    batch: int = 150
    upsert_share: float = 0.2
    groups: int = 50
    ann: int = 4  # ANN searches per round
    text: int = 1  # BM25 searches per round
    sparse: int = 1  # sparse searches per round
    ann_clusters: int = 16
    buckets: int = 8


TINY = Sizes(rows=200, dim=8, clusters=4, vocab=50, sparse_dims=100, batch=40,
             groups=10, ann=3, text=1, sparse=1, ann_clusters=4, buckets=4)
# One round takes about this long on a 4-vCPU host; --seconds sets the
# number of timed rounds. One more round runs first, inside set-up.
ROUND_SECONDS = 8
WRITES = ("insert_df", "ann.refresh", "text.refresh", "sparse.refresh")
SEARCHES = ("ann", "bm25", "sparse")


def timed_rounds(seconds: int) -> int:
    """At least two, so throughput is a median over rounds."""
    return max(2, math.ceil(seconds / ROUND_SECONDS))


def schema(s: Sizes) -> dict:
    return {
        "name": TABLE,
        "fields": [
            {"name": "id", "dataType": "INT", "primaryKey": True},
            {"name": "vec", "dataType": "VECTOR_FLOAT", "dimensions": s.dim,
             "metricType": "EUCLIDEAN"},
            {"name": "body", "dataType": "STRING"},
            {"name": "sp", "dataType": "SPARSE_VECTOR_FLOAT", "dimensions": s.sparse_dims,
             "metricType": "DOT_PRODUCT"},
            {"name": "grp", "dataType": "INT"},
        ],
    }


def _batch(rng, ids, centers, words, p, s: Sizes) -> dict:
    n = len(ids)
    lab = rng.integers(0, len(centers), n)
    vec = (centers[lab] + rng.normal(size=(n, s.dim))).astype(np.float32)
    # lengths and nonzero counts are fixed multisets, so every seed
    # writes and indexes the same amount of text and postings
    body = [" ".join(rng.choice(words, size=m, p=p))
            for m in rng.permutation(np.resize(np.arange(5, 30), n))]
    sp = []
    for k in rng.permutation(np.resize(np.arange(3, 8), n)):
        k = int(k)
        idx = np.sort(rng.choice(s.sparse_dims, k, replace=False))
        sp.append({"indices": [int(i) for i in idx],
                   "values": [float(v) for v in rng.random(k).astype(np.float32)]})
    ids = np.asarray(ids, dtype=np.int64)
    return {"id": ids, "vec": vec, "body": body, "sp": sp, "grp": ids % s.groups}


def _record_bytes(b: dict) -> list[int]:
    """Raw size of each record: its JSON encoding."""
    return [
        len(json.dumps({"id": int(i), "vec": [float(x) for x in v], "body": t,
                        "sp": sp, "grp": int(g)}))
        for i, v, t, sp, g in zip(b["id"], b["vec"], b["body"], b["sp"], b["grp"])
    ]


def generate(seed: int, seconds: int, tiny: bool, data_dir: str) -> dict:
    s = TINY if tiny else Sizes()
    rng = np.random.default_rng(seed)
    # Clusters far enough apart that the IVF planner probes rather than
    # falling back to an exact scan (it does below a separation ratio
    # of 1), queried between two clusters, so the probe misses some
    # true neighbours: recall sits near 0.96 and can move either way.
    centers = rng.normal(size=(s.clusters, s.dim)) * 1.5
    words = np.array([f"w{i}" for i in range(s.vocab)])
    p = 1.0 / np.arange(1, s.vocab + 1) ** 1.1
    p /= p.sum()
    base = _batch(rng, range(s.rows), centers, words, p, s)
    live = {int(i): v for i, v in zip(base["id"], base["vec"])}
    raw = dict(zip(live, _record_bytes(base)))
    next_id = s.rows
    rounds = []
    for r in range(1 + timed_rounds(seconds)):
        n_up = int(s.batch * s.upsert_share)
        old = rng.choice(sorted(live), n_up, replace=False).tolist()
        ids = old + list(range(next_id, next_id + s.batch - n_up))
        next_id += s.batch - n_up
        batch = _batch(rng, ids, centers, words, p, s)
        sizes = _record_bytes(batch)
        for i, v, n in zip(batch["id"], batch["vec"], sizes):
            live[int(i)] = v
            raw[int(i)] = n
        searches = []
        # the warm-up round runs one search of each kind
        n_ann, n_text, n_sparse = (1, 1, 1) if r == 0 else (s.ann, s.text, s.sparse)
        for _ in range(n_ann):
            a, b = rng.choice(len(centers), 2, replace=False)
            q = ((centers[a] + centers[b]) / 2 + rng.normal(size=s.dim) / 2).astype(np.float32)
            searches.append(("ann", [float(x) for x in q]))
        for _ in range(n_text):
            searches.append(("bm25", " ".join(rng.choice(words[:50], 3, replace=False))))
        for _ in range(n_sparse):
            k = int(rng.integers(3, 6))
            idx = np.sort(rng.choice(s.sparse_dims, k, replace=False))
            searches.append(("sparse", {"indices": [int(i) for i in idx],
                                        "values": [float(v) for v in rng.random(k) + 0.5]}))
        group = (r * 7) % s.groups
        # exact top-10 over the live rows at search time (after upserts,
        # before this round's delete)
        ids_live = np.fromiter(live, dtype=np.int64)
        vecs = np.stack([live[int(i)] for i in ids_live])
        exact = []
        for kind, q in searches:
            if kind == "ann":
                d = checks.l2_squared(vecs, np.asarray(q))
                order = np.lexsort((ids_live, d))[:K]
                exact.append([int(i) for i in ids_live[order]])
            else:
                exact.append(None)
        gone = [i for i in live if i % s.groups == group]
        for i in gone:
            del live[i]
            del raw[i]
        rounds.append({"batch": batch, "searches": searches, "exact": exact, "live": ids_live,
                       "delete": f"grp = {group}", "deleted": len(gone),
                       "compact": r % 2 == 1, "user_bytes": sum(sizes)})
    return {"sizes": s, "base": base, "rounds": rounds, "live_rows": len(live),
            "live_bytes": sum(raw.values())}


def _frame(spark, schema, b: dict):
    import pandas as pd

    pdf = pd.DataFrame({"id": b["id"].astype(np.int32), "vec": list(b["vec"]), "body": b["body"],
                        "sp": b["sp"], "grp": b["grp"].astype(np.int32)})
    return spark.createDataFrame(pdf, schema)


def _timed(ctx, kind: str, fn):
    """Run one op under its own job group; returns (result, ms)."""
    with ctx.op(kind):
        t0 = time.perf_counter()
        out = fn()
        return out, (time.perf_counter() - t0) * 1000


def _round(ctx, t, rd: dict, s: Sizes, samples: dict, recalls: list, kinds) -> None:
    """One round, running the searches of the given kinds; the time of
    each op goes to ``samples`` by kind."""
    ops = ctx.ops
    df = _frame(ctx.spark, t.schema.to_spark_schema(), rd["batch"])
    n = len(rd["batch"]["id"])
    out, ms = _timed(ctx, "insert_df", lambda: t.insert_df(df, upsert=True))
    ops.record("insert_df", out.get("inserted") == n, f"insert_df reply {out}")
    samples.setdefault("insert_df", []).append(ms)
    for kind, fn, field in (("ann.refresh", t.refresh_index, "vec"),
                            ("text.refresh", t.refresh_text_index, "body"),
                            ("sparse.refresh", t.refresh_sparse_index, "sp")):
        out, ms = _timed(ctx, kind, lambda: fn(field))
        ops.record(kind, out.get("field") == field, f"{kind} reply {out}")
        samples.setdefault(kind, []).append(ms)
    live = set(rd["live"].tolist())
    for (kind, q), exact in zip(rd["searches"], rd["exact"]):
        if kind not in kinds:
            continue
        if kind == "ann":
            rows, ms = _timed(ctx, kind, lambda: t.search_indexed_df(
                q, query_field="vec", limit=K).collect())
            ids = [r["id"] for r in rows]
            ok, why = checks.check_ids(ids, live, K, exact=True)
            ops.record(kind, ok, why)
            recalls.append(checks.recall_at_k(ids, exact))
        elif kind == "bm25":
            rows, ms = _timed(ctx, kind, lambda: t.search_text_df(
                q, query_field="body", limit=K).collect())
            ok, why = checks.check_ids([r["id"] for r in rows], live, K, exact=False)
            scores = [r["_score"] for r in rows]
            if ok and any(b > a for a, b in zip(scores, scores[1:])):
                ok, why = False, f"scores not descending: {scores}"
            ops.record(kind, ok, why)
        else:
            rows, ms = _timed(ctx, kind, lambda: t.search_sparse_indexed_df(
                q, query_field="sp", limit=K).collect())
            got = [(r["id"], r["_distance"]) for r in rows]
            want = [(r["id"], r["_distance"])
                    for r in t.search_df(q, query_field="sp", limit=K).collect()]
            ok, why = checks.check_equal_ranking(got, want)
            ops.record(kind, ok, why)
        samples.setdefault(kind, []).append(ms)
    out, ms = _timed(ctx, "delete", lambda: t.delete(filter=rd["delete"]))
    ops.record("delete", out.get("deleted") == rd["deleted"], f"delete reply {out}")
    if rd["compact"]:
        out, ms = _timed(ctx, "compact", t.compact)
        ops.record("compact", out.get("segmentsAfter") == 1, f"compact reply {out}")


def run(ctx, inputs) -> dict:
    from vectordb_spark.catalog import Warehouse

    s = inputs["sizes"]
    db = Warehouse(ctx.spark, ctx.root).load_db("ingest")
    t = db.create_table(schema(s))
    out = t.insert_df(_frame(ctx.spark, t.schema.to_spark_schema(), inputs["base"]))
    ctx.ops.record("load", out.get("inserted") == s.rows, f"load reply {out}")
    t.rebuild("vec", k=s.ann_clusters)
    t.rebuild_text_index("body", buckets=s.buckets)
    t.rebuild_sparse_index("sp", buckets=s.buckets)
    _round(ctx, t, inputs["rounds"][0], s, {}, [], SEARCHES)
    # BM25 and sparse searches (two seconds each) feed only per-layer
    # metrics: an untimed run checks them in the warm-up round above and
    # spends its timed rounds on the writes and ANN searches that its
    # end-to-end metrics use; a traced run times all three kinds
    kinds = SEARCHES if ctx.tracer is not None else ("ann",)
    ctx.start_timed()
    samples: dict[str, list[float]] = {}
    recalls: list[float] = []
    for rd in inputs["rounds"][1:]:
        _round(ctx, t, rd, s, samples, recalls, kinds)
        if ctx.tracer is not None:
            ctx.tracer.user_bytes += rd["user_bytes"]
    out, ms = _timed(ctx, "vacuum", lambda: t.vacuum(keep_history=0, grace_seconds=0))
    ctx.ops.record("vacuum", isinstance(out, dict), f"vacuum reply {out}")
    ctx.end_timed()
    total = t.statistics()["totalRecords"]
    ctx.ops.record("row_count", total == inputs["live_rows"],
                  f"{total} rows, expected {inputs['live_rows']}")
    table_bytes, _ = tree_bytes_files(t.path)
    # rows made searchable per second: a round's batch over the time of
    # its insert_df and three refreshes, each taken as the median over
    # the timed rounds, so one slow round moves it no more than a median
    detail = {
        "ingest_rows_per_s": s.batch / (sum(median(samples[k]) for k in WRITES) / 1000),
        "ann_p50_ms": median(samples["ann"]),
        **{f"{k}_p50_ms": median(samples[k]) for k in ("bm25", "sparse") if k in samples},
        "ann_recall_at_10": sum(recalls) / len(recalls),
        "space_amp": table_bytes / inputs["live_bytes"],
        "samples": {k: len(v) for k, v in samples.items()},
    }
    return {
        "throughput_per_s": detail["ingest_rows_per_s"],
        "latency_p50_ms": detail["ann_p50_ms"],
        "detail": detail,
        "table_path": t.path,
    }
