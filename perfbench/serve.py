"""``serve``: REST traffic from one closed-loop client.

An HTTP ``Client`` talks to an in-process ``make_server`` over a seeded
table (int key, 64-d EUCLIDEAN vector, int category, double score,
string tag). The op mix is about 35% knn, 25% filtered knn with one
facet, 20% get (key lists and filtered pages), 10% insert and 10%
delete, in a fixed order with seeded payloads, so the table's segment
list evolves identically on every run. Most of the time goes to the
driver and scheduler floor: planning, job scheduling, the per-request
table reopen, JSON and segment pruning.
"""

from __future__ import annotations

import json
import threading
import time
from dataclasses import dataclass

import numpy as np

import checks
from harness import median, p90

DB, TABLE = "bench", "items"
TAGS = ("red", "green", "blue", "cyan", "gray", "pink", "gold", "teal")
MIX = (("knn", 0.35), ("filter_knn", 0.25), ("get", 0.20), ("insert", 0.10), ("delete", 0.10))
# Op count per second of --seconds: requests take about half a second
# each on a 4-vCPU host, so at 24 s a run makes 48 timed requests, 17 of
# them knn.
OPS_PER_SECOND = 2.0
K = 10
WARMUP_ROUNDS = 2


@dataclass
class Sizes:
    rows: int = 20_000
    dim: int = 64
    clusters: int = 32
    insert_batch: int = 20
    delete_batch: int = 10


TINY = Sizes(rows=400, dim=8, clusters=4, insert_batch=5, delete_batch=3)


def schema(dim: int) -> dict:
    return {
        "name": TABLE,
        "fields": [
            {"name": "id", "dataType": "INT", "primaryKey": True},
            {"name": "vec", "dataType": "VECTOR_FLOAT", "dimensions": dim,
             "metricType": "EUCLIDEAN"},
            {"name": "cat", "dataType": "INT"},
            {"name": "score", "dataType": "DOUBLE"},
            {"name": "tag", "dataType": "STRING"},
        ],
    }


class Model:
    """The benchmark's own copy of the rows, indexed by id. A row's
    values never change once written (the mix has no upserts), so each
    op keeps only the ids that were live, and pass its filter, when it
    was issued."""

    def __init__(self, capacity: int, dim: int):
        self.vec = np.zeros((capacity, dim), dtype=np.float32)
        self.cat = np.zeros(capacity, dtype=np.int64)
        self.score = np.zeros(capacity, dtype=np.float64)
        self.tag = np.empty(capacity, dtype=object)
        self.live = np.zeros(capacity, dtype=bool)

    def put(self, ids, vec, cat, score, tag) -> None:
        self.vec[ids], self.cat[ids], self.score[ids], self.tag[ids] = vec, cat, score, tag
        self.live[ids] = True

    def record(self, i: int) -> dict:
        return {"id": int(i), "cat": int(self.cat[i]), "score": float(self.score[i]),
                "tag": str(self.tag[i])}


def _rows(rng, ids, centers, sizes: Sizes):
    n = len(ids)
    lab = rng.integers(0, len(centers), n)
    vec = (centers[lab] + rng.normal(size=(n, sizes.dim))).astype(np.float32)
    return vec, rng.integers(0, 20, n), rng.random(n), rng.choice(TAGS, n)


def schedule(n: int) -> list[str]:
    """``n`` op kinds in the mix's shares, evenly interleaved (smooth
    weighted round robin). The order is the same for every seed, so
    every op sees the same number of segments on every run; only the
    payloads are seeded."""
    current = {k: 0.0 for k, _ in MIX}
    out = []
    for _ in range(n):
        for k, share in MIX:
            current[k] += share
        pick = max(current, key=current.get)
        current[pick] -= 1.0
        out.append(pick)
    return out


def generate(seed: int, seconds: int, tiny: bool, data_dir: str) -> dict:
    """The base rows and the whole op sequence, with each op's expected
    reply computed against the reference model as it evolves."""
    sizes = TINY if tiny else Sizes()
    rng = np.random.default_rng(seed)
    # warm-up ops (two of each kind) run first, inside set-up: the
    # driver's JIT is still settling over the first ten requests
    kinds = [k for k, _ in MIX] * WARMUP_ROUNDS + schedule(
        max(len(MIX), round(seconds * OPS_PER_SECOND)))
    warmup = len(MIX) * WARMUP_ROUNDS
    capacity = sizes.rows + kinds.count("insert") * sizes.insert_batch
    centers = rng.normal(size=(sizes.clusters, sizes.dim)) * 1.5
    model = Model(capacity, sizes.dim)
    base_ids = np.arange(sizes.rows)
    base = _rows(rng, base_ids, centers, sizes)
    model.put(base_ids, *base)
    next_id = sizes.rows
    ops = []
    for kind in kinds:
        live_ids = np.nonzero(model.live)[0]
        if kind in ("knn", "filter_knn"):
            q = (centers[rng.integers(len(centers))] + rng.normal(size=sizes.dim)).astype(np.float32)
            op = {"kind": kind, "q": [float(x) for x in q]}
            if kind == "filter_knn":
                c, s = int(rng.integers(0, 20)), float(rng.choice([0.25, 0.5]))
                op["filter"] = f"cat = {c} AND score > {s}"
                op["cand"] = np.nonzero(model.live & (model.cat == c) & (model.score > s))[0]
            else:
                op["cand"] = live_ids
        elif kind == "get":
            if len(ops) % 2:
                keys = rng.choice(live_ids, 8, replace=False).tolist() + [int(capacity + 7)]
                op = {"kind": kind, "keys": [int(k) for k in keys],
                      "expect": {int(k): model.record(k) for k in keys if k < capacity}}
            else:
                c = int(rng.integers(0, 20))
                cand = np.nonzero(model.live & (model.cat == c))[0]
                skip = int(rng.integers(0, max(1, len(cand) - 20)))
                op = {"kind": kind, "filter": f"cat = {c}", "skip": skip, "cand": cand,
                      "n_expect": min(20, max(0, len(cand) - skip))}
        elif kind == "insert":
            ids = np.arange(next_id, next_id + sizes.insert_batch - 1)
            next_id += len(ids)
            vec, cat, score, tag = _rows(rng, ids, centers, sizes)
            dup = int(rng.choice(live_ids))  # already present: skipped
            records = [{"id": int(i), "vec": [float(x) for x in v], "cat": int(c),
                        "score": float(s), "tag": str(t)}
                       for i, v, c, s, t in zip(ids, vec, cat, score, tag)]
            records.append({**model.record(dup), "vec": [float(x) for x in model.vec[dup]]})
            op = {"kind": kind, "records": records,
                  "expect": {"inserted": len(ids), "skipped": 1},
                  "user_bytes": len(json.dumps(records))}
            model.put(ids, vec, cat, score, tag)
        else:  # delete: live keys plus one already gone
            keys = rng.choice(live_ids, sizes.delete_batch, replace=False)
            gone = np.nonzero(~model.live[: sizes.rows])[0]
            keys = [int(k) for k in keys] + ([int(gone[0])] if len(gone) else [])
            op = {"kind": kind, "keys": keys, "expect": {"deleted": sizes.delete_batch}}
            model.live[np.asarray(keys)] = False
        ops.append(op)
    return {"sizes": sizes, "base": (base_ids, *base), "ops": ops, "warmup": warmup,
            "live_rows": int(model.live.sum()), "model": model}


def _load(ctx, inputs) -> None:
    import pandas as pd

    from vectordb_spark.catalog import Warehouse

    sizes = inputs["sizes"]
    ids, vec, cat, score, tag = inputs["base"]
    db = Warehouse(ctx.spark, ctx.root).load_db(DB)
    t = db.create_table(schema(sizes.dim))
    pdf = pd.DataFrame({"id": ids.astype(np.int32), "vec": list(vec),
                        "cat": cat.astype(np.int32), "score": score, "tag": tag})
    out = t.insert_df(ctx.spark.createDataFrame(pdf, t.schema.to_spark_schema()))
    ctx.ops.record("load", out.get("inserted") == len(ids), f"load reply {out}")


def _call(client, op):
    kind = op["kind"]
    if kind in ("knn", "filter_knn"):
        kw = {}
        if kind == "filter_knn":
            kw = {"filter": op["filter"],
                  "facets": [{"group": ["tag"], "aggregate": ["COUNT(*)"]}]}
        return client.query(TABLE, query_vector=op["q"], limit=K,
                            response_fields=["id", "tag"], with_distance=True, **kw)
    if kind == "get":
        if "keys" in op:
            return client.get(TABLE, response_fields=["id", "cat", "score", "tag"],
                              primary_keys=op["keys"])
        return client.get(TABLE, response_fields=["id", "cat", "score", "tag"],
                          filter=op["filter"], skip=op["skip"], limit=20)
    if kind == "insert":
        return client.insert(TABLE, op["records"])
    return client.delete(TABLE, primary_keys=op["keys"])


def _check(op, code: int, reply: dict, model: Model) -> tuple[bool, str]:
    if code != 200:
        return False, f"HTTP {code}: {reply.get('message')}"
    kind, result = op["kind"], reply.get("result")
    if kind in ("knn", "filter_knn"):
        records = result if kind == "knn" else result["records"]
        got = [(r["id"], r["@distance"]) for r in records]
        ok, why = checks.check_topk(got, op["cand"], model.vec[op["cand"]], np.asarray(op["q"]), K)
        if ok and kind == "filter_knn":
            tags: dict[str, int] = {}
            for r in records:
                tags[r["tag"]] = tags.get(r["tag"], 0) + 1
            facet = {row["tag"]: int(row["COUNT(*)"]) for row in result["facets"][0]}
            if facet != tags:
                return False, f"facet {facet} != result tags {tags}"
        return ok, why
    if kind == "get":
        if "keys" in op:
            return checks.check_records(result, op["expect"], "id")
        if len(result) != op["n_expect"]:
            return False, f"page of {len(result)} rows, expected {op['n_expect']}"
        ids = [r["id"] for r in result]
        if not np.isin(ids, op["cand"]).all():
            return False, "page row is not a live row passing the filter"
        return checks.check_records(result, {i: model.record(i) for i in ids}, "id")
    return checks.check_counts(result or {}, op["expect"])


def throughput(samples: dict[str, list[float]], p50: dict[str, float]) -> float:
    """Requests per second of the closed loop: all timed requests over
    their total time, with each request's time taken as the median of
    its kind. A short stall on the host, or one slow request, then moves
    the figure no more than it moves that kind's median."""
    return sum(len(v) for v in samples.values()) / (
        sum(len(v) * p50[k] for k, v in samples.items()) / 1000)


def run(ctx, inputs) -> dict:
    from vectordb_spark.client import Client
    from vectordb_spark.server import make_server

    _load(ctx, inputs)
    server = make_server(ctx.spark, ctx.root, port=0)
    thread = threading.Thread(target=server.serve_forever, daemon=True)
    thread.start()
    try:
        client = Client(port=server.server_address[1])
        code, reply = client.load_db(DB)
        ctx.ops.record("load_db", code == 200, str(reply))
        model = inputs["model"]
        samples: dict[str, list[float]] = {}
        for n, op in enumerate(inputs["ops"]):
            if n == inputs["warmup"]:
                ctx.start_timed()
            with ctx.op(op["kind"], driver_thread=False):
                t0 = time.perf_counter()
                code, reply = _call(client, op)
                ms = (time.perf_counter() - t0) * 1000
            ok, why = _check(op, code, reply, model)
            ctx.ops.record(op["kind"], ok, why)
            if n >= inputs["warmup"]:
                samples.setdefault(op["kind"], []).append(ms)
                if op["kind"] == "insert" and ctx.tracer is not None:
                    ctx.tracer.user_bytes += op["user_bytes"]
        ctx.end_timed()
        code, reply = client.statistics(TABLE)
        ctx.ops.record("row_count", code == 200 and reply["result"]["totalRecords"]
                      == inputs["live_rows"], str(reply))
    finally:
        server.shutdown()
        server.server_close()
        thread.join(timeout=30)
    p50 = {k: median(v) for k, v in samples.items()}
    detail = {
        "ops_per_s": throughput(samples, p50),
        **{f"{k}_p50_ms": v for k, v in p50.items()},
        "serve.knn_p90_ms": p90(samples["knn"]),
        "serve.filter_knn_p90_ms": p90(samples["filter_knn"]),
        "serve.get_p90_ms": p90(samples["get"]),
        "samples": {k: len(v) for k, v in samples.items()},
    }
    return {
        "throughput_per_s": detail["ops_per_s"],
        "latency_p50_ms": detail["knn_p50_ms"],
        "detail": detail,
        "table_path": f"{ctx.root}/{DB}/{TABLE}",
    }
