"""Self-tests for the benchmark: tiny runs of every workload emit every
metric with its unit, and every output checker rejects a corrupted
result. The corruption is applied to the checker's input, never to the
program.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import sys

import numpy as np
import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [BENCH, ROOT]

import checks  # noqa: E402
import curate  # noqa: E402
import ingest  # noqa: E402
import run  # noqa: E402
import serve  # noqa: E402
from harness import Session, make_workdir, remove_workdir  # noqa: E402
from metrics import END_TO_END, PER_LAYER  # noqa: E402


def test_metric_names_match_benchmark_json():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == PER_LAYER
    assert {w["name"] for w in spec["workloads"]} <= set(run.WORKLOADS)


# ------------------------------------------------------------ tiny runs


@pytest.fixture(scope="module")
def session():
    workdir = make_workdir(ROOT, "selftest")
    s = Session(workdir, trace=True)
    yield s
    s.stop()
    remove_workdir(workdir)


@pytest.mark.parametrize("trace", [False, True], ids=["e2e", "traced"])
@pytest.mark.parametrize("workload", list(run.WORKLOADS))
def test_tiny_run_emits_every_metric(session, workload, trace):
    result = run.execute(workload, seed=5, seconds=4, trace=trace, tiny=True,
                         session=session)
    assert result["failed"] == 0, result["detail"]["failures"]
    assert result["correct"] and result["attempted"] > 0
    want = PER_LAYER if trace else END_TO_END
    assert {k: v["unit"] for k, v in result["metrics"].items()} == want
    values = {k: v["value"] for k, v in result["metrics"].items()}
    assert all(isinstance(v, float) and np.isfinite(v) for v in values.values())
    if not trace:
        assert all(v > 0 for v in values.values()), values
    else:
        assert values["trace.overhead_pct"] > 0
        assert values["spark.jobs_per_op"] > 0


# ------------------------------------------------------ checker rejects


def _topk_case(seed=0, n=200, dim=8, k=10):
    rng = np.random.default_rng(seed)
    ids = np.arange(n) * 3
    vecs = rng.normal(size=(n, dim)).astype(np.float32)
    q = rng.normal(size=dim).astype(np.float32).astype(np.float64)
    d = checks.l2_squared(vecs, q)
    order = np.argsort(d)[:k]
    got = [(int(ids[i]), float(d[i])) for i in order]
    return got, ids, vecs, q, k


def test_topk_accepts_exact_and_rejects_corruptions():
    got, ids, vecs, q, k = _topk_case()
    assert checks.check_topk(got, ids, vecs, q, k) == (True, "")
    swapped = [got[1], got[0]] + got[2:]
    wrong_id = [(got[0][0] + 1, got[0][1])] + got[1:]
    wrong_dist = [(got[0][0], got[0][1] * 1.001)] + got[1:]
    missing = got[:-1]
    not_best = got[:-1] + [(int(ids[-1]), float(checks.l2_squared(vecs[-1:], q)[0]))]
    dup = got[:-1] + [got[0]]
    for bad in (swapped, wrong_id, wrong_dist, missing, not_best, dup):
        ok, why = checks.check_topk(bad, ids, vecs, q, k)
        assert not ok and why


def test_records_counts_ids_and_ranking_reject_corruptions():
    expect = {1: {"id": 1, "cat": 3, "score": 0.25, "tag": "red"},
              2: {"id": 2, "cat": 4, "score": 0.5, "tag": "blue"}}
    got = [dict(expect[1]), dict(expect[2])]
    assert checks.check_records(got, expect, "id")[0]
    assert not checks.check_records([dict(expect[1], score=0.2500001), got[1]], expect, "id")[0]
    assert not checks.check_records([dict(expect[1], tag="x"), got[1]], expect, "id")[0]
    assert not checks.check_records(got[:1], expect, "id")[0]
    assert not checks.check_records(got + [{"id": 9}], expect, "id")[0]

    assert checks.check_counts({"inserted": 19, "skipped": 1}, {"inserted": 19, "skipped": 1})[0]
    assert not checks.check_counts({"inserted": 20, "skipped": 0}, {"inserted": 19, "skipped": 1})[0]
    assert not checks.check_counts({}, {"deleted": 10})[0]

    live = set(range(100))
    assert checks.check_ids(list(range(10)), live, 10, exact=True)[0]
    assert not checks.check_ids(list(range(9)), live, 10, exact=True)[0]
    assert not checks.check_ids([0] * 10, live, 10, exact=True)[0]
    assert not checks.check_ids(list(range(95, 105)), live, 10, exact=True)[0]
    assert checks.check_ids([3, 4], live, 10, exact=False)[0]
    assert not checks.check_ids([], live, 10, exact=False)[0]

    exact = [(1, 0.5), (2, 0.75)]
    assert checks.check_equal_ranking(list(exact), exact)[0]
    assert not checks.check_equal_ranking([(2, 0.75), (1, 0.5)], exact)[0]
    assert not checks.check_equal_ranking([(1, 0.5), (2, 0.7500001)], exact)[0]
    assert not checks.check_equal_ranking(exact[:1], exact)[0]
    assert checks.recall_at_k([1, 2, 3], [1, 2, 4]) == pytest.approx(2 / 3)


def test_serve_check_rejects_corrupted_replies():
    inputs = serve.generate(seed=7, seconds=4, tiny=True, data_dir="")
    model = inputs["model"]
    op = next(o for o in inputs["ops"] if o["kind"] == "filter_knn" and len(o["cand"]) >= 3)
    cand = op["cand"]
    d = checks.l2_squared(model.vec[cand], np.asarray(op["q"]))
    top = np.argsort(d)[: serve.K]
    records = [{"id": int(cand[i]), "tag": str(model.tag[cand[i]]), "@distance": float(d[i])}
               for i in top]
    tags: dict[str, int] = {}
    for r in records:
        tags[r["tag"]] = tags.get(r["tag"], 0) + 1
    facets = [[{"tag": t, "COUNT(*)": float(c)} for t, c in tags.items()]]
    reply = {"result": {"records": records, "facets": facets}}
    assert serve._check(op, 200, reply, model) == (True, "")
    wrong_facet = [[dict(facets[0][0], **{"COUNT(*)": facets[0][0]["COUNT(*)"] + 1})]
                   + facets[0][1:]]
    bad_replies = [
        {"result": {"records": records[::-1], "facets": facets}},
        {"result": {"records": records, "facets": wrong_facet}},
    ]
    for bad in bad_replies:
        assert not serve._check(op, 200, bad, model)[0]
    assert not serve._check(op, 500, {"message": "boom"}, model)[0]

    page = next(o for o in inputs["ops"] if o["kind"] == "get" and "filter" in o)
    rows = [model.record(i) for i in page["cand"][page["skip"]: page["skip"] + 20]]
    assert serve._check(page, 200, {"result": rows}, model)[0]
    outsider = next(i for i in range(len(model.live)) if i not in set(page["cand"]))
    assert not serve._check(page, 200, {"result": rows[:-1] + [model.record(outsider)]},
                            model)[0]


def test_oracle_digest_is_order_insensitive_and_exact(tmp_path):
    import duckdb

    from vectordb_spark.queries import all_oracles

    corpus = curate._corpus(np.random.default_rng(3), curate.TINY)
    path = str(tmp_path / "documents.parquet")
    corpus.to_parquet(path, index=False)
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{path}')")
    oracle = con.execute(all_oracles()["decontam_ngram_overlap"]).df()
    con.close()
    assert len(oracle) > 1
    shuffled = oracle.sample(frac=1.0, random_state=1).reset_index(drop=True)
    assert checks.check_oracle(shuffled[oracle.columns[::-1]], oracle)[0]
    nudged = oracle.copy()
    col = "contamination"
    nudged.loc[0, col] = np.nextafter(nudged.loc[0, col], 2.0)
    dropped = oracle.iloc[1:]
    renamed = oracle.rename(columns={col: "c"})
    for bad in (nudged, dropped, renamed, pd.concat([oracle.iloc[:-1], oracle.iloc[:1]])):
        assert not checks.check_oracle(bad, oracle)[0]


def test_ingest_inputs_plan_overlapping_clusters_and_fixed_rounds():
    a = ingest.generate(seed=4, seconds=15, tiny=True, data_dir="")
    b = ingest.generate(seed=4, seconds=15, tiny=True, data_dir="")
    assert len(a["rounds"]) == 1 + ingest.timed_rounds(15)
    assert [r["delete"] for r in a["rounds"]] == [r["delete"] for r in b["rounds"]]
    assert all(np.array_equal(x["batch"]["vec"], y["batch"]["vec"])
               for x, y in zip(a["rounds"], b["rounds"]))
