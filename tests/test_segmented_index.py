"""The segmented-index lifecycle every index family shares
(vectordb_spark/segmented_index.py): a refresh that loses its commit
can be retried, and vacuum keeps exactly the live main, delta and
sidecar dirs — pinned once per family."""

from __future__ import annotations

import os

import pytest

from vectordb_spark.catalog import Warehouse
from vectordb_spark.schema import VectorDBError

SCHEMA = {
    "name": "segs",
    "fields": [
        {"name": "ID", "dataType": "INT", "primaryKey": True},
        {"name": "Body", "dataType": "STRING"},
        {"name": "Emb", "dataType": "VECTOR_FLOAT", "dimensions": 4,
         "metricType": "EUCLIDEAN"},
        {"name": "Sp", "dataType": "SPARSE_VECTOR_FLOAT", "dimensions": 100,
         "metricType": "EUCLIDEAN"},
    ],
}
_WORDS = ("spark", "merge", "window", "shuffle", "join", "scan")
Q = [0.3, 0.5, 0.2, 1.0]
SQ = {"indices": [3, 60], "values": [1.0, 2.0]}


def _row(i: int) -> dict:
    return {
        "ID": i,
        "Body": " ".join(_WORDS[(i * 5 + j) % 6] for j in range(2 + i % 4)),
        "Emb": [(i * 37 % 100) / 100.0, (i * 53 % 100) / 100.0,
                (i % 10) / 10.0, float(i % 3)],
        "Sp": {"indices": [i % 50, 50 + i % 37],
               "values": [1.0 + i % 4, 0.5 + i % 3]},
    }


def _hits(df, *cols):
    return [tuple(r[c] for c in ("ID", *cols)) for r in df.collect()]


def _text_search(t):
    return _hits(t.search_text_df("spark join", limit=50), "_score", "_terms")


def _text_exact(t):
    # a full rebuild indexes the current corpus from scratch
    # (test_text_index.py pins rebuilds to a naive BM25 recompute)
    t.rebuild_text_index("Body", buckets=4)
    return _text_search(t)


# family -> (dir prefix, build, refresh, indexed search, exact search)
FAMILIES = {
    "ivf": (
        "index_Emb_",
        lambda t: t.rebuild("Emb", k=4),
        lambda t: t.refresh_index("Emb"),
        lambda t: _hits(t.search_indexed_df(
            Q, query_field="Emb", limit=8, nprobe=4), "_distance"),
        lambda t: _hits(t.search_df(Q, query_field="Emb", limit=8),
                        "_distance"),
    ),
    "text": (
        "textindex_Body_",
        lambda t: t.rebuild_text_index("Body", buckets=4),
        lambda t: t.refresh_text_index("Body"),
        _text_search,
        _text_exact,
    ),
    "sparse": (
        "sparseindex_Sp_",
        lambda t: t.rebuild_sparse_index("Sp", buckets=8),
        lambda t: t.refresh_sparse_index("Sp"),
        lambda t: _hits(t.search_sparse_indexed_df(
            SQ, query_field="Sp", limit=8), "_distance"),
        lambda t: _hits(t.search_df(SQ, query_field="Sp", limit=8),
                        "_distance"),
    ),
}


@pytest.fixture
def wh(spark, tmp_path):
    w = Warehouse(spark, str(tmp_path / "wh"))
    w.load_db("segdb").create_table(SCHEMA).insert(
        [_row(i) for i in range(120)]
    )
    return w


@pytest.mark.parametrize("family", sorted(FAMILIES))
def test_refresh_retries_after_losing_its_commit(wh, family):
    """A refresh whose commit loses the manifest CAS to another writer
    fails with CONCURRENT_WRITE and leaves an orphan delta dir no
    manifest references; the retry reuses that dir name and must
    succeed (every index dir is written in overwrite mode)."""
    t = wh.load_db("segdb").table("segs")
    for _prefix, build, *_ in FAMILIES.values():
        build(t)
    t.insert([_row(200)])
    other = wh.load_db("segdb").table("segs")
    save = t._save_meta
    raced = []

    def racing_save(meta):
        # a second handle commits between this refresh's manifest load
        # and its commit (same thread: the writer lock is re-entrant)
        if not raced:
            raced.append(True)
            other.insert([_row(201)])
        return save(meta)

    _prefix, _build, refresh, indexed, exact = FAMILIES[family]
    t._save_meta = racing_save
    with pytest.raises(VectorDBError) as err:
        refresh(t)
    assert err.value.code == "CONCURRENT_WRITE"
    del t._save_meta
    assert refresh(t)["appendedRecords"] == 2
    assert indexed(t) == exact(t)


@pytest.mark.parametrize("family", sorted(FAMILIES))
def test_vacuum_keeps_live_index_dirs(wh, family):
    """vacuum keeps the live main and delta dirs (and the sparse norms
    sidecars) of an index, reclaims every dir of a superseded version
    after a rebuild, and the index still serves."""
    t = wh.load_db("segdb").table("segs")
    prefix, build, refresh, indexed, exact = FAMILIES[family]

    def index_dirs():
        return {d for d in os.listdir(t.path) if d.startswith(prefix)}

    build(t)
    t.insert([_row(i) for i in range(200, 210)])
    assert refresh(t)["appendedRecords"] == 10
    v1 = {f"{prefix}v1", f"{prefix}v1_delta1"}
    if family == "sparse":
        v1 |= {f"{prefix}v1_norms", f"{prefix}v1_delta1_norms"}
    assert index_dirs() == v1
    t.vacuum(grace_seconds=0)
    assert index_dirs() == v1
    build(t)
    out = t.vacuum(grace_seconds=0)
    assert out["removedSegments"] >= len(v1)
    v2 = {f"{prefix}v2"} | ({f"{prefix}v2_norms"} if family == "sparse" else set())
    assert index_dirs() == v2
    assert indexed(t) == exact(t)
