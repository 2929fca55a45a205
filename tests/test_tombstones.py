"""Merge-on-read deletes: a delete commits per-segment ``_row_id``
tombstones and rewrites nothing. Each hazard is pinned on both write
paths — the driver (``serving``'s Arrow commit, the default for an
unpartitioned table) and Spark (``serving._snapshot`` patched to None)
— over copies of one shared three-segment table."""

from __future__ import annotations

import contextlib
import json
import os
import shutil
from unittest import mock

import pytest
from pyspark.sql import functions as F

from vectordb_spark import serving
from vectordb_spark.operators.matview import IncrementalAggView
from vectordb_spark.schema import FieldSchema, FieldType, TableSchema
from vectordb_spark.table import Table

SCHEMA = TableSchema(
    name="tomb",
    fields=[
        FieldSchema(name="id", field_type=FieldType.INT8, primary_key=True),
        FieldSchema(name="grp", field_type=FieldType.STRING),
        FieldSchema(name="val", field_type=FieldType.INT8),
        FieldSchema(
            name="v", field_type=FieldType.VECTOR_FLOAT, dimension=2, metric="EUCLIDEAN"
        ),
    ],
)
PATHS = ["driver", "spark"]


def _rec(i: int, val: int | None = None) -> dict:
    return {
        "id": i, "grp": "ab"[i % 2], "val": i % 100 if val is None else val,
        "v": [float(i % 100), float(i // 100)],
    }


@pytest.fixture(scope="module")
def seeded(spark, tmp_path_factory):
    """Three disjoint-range segments (ids 0-9, 100-109, 200-209), built
    once; each test works on a copy."""
    path = str(tmp_path_factory.mktemp("tomb") / "seed")
    t = Table(spark, SCHEMA, path)
    t._init_storage()
    for s in range(3):
        t.insert([_rec(s * 100 + i) for i in range(10)])
    return path


@pytest.fixture
def table(spark, seeded, tmp_path):
    path = str(tmp_path / "t")
    shutil.copytree(seeded, path)
    return Table(spark, SCHEMA, path)


@contextlib.contextmanager
def _on(path: str):
    """Row-path writes and reads on the driver, or forced onto Spark."""
    if path == "driver":
        yield
        return
    with mock.patch.object(serving, "_snapshot", lambda table, meta=None: None):
        yield


def _jobs(spark, fn):
    sc = spark.sparkContext
    group = f"tomb-{id(fn)}-{os.urandom(4).hex()}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _ids(df) -> list[int]:
    return sorted(r["id"] for r in df.select("id").collect())


@pytest.mark.parametrize("path", PATHS)
def test_redelete_counts_zero_and_reinsert(spark, table, path):
    t = table
    files0 = list(t._load_meta()["files"])
    with _on(path):
        res, jobs = _jobs(spark, lambda: t.delete(primary_keys=[103, 107]))
        assert res == {"deleted": 2}
        if path == "driver":
            assert jobs == 0
        # an already-deleted key counts 0, a live one still counts
        assert t.delete(primary_keys=[103, 5]) == {"deleted": 1}
        assert t.delete(primary_keys=[103]) == {"deleted": 0}
        meta = t._load_meta()
        assert meta["files"] == files0 and meta["row_count"] == 27
        assert {f: e["rows"] for f, e in meta["tombstones"].items()} == {
            files0[0]: 1, files0[1]: 2,
        }
        # ids live in the named file, never inline in the manifest
        with open(os.path.join(t.path, "_meta.json")) as fh:
            assert set(json.load(fh)["tombstones"][files0[1]]) == {"file", "rows"}
        assert t.insert([_rec(103, val=77)]) == {"inserted": 1, "skipped": 0}
        assert [r["val"] for r in t.get(primary_keys=[103, 107])["result"]] == [77]
        assert t.statistics() == {"totalRecords": 28}
        hits = t.query(query_vector=[3.0, 1.0], limit=3)["result"]
        assert 107 not in {r["id"] for r in hits} and 103 in {r["id"] for r in hits}
    assert _ids(t.df()) == sorted(
        [i for i in range(210) if i % 100 < 10 and i not in (5, 107)]
    )


@pytest.mark.parametrize("path", PATHS)
def test_upserts_over_tombstoned_segment(spark, table, path):
    t = table
    with _on(path):
        t.delete(primary_keys=[103, 104])
        # point upsert: rewrites the tombstoned segment through its
        # tombstone, which leaves with the rewritten dir
        t.insert([_rec(105, val=55)], upsert=True)
        meta = t._load_meta()
        assert "tombstones" not in meta
        assert any(f.startswith("cow_") for f in meta["files"])
        t.delete(primary_keys=[106])
        # insert_df upsert: a dead key comes back, a live one is replaced
        batch = spark.createDataFrame(
            [(104, "a", 44, [4.0, 1.0]), (108, "a", 88, [8.0, 1.0])],
            "id long, grp string, val long, v array<float>",
        )
        assert t.insert_df(batch, upsert=True)["inserted"] == 2
        got = {r["id"]: r["val"] for r in t.get(primary_keys=list(range(100, 110)))["result"]}
    assert got == {100: 0, 101: 1, 102: 2, 104: 44, 105: 55, 107: 7, 108: 88, 109: 9}
    assert t.statistics() == {"totalRecords": 28}
    assert t.df().count() == 28


@pytest.mark.parametrize("path", PATHS)
def test_changes_across_delete_and_compact(spark, table, path):
    t = table
    v0 = t._load_meta()["version"]
    with _on(path):
        t.delete(primary_keys=[103, 107])
        t.insert([_rec(104, val=44)], upsert=True)
        t.delete(filter="id = 200")
    v1 = t._load_meta()["version"]
    t.compact()
    v2 = t._load_meta()["version"]
    for pre in (False, True):
        upd = [("update_post", 104, 44), ("update_pre", 104, 4)] if pre else [
            ("update", 104, 44)
        ]
        want = sorted([("delete", 103, 3), ("delete", 107, 7), ("delete", 200, 0), *upd])
        for lo, hi in ((v0, v1), (v0, v2)):
            got = sorted(
                (r["_change_type"], r["id"], r["val"])
                for r in t.changes(lo, hi, update_preimages=pre).collect()
            )
            assert got == want, (lo, hi, pre)
        # the compact folds the tombstones: no change across it
        assert t.changes(v1, v2, update_preimages=pre).count() == 0
        # one tombstone step alone: the rows it deleted
        got = [(r["_change_type"], r["id"]) for r in t.changes(v1 - 1, v1, update_preimages=pre).collect()]
        assert got == [("delete", 200)]


@pytest.mark.parametrize("path", PATHS)
def test_time_travel_to_pre_delete_version(spark, table, path):
    t = table
    v0 = t._load_meta()["version"]
    before = _ids(t.df())
    with _on(path):
        t.delete(primary_keys=[1, 103])
        t.delete(primary_keys=[105])
    assert _ids(t.df(version=v0)) == before
    assert _ids(t.df(version=v0 + 1)) == [i for i in before if i not in (1, 103)]
    assert _ids(t.df()) == [i for i in before if i not in (1, 103, 105)]


def test_partitioned_and_clustered_tables_honour_tombstones(spark, tmp_path):
    """Neither layout is servable, so both delete on Spark."""
    part = Table(spark, SCHEMA, str(tmp_path / "p"), partition_by="grp")
    part._init_storage()
    for s in range(2):
        part.insert([_rec(s * 100 + i) for i in range(10)])
    v0 = part._load_meta()["version"]
    files0 = part._load_meta()["files"]
    assert part.delete(filter="id >= 3 AND id <= 6") == {"deleted": 4}
    meta = part._load_meta()
    assert meta["files"] == files0 and set(meta["tombstones"]) == {files0[0]}
    assert _ids(part.df()) == [0, 1, 2, 7, 8, 9, *range(100, 110)]
    assert _ids(part.df().where("grp = 'a'")) == [0, 2, 8, *range(100, 110, 2)]
    assert sorted(r["id"] for r in part.changes(v0).collect()) == [3, 4, 5, 6]

    clus = Table(spark, SCHEMA, str(tmp_path / "c"))
    clus._init_storage()
    clus.insert([_rec(i) for i in range(0, 200, 10)])
    clus.compact(cluster_by="v", k=2)
    assert clus.delete(primary_keys=[30, 40]) == {"deleted": 2}
    assert clus.partition_by == "_cluster" and clus._load_meta()["tombstones"]
    want = [i for i in range(0, 200, 10) if i not in (30, 40)]
    assert _ids(clus.df()) == want
    # 30 and 40 sat nearest; ties rank by _row_id
    near = clus.search_clustered_df([35.0, 0.0], limit=3, nprobe=2).collect()
    assert [r["id"] for r in near] == [130, 140, 20]


@pytest.mark.parametrize("path", PATHS)
def test_matview_refresh_across_delete_equals_recompute(spark, table, tmp_path, path):
    t = table
    mv = IncrementalAggView(t, str(tmp_path / "mv"), ["grp"], "val")
    mv.full_build()
    with _on(path):
        t.delete(primary_keys=[1, 3, 103])
        t.delete(filter="id >= 205")
    mv.refresh(force_incremental=True)
    full = IncrementalAggView(t, str(tmp_path / "mv2"), ["grp"], "val")
    full.full_build()

    def rows(view):
        return sorted((r["grp"], r["n_rows"], float(r["_sum_dec"])) for r in view.df().collect())

    assert rows(mv) == rows(full)


@pytest.mark.parametrize("path", PATHS)
def test_vacuum_keeps_referenced_tombstones(spark, table, path):
    t = table
    with _on(path):
        for k in (101, 102, 103):
            t.delete(primary_keys=[k])
    files = [h.get("tombstones", {}) for h in t._load_meta()["history"][-2:]]
    files = [e["file"] for tombs in files for e in tombs.values()]
    current = t._load_meta()["tombstones"]
    (cur,) = [e["file"] for e in current.values()]
    on_disk = lambda: {n for n in os.listdir(t.path) if n.startswith("tomb_")}  # noqa: E731
    assert len(on_disk()) == 3
    t.vacuum(keep_history=1, grace_seconds=0)
    # the newest history entry is the version before the last delete
    assert on_disk() == {cur, files[-1]}
    assert t.vacuum(grace_seconds=0)["removedSegments"] == 0
    assert on_disk() == {cur}
    with _on(path):
        assert t.get(primary_keys=[101, 102, 103, 104])["result"][0]["id"] == 104
    assert t.df().count() == 27


def test_tombstoned_read_adds_no_job_and_no_warm_compile(spark, table):
    t = table
    sc = spark.sparkContext
    metrics = getattr(
        getattr(sc._jvm.org.apache.spark.metrics.source, "CodegenMetrics$"), "MODULE$"
    )
    compiles = metrics.METRIC_COMPILATION_TIME()

    def read():
        return t.df().where(F.col("val") >= 2).groupBy("grp").count().collect()

    read()
    _, plain = _jobs(spark, read)
    t.delete(primary_keys=[4, 105])
    read()
    _, tombed = _jobs(spark, read)
    assert tombed == plain
    # a new tombstone (other ids, another count) compiles nothing new
    t.delete(primary_keys=[6, 7, 108, 203])
    c0 = compiles.getCount()
    got = read()
    assert compiles.getCount() - c0 == 0
    assert sorted((r["grp"], r["count"]) for r in got) == [("a", 9), ("b", 9)]
