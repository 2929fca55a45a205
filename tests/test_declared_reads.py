"""Segment and index reads name their schema: ``Table.df()`` and every
family's ``SegmentedIndex.read`` build their DataFrame without a Spark
job (no parquet footer is inferred) and return the same field names,
types and order as a footer-inferred read of the same dirs; a search
opens only the probed leaves its manifest entry records; and the jobs
of an ANN, BM25 or sparse search do not grow with the number of
refreshes."""

from __future__ import annotations

import contextlib
import itertools
import os

import pytest
from pyspark.sql import functions as F

from vectordb_spark.schema import TableSchema
from vectordb_spark.table import (
    _SPARSE_NORMS,
    _SPARSE_POSTINGS,
    _TEXT_POSTINGS,
    Table,
    _ivf_postings,
)

SCHEMA = {
    "name": "reads",
    "fields": [
        {"name": "id", "dataType": "INT", "primaryKey": True},
        {"name": "tag", "dataType": "STRING"},
        {"name": "vec", "dataType": "VECTOR_FLOAT", "dimensions": 4,
         "metricType": "EUCLIDEAN"},
        {"name": "body", "dataType": "STRING"},
        {"name": "sp", "dataType": "SPARSE_VECTOR_FLOAT", "dimensions": 64,
         "metricType": "DOT_PRODUCT"},
    ],
}
_WORDS = ("spark", "merge", "window", "shuffle", "join", "scan", "sort")
_GROUP = itertools.count()


def _row(i: int) -> dict:
    dims = sorted({i % 64, (i * 7 + 5) % 64})
    return {
        "id": i,
        "tag": f"{i % 3:03d}",
        "vec": [float(i % 5), float(i % 7) / 2, float(i % 3), 1.0 + (i % 11) / 10],
        "body": " ".join(_WORDS[(i * 3 + j) % 7] for j in range(2 + i % 5)),
        "sp": {"indices": dims, "values": [1.0 + k + i % 3 for k in range(len(dims))]},
    }


def _table(spark, tmp_path, name, *, partition_by=None, n=60):
    t = Table(
        spark, TableSchema.from_json(SCHEMA), str(tmp_path / name),
        partition_by=partition_by,
    )
    t._init_storage()
    if n:
        t.insert([_row(i) for i in range(n)])
    return t


@contextlib.contextmanager
def _jobs(spark):
    """Counts the Spark jobs started inside the block."""
    sc = spark.sparkContext
    group = f"declared-reads-{next(_GROUP)}"
    sc.setJobGroup(group, "job-count pin")
    out: list[int] = []
    try:
        yield out
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    out.append(len(sc.statusTracker().getJobIdsForGroup(group)))


def _parent_read(t, files):
    """How a read without the manifest's schema records went: footer
    inference, except that a DECLARED partition column read with the
    declared schema; per-segment reads unioned on a partitioned table."""
    spark = t.spark
    reader = spark.read
    if t.partition_by and t.schema.get(t.partition_by) is not None:
        reader = reader.schema(t.schema.to_spark_schema(with_row_id=True))
    paths = [os.path.join(t.path, f) for f in files]
    if t.partition_by:
        df = reader.parquet(paths[0])
        for p in paths[1:]:
            df = df.unionByName(reader.parquet(p))
        return df
    return reader.parquet(*paths)


def _same_read(spark, t, df, files, tombstones=None):
    """``df`` holds ``files``' rows less those their ``tombstones``
    delete, with the schema the files were written with."""
    want = _parent_read(t, files)
    assert df.schema == want.schema
    dead = [e for f, e in (tombstones or {}).items() if f in files]
    if dead:
        want = want.where(~want["_row_id"].isin(t._dead_ids(*dead).tolist()))
    assert sorted(df.collect()) == sorted(want.collect())


def test_unpartitioned_df_and_time_travel(spark, tmp_path):
    t = _table(spark, tmp_path, "flat")
    v1 = t._load_meta()["version"]
    t.insert([_row(i) for i in range(60, 80)])
    t.delete(primary_keys=[3, 61])
    meta = t._load_meta()
    assert len(meta["files"]) >= 2
    with _jobs(spark) as jobs:
        now, then = t.df(), t.df(version=v1)
    assert jobs == [0]
    assert set(meta["tombstones"]) == set(meta["files"])
    _same_read(spark, t, now, meta["files"], meta["tombstones"])
    hist = {h["version"]: h["files"] for h in meta["history"]}
    _same_read(spark, t, then, hist[v1])


def test_string_partition_round_trips(spark, tmp_path):
    t = _table(spark, tmp_path, "strpart", partition_by="tag")
    t.insert([_row(i) for i in range(60, 70)])
    meta = t._load_meta()
    with _jobs(spark) as jobs:
        df = t.df()
    assert jobs == [0]
    _same_read(spark, t, df, meta["files"])
    assert df.columns[-1] == "tag"
    assert {r["tag"] for r in df.select("tag").collect()} == {"000", "001", "002"}
    assert t.scan_df("tag = '001'").count() == 23


def test_cluster_layout_after_compact(spark, tmp_path):
    t = _table(spark, tmp_path, "clustered")
    t.compact(cluster_by="vec", k=3)
    t.insert([_row(i) for i in range(60, 75)])
    meta = t._load_meta()
    assert t.partition_by == "_cluster" and len(meta["files"]) == 2
    with _jobs(spark) as jobs:
        df = t.df()
    assert jobs == [0]
    _same_read(spark, t, df, meta["files"])
    assert df.schema["_cluster"].dataType.simpleString() == "int"


def test_passed_through_columns_read_as_stored(spark, tmp_path):
    """``insert_df`` stores scalar columns as given (here an INT under
    the STRING ``tag``): the manifest notes those columns, and the read
    — and a compaction's rewrite — returns what was stored."""
    t = _table(spark, tmp_path, "passthrough", n=0)
    rows = [_row(i) for i in range(20)]
    frame = spark.createDataFrame(
        [(r["id"], i % 3, r["vec"], r["body"], r["sp"]) for i, r in enumerate(rows)],
        "id int, tag int, vec array<float>, body string, "
        "sp struct<indices:array<int>,values:array<float>>",
    )
    t.insert_df(frame)
    meta = t._load_meta()
    assert list(meta["segment_schemas"]) == meta["files"]
    with _jobs(spark) as jobs:
        df = t.df()
    assert jobs == [0]
    _same_read(spark, t, df, meta["files"])
    assert df.schema["tag"].dataType.simpleString() == "int"
    t.compact()
    _same_read(spark, t, t.df(), t._load_meta()["files"])


def _index_table(spark, tmp_path, name, itype="IVF"):
    t = _table(spark, tmp_path, name, n=80)
    t.rebuild("vec", index_type=itype, k=4)
    t.insert([_row(i) for i in range(80, 100)])
    t.refresh_index("vec")
    return t


@pytest.mark.parametrize("itype", ["IVF", "IVF_SQ8", "IVF_PQ"])
def test_ivf_postings_schema(spark, tmp_path, itype):
    t = _index_table(spark, tmp_path, f"ivf_{itype}", itype)
    info = t._ivf.entry(t._load_meta(), "vec")
    assert len(info["deltas"]) == 1
    with _jobs(spark) as jobs:
        got = t._ivf.read(info, _ivf_postings(info, "vec"))
    assert jobs == [0]
    for name in (info["dir"], *info["deltas"]):
        inferred = spark.read.parquet(t._ivf.path(name))
        assert inferred.schema == got.schema
        assert sorted(info["leaves"][name]) == sorted(
            r[0] for r in inferred.select("_cluster").distinct().collect()
        )
    assert got.count() == 100


def test_text_and_sparse_postings_schemas(spark, tmp_path):
    t = _table(spark, tmp_path, "postings", n=80)
    t.rebuild_text_index("body", buckets=4)
    t.rebuild_sparse_index("sp", buckets=8)
    t.insert([_row(i) for i in range(80, 100)])
    t.refresh_text_index("body")
    out = t.refresh_sparse_index("sp")
    assert out["appendedRecords"] == 20
    meta = t._load_meta()
    text, sparse = t._text.entry(meta, "body"), t._sparse.entry(meta, "sp")
    with _jobs(spark) as jobs:
        tp = t._text.read(text, _TEXT_POSTINGS)
        sp = t._sparse.read(sparse, _SPARSE_POSTINGS)
        norms = t._sparse.read(sparse, _SPARSE_NORMS, sidecar=True)
    assert jobs == [0]
    for fam, info, got in ((t._text, text, tp), (t._sparse, sparse, sp)):
        for name in (info["dir"], *info["deltas"]):
            assert spark.read.parquet(fam.path(name)).schema == got.schema
    for name in (sparse["norms_dir"], *sparse["norms_deltas"]):
        assert spark.read.parquet(t._sparse.path(name)).schema == norms.schema
    assert norms.count() == 100
    # phrase search reads the positional postings (_pos)
    rows = t.search_text_df("spark merge", query_field="body", limit=100, phrase=True)
    assert rows.count() > 0


def test_search_opens_only_probed_leaves(spark, tmp_path):
    """A probed read lists only the recorded leaves it needs; a dir
    holding none of them is skipped; past the parallel-discovery
    threshold or without a leaf list it reads the whole dir — all with
    the same rows."""
    t = _table(spark, tmp_path, "leaves", n=80)
    t.rebuild_sparse_index("sp", buckets=8)
    info = t._sparse.entry(t._load_meta(), "sp")
    probe = [info["leaves"][info["dir"]][0]]

    def read(entry):
        return t._sparse.read(
            entry, _SPARSE_POSTINGS,
            lambda d: d.where(F.col("_db").isin(probe)), probe=probe,
        )

    df = read(info)
    dirs = {os.path.basename(os.path.dirname(f)) for f in df.inputFiles()}
    assert dirs == {f"_db={probe[0]}"}
    want = sorted(df.collect())
    assert read({**info, "leaves": {}}).count() == len(want)
    assert read({**info, "leaves": {info["dir"]: [99]}}).count() == 0
    key = "spark.sql.sources.parallelPartitionDiscovery.threshold"
    spark.conf.set(key, "0")
    try:
        assert sorted(read(info).collect()) == want
    finally:
        spark.conf.unset(key)


def _round(t, start, n):
    t.insert([_row(i) for i in range(start, start + n)])
    t.refresh_index("vec")
    t.refresh_text_index("body")
    t.refresh_sparse_index("sp")


def _search_jobs(spark, t):
    q = [2.0, 1.5, 1.0, 1.2]
    searches = {
        "ann": lambda: t.search_indexed_df(q, query_field="vec", limit=5, nprobe=2),
        "bm25": lambda: t.search_text_df("spark join", query_field="body", limit=5),
        "sparse": lambda: t.search_sparse_indexed_df(
            {"indices": [5, 12], "values": [1.0, 2.0]}, query_field="sp", limit=5
        ),
    }
    out = {}
    for kind, search in searches.items():
        with _jobs(spark) as jobs:
            search().collect()
        out[kind] = jobs[0]
    return out


def test_search_jobs_flat_in_refresh_count(spark, tmp_path):
    t = _table(spark, tmp_path, "jobs", n=80)
    t.rebuild("vec", k=4)
    t.rebuild_text_index("body", buckets=8)
    t.rebuild_sparse_index("sp", buckets=8)
    _round(t, 80, 10)
    after_one = _search_jobs(spark, t)
    for r in range(3):
        _round(t, 90 + 10 * r, 10)
    info = t._ivf.entry(t._load_meta(), "vec")
    assert len(info["deltas"]) == 4
    assert _search_jobs(spark, t) == after_one
    assert after_one["ann"] <= 2
