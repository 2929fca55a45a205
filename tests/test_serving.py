"""The driver-resident serving tier (vectordb_spark/serving.py) against
the Spark path it stands in for: bit-identical replies per metric, zero
Spark jobs when it answers, the Spark path for every fallback reason,
and no stale cache entry after a mutation or a drop and re-create."""

from __future__ import annotations

import contextlib
import json
import os
from unittest import mock

import numpy as np
import pyarrow as pa
import pytest

from vectordb_spark import serving
from vectordb_spark.catalog import Warehouse
from vectordb_spark.schema import FieldSchema, FieldType, TableSchema, VectorDBError
from vectordb_spark.table import Table

DIM = 8
TAGS = ("red", "green", "blue", "rose")


def _schema(metric: str, name: str = "") -> dict:
    return {
        "name": name or f"items_{metric.lower()}",
        "fields": [
            {"name": "id", "dataType": "INT", "primaryKey": True},
            {"name": "vec", "dataType": "VECTOR_FLOAT", "dimensions": DIM,
             "metricType": metric},
            {"name": "cat", "dataType": "INT"},
            {"name": "score", "dataType": "DOUBLE"},
            {"name": "f", "dataType": "FLOAT"},
            {"name": "flag", "dataType": "BOOL"},
            {"name": "tag", "dataType": "STRING"},
            {"name": "meta", "dataType": "JSON"},
            {"name": "loc", "dataType": "GEO_POINT"},
        ],
    }


def _records(ids, rng) -> list[dict]:
    out = []
    for i in ids:
        # every 7th row repeats one vector: exact distance ties that
        # only the _row_id tie-break orders
        v = np.full(DIM, 0.5) if i % 7 == 0 else rng.normal(size=DIM)
        out.append({
            "id": int(i), "vec": [float(x) for x in v], "cat": int(i % 4),
            "score": float(rng.random()), "f": float(np.float32(rng.random())),
            "flag": bool(i % 3 == 0), "tag": TAGS[int(rng.integers(len(TAGS)))],
            "meta": {"k": int(i)},
            "loc": {"latitude": float(i % 90), "longitude": float(-i % 180)},
        })
    return out


def _build(spark, db, metric: str, name: str = ""):
    """Three segments: two row-path inserts and an ``insert_df`` batch,
    each with a row a delete tombstoned."""
    rng = np.random.default_rng(7)
    t = db.create_table(_schema(metric, name))
    t.insert(_records(range(0, 40), rng))
    t.insert(_records(range(40, 80), rng))
    recs = _records(range(80, 120), rng)
    rows = [
        (r["id"], r["vec"], r["cat"], r["score"], r["f"], r["flag"], r["tag"],
         json.dumps(r["meta"]), (r["loc"]["latitude"], r["loc"]["longitude"]))
        for r in recs
    ]
    t.insert_df(spark.createDataFrame(rows, t.schema.to_spark_schema()))
    t.delete(primary_keys=[3, 45, 90])
    return t


@pytest.fixture(scope="module")
def db(spark, tmp_path_factory):
    return Warehouse(spark, str(tmp_path_factory.mktemp("serving"))).load_db("db")


@pytest.fixture(scope="module", params=["EUCLIDEAN", "DOT_PRODUCT", "COSINE"])
def table(request, spark, db):
    return _build(spark, db, request.param)


@pytest.fixture(scope="module")
def l2_table(spark, db):
    return _build(spark, db, "EUCLIDEAN", "fallback")


def _jobs(spark, fn):
    """``fn()`` and the number of Spark jobs it ran."""
    sc = spark.sparkContext
    group = f"serving-{id(fn)}-{os.urandom(4).hex()}"
    sc.setJobGroup(group, "serving tier job count")
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


@contextlib.contextmanager
def _spark_path():
    with mock.patch.object(serving, "_snapshot", lambda table, meta=None: None):
        yield


def _bits(v):
    """Floats by their exact bits, facets as sorted lists."""
    if isinstance(v, float):
        return v.hex()
    if isinstance(v, dict):
        return {k: _bits(x) for k, x in v.items()}
    if isinstance(v, list):
        return [_bits(x) for x in v]
    return v


def _reply_bits(out: dict) -> dict:
    got = {"result": _bits(out["result"])}
    if "facets" in out:
        got["facets"] = [
            sorted(_bits(f), key=lambda g: json.dumps(g, sort_keys=True))
            for f in out["facets"]
        ]
    return got


def _assert_parity(spark, call):
    """The tier answers ``call`` with zero Spark jobs, bit-identical to
    the Spark path."""
    served, jobs = _jobs(spark, call)
    assert jobs == 0, "a served request ran Spark jobs"
    with _spark_path():
        reference, ref_jobs = _jobs(spark, call)
    assert ref_jobs > 0
    assert _reply_bits(served) == _reply_bits(reference)
    return served


FACETS = [
    {"group": ["tag"], "aggregate": ["COUNT(*)", "SUM(score)", "MIN(@distance)", "MAX(cat)"]},
    {"aggregate": ["SUM(f)", "COUNT(*)", "MAX(score * 2)", "MIN(cat - score)"]},
    {"group": ["cat > 1"], "aggregate": ["SUM(@distance)"]},
]


def test_query_parity(spark, table):
    q = [0.5] * DIM
    _assert_parity(spark, lambda: table.query(query_vector=q, limit=10, with_distance=True))
    ties = _assert_parity(spark, lambda: table.query(
        query_vector=q, limit=200, response=["id", "tag", "@distance"]))
    tied = [r["id"] for r in ties["result"] if r["id"] % 7 == 0]
    assert len(tied) > 10 and tied == sorted(tied), "equal distances rank by _row_id"
    far = [-1.0, 2.0, 0.3, -0.7, 1.1, 0.0, -2.5, 0.9]
    for flt in [
        "cat = 2 AND score > 0.25",
        "tag IN ('red', 'blue') OR (NOT flag)",
        "tag LIKE 'r%' AND (score / cat) > 0.1",
        "@distance < 0.9 AND (NOT (cat = 1))",
        "cat = 99",
    ]:
        _assert_parity(spark, lambda flt=flt: table.query(
            query_vector=far, limit=15, filter=flt, response=["id", "tag"],
            with_distance=True, facets=FACETS))
    _assert_parity(spark, lambda: table.query(query_vector=far, limit=0, facets=FACETS[1:2]))


def test_get_parity(spark, table):
    calls = [
        lambda: table.get(primary_keys=[1, 3, 7, 45, 88, 500]),
        lambda: table.get(filter="cat = 1", skip=3, limit=5,
                          response=["id", "cat", "score", "tag"],
                          facets=[{"group": ["cat"], "aggregate": ["COUNT(*)", "SUM(score)"]}]),
        lambda: table.get(),
        lambda: table.get(filter="flag", limit=1000, response=["id", "f", "loc", "meta"]),
        lambda: table.get(primary_keys=[0, 7, 14, 21, 28], filter="score > 0.2",
                          facets=[{"aggregate": ["MIN(f)", "MAX(id)"]}]),
    ]
    for call in calls:
        _assert_parity(spark, call)


def test_fallback_reasons_run_spark(spark, l2_table, monkeypatch):
    q = [0.5] * DIM
    served, jobs = _jobs(spark, lambda: l2_table.query(query_vector=q, limit=5))
    assert jobs == 0
    for kw in [
        {"filter": "(cat % 3) = 1"},
        {"filter": "tag LIKE 'r\\%'"},
        {"filter": "NEARBY(loc, 10.0, 10.0, 500.0)"},
        {"facets": [{"group": ["f"], "aggregate": ["COUNT(*)"]}]},
    ]:
        _out, jobs = _jobs(spark, lambda kw=kw: l2_table.query(query_vector=q, limit=5, **kw))
        assert jobs > 0, f"{kw} must run the Spark path"
    # the byte cap: a table whose live rows decode to more than the
    # cache holds is answered by Spark, not re-read on every request
    size = serving._decoded_bytes(l2_table.schema, l2_table._load_meta())
    monkeypatch.setattr(serving.CACHE, "max_bytes", size)
    _out, jobs = _jobs(spark, lambda: l2_table.query(query_vector=q, limit=5))
    assert jobs == 0, "a table at the byte cap is served"
    monkeypatch.setattr(serving.CACHE, "max_bytes", size - 1)
    out, jobs = _jobs(spark, lambda: l2_table.query(query_vector=q, limit=5))
    assert jobs > 0, "a table above the byte cap must run the Spark path"
    assert out == served
    _out, jobs = _jobs(spark, lambda: l2_table.get(primary_keys=[1, 2]))
    assert jobs > 0


def test_decoded_size_estimate_covers_vectors(l2_table):
    """The routing estimate counts every dense vector's float32 payload,
    so a table of wide vectors cannot slip under the byte cap."""
    meta = l2_table._load_meta()
    assert serving._decoded_bytes(l2_table.schema, meta) >= meta["row_count"] * DIM * 4
    wide = TableSchema(name="wide", fields=[
        FieldSchema(name="id", field_type=FieldType.INT8, primary_key=True),
        FieldSchema(name="vec", field_type=FieldType.VECTOR_FLOAT, dimension=1536,
                    metric="COSINE"),
    ])
    rows = 200_000
    assert serving._decoded_bytes(wide, {"row_count": rows, "files": []}) > serving.CACHE_BYTES


def _folded_rows(spark, call) -> int:
    """Rows ``call``'s served reply put through the distance fold, after
    checking the reply against the Spark path's bits."""
    with mock.patch.object(serving, "fold_distances", wraps=serving.fold_distances) as fold:
        _assert_parity(spark, call)
    return sum(len(c.args[1]) for c in fold.call_args_list)


def test_small_segments_skip_the_prefilter(spark, l2_table):
    """Segments of at most ``_PREFILTER_MIN_ROWS`` rows fold whole,
    tombstoned rows included (they are dropped after the fold)."""
    assert max(s.rows.num_rows for s in serving._snapshot(l2_table).values()) <= (
        serving._PREFILTER_MIN_ROWS
    )
    rows = l2_table.statistics()["totalRecords"] + 3
    assert _folded_rows(spark, lambda: l2_table.query(
        query_vector=[0.5] * DIM, limit=5, with_distance=True)) == rows


@mock.patch.object(serving, "_PREFILTER_MIN_ROWS", 0)
def test_prefilter_fallbacks_match_spark(spark, l2_table, tmp_path):
    """Each case that skips the knn prefilter folds every row and still
    answers bit-identically; a plain knn folds only its candidates. The
    segments here are small, so the prefilter is forced on for them.
    Every row includes the three tombstoned ones: a full fold folds
    them and then drops them."""
    rows = l2_table.statistics()["totalRecords"] + 3
    q = [0.5] * DIM
    assert _folded_rows(spark, lambda: l2_table.query(
        query_vector=q, limit=5, with_distance=True)) < rows
    for call in [
        # a filter on @distance applies after scoring
        lambda: l2_table.query(query_vector=q, limit=5, filter="@distance > 2.0",
                               with_distance=True),
        # limit ≥ rows
        lambda: l2_table.query(query_vector=q, limit=rows, with_distance=True),
        # float32(q) overflows: no finite approximate distance
        lambda: l2_table.query(query_vector=[1e39] + q[1:], limit=5, with_distance=True),
    ]:
        assert _folded_rows(spark, call) == rows
    assert _folded_rows(spark, lambda: l2_table.query(query_vector=q, limit=0)) == 0
    # a segment holding an inf element has no norms to bound with
    t = Table(spark, _small_schema("inf"), str(tmp_path / "inf"))
    t._init_storage()
    t.insert([{"id": i, "vec": [float(i), 1.0], "cat": 0} for i in range(20)])
    t.insert([{"id": 20 + i, "vec": [float(i), 0.5], "cat": 1} for i in range(20)]
             + [{"id": 99, "vec": [float("inf"), 0.0], "cat": 1}])
    assert 21 < _folded_rows(spark, lambda: t.query(
        query_vector=[2.0, 0.75], limit=3, with_distance=True)) < 41
    assert _folded_rows(spark, lambda: t.query(
        query_vector=[2.0, 0.75], limit=3, filter="cat = 1", with_distance=True)) == 21


def test_segment_bytes_count_the_norms(l2_table):
    """The cached per-row norms (8 bytes a row per dense field) count
    against the cache's byte cap."""
    segs = serving._snapshot(l2_table)
    assert len(segs) > 1
    for seg in segs.values():
        norms = seg.norms["vec"]
        assert norms.dtype == np.float64 and len(norms) == seg.rows.num_rows
        assert seg.nbytes == seg.rows.nbytes + norms.nbytes
    meta = l2_table._load_meta()
    assert serving._decoded_bytes(l2_table.schema, meta) >= meta["row_count"] * (DIM * 4 + 8)


def _small_schema(name: str, extra: list[FieldSchema] = ()) -> TableSchema:
    return TableSchema(name=name, fields=[
        FieldSchema(name="id", field_type=FieldType.INT8, primary_key=True),
        FieldSchema(name="vec", field_type=FieldType.VECTOR_FLOAT, dimension=2,
                    metric="EUCLIDEAN"),
        FieldSchema(name="cat", field_type=FieldType.INT4),
        *extra,
    ])


def test_fallback_table_layouts_run_spark(spark, tmp_path):
    recs = [{"id": i, "vec": [float(i), 1.0], "cat": i % 2} for i in range(6)]
    part = Table(spark, _small_schema("part"), str(tmp_path / "part"), partition_by="cat")
    part._init_storage()
    part.insert(recs)
    sparse = Table(spark, _small_schema("sp", [FieldSchema(
        name="sv", field_type=FieldType.SPARSE_VECTOR_FLOAT, dimension=8,
        metric="DOT_PRODUCT")]), str(tmp_path / "sp"))
    sparse._init_storage()
    sparse.insert([{**r, "sv": {"indices": [1], "values": [1.0]}} for r in recs])
    for t in (part, sparse):
        out, jobs = _jobs(spark, lambda t=t: t.query(
            query_vector=[0.0, 1.0], query_field="vec", limit=2))
        assert jobs > 0 and [r["id"] for r in out["result"]] == [0, 1]
        out, jobs = _jobs(spark, lambda t=t: t.get(primary_keys=[4]))
        assert jobs > 0 and [r["id"] for r in out["result"]] == [4]


def test_fallback_bad_vector_segments_run_spark(spark, tmp_path):
    """A segment holding a NULL, an off-width or a NULL-element vector
    (only writable around insert_df's validation) sends the request to
    Spark, which ranks the NULL distance first."""
    t = Table(spark, _small_schema("bad"), str(tmp_path / "bad"))
    t._init_storage()
    t.insert([{"id": i, "vec": [float(i), 0.0], "cat": 0} for i in range(4)])
    good = list(t._load_meta()["files"])
    out, jobs = _jobs(spark, lambda: t.get())
    assert jobs == 0 and len(out["result"]) == 4
    for n, vec in enumerate([None, [1.0, 2.0, 3.0], [1.0, None]]):
        df = spark.createDataFrame(
            [(100 + n, vec, 0, 1000 + n)],
            "id long, vec array<float>, cat int, _row_id long",
        )
        meta = t._load_meta()
        name = f"add_bad{n}"
        t._commit(meta, good, {name: t._write_segment_observed(df, name, meta)},
                  meta["next_row_id"] + 1)
        out, jobs = _jobs(spark, lambda: t.query(
            query_vector=[0.0, 0.0], limit=3, response=["id"]))
        assert jobs > 0, f"bad vector {vec} must run the Spark path"
        assert out["result"][0] == {"id": 100 + n}
        out, jobs = _jobs(spark, lambda: t.get(primary_keys=[1]))
        assert jobs > 0 and [r["id"] for r in out["result"]] == [1]


def test_bigint_beyond_double_precision_parity(spark, tmp_path):
    """BIGINT values and literals above 2**53 widen to the nearest
    double, as Spark's cast does, instead of failing the request."""
    t = Table(spark, _small_schema("big"), str(tmp_path / "big"))
    t._init_storage()
    ids = [2**53 + 1, 2**62 + 7, -(2**63) + 5, 2**63 - 1, 3]
    t.insert([{"id": i, "vec": [float(n), 1.0], "cat": n} for n, i in enumerate(ids)])
    q = [0.0, 1.0]
    for flt in [
        f"id = {2**53 + 1}",
        f"id > {2**53}",
        "(id + 1) > 0 OR cat = 4",
        f"(id / {2**62 + 1}) >= 1",
    ]:
        _assert_parity(spark, lambda flt=flt: t.query(
            query_vector=q, limit=5, filter=flt, with_distance=True,
            facets=[{"group": ["cat"], "aggregate": ["SUM(id)", "MIN(id)"]}]))
    _assert_parity(spark, lambda: t.query(
        query_vector=q, limit=5,
        facets=[{"aggregate": ["SUM(id)", "MIN(id)", "MAX(id)", "COUNT(*)"]}]))
    _assert_parity(spark, lambda: t.get(primary_keys=[2**63 - 1, 2**53 + 1]))
    _assert_parity(spark, lambda: t.get(filter=f"id <> {2**53 + 1}", limit=3))


def _cached_dirs(t) -> set[str]:
    root = os.path.realpath(t.path)
    return {k[1] for k in serving.CACHE.keys() if k[0] == root}


def _live_names(t) -> set[str]:
    """The dirs and tombstone files of ``t``'s current manifest."""
    meta = t._load_meta()
    return set(meta["files"]) | {e["file"] for e in meta.get("tombstones", {}).values()}


def test_tier_never_answers_from_a_stale_entry(spark, db):
    t = db.create_table(_schema("EUCLIDEAN", "stale"))
    rng = np.random.default_rng(3)
    t.insert(_records(range(0, 30), rng))
    t.insert(_records(range(30, 60), rng))
    q = [3.0] * DIM

    def top() -> list[int]:
        out = _assert_parity(spark, lambda: t.query(query_vector=q, limit=3, with_distance=True))
        assert _cached_dirs(t) == _live_names(t)
        return [r["id"] for r in out["result"]]

    before = top()
    t.insert([{**_records([900], rng)[0], "vec": q}])
    assert top() == [900] + before[:2]
    t.delete(primary_keys=[900, before[0]])
    assert top()[:2] == before[1:]
    t.compact()
    assert top()[:2] == before[1:]


def test_drop_and_create_starts_empty(spark, db):
    """Dropping a table removed only its catalog entry, so a re-created
    table of the same name adopted the old manifest and its rows. The
    re-created table's first insert reuses the old first segment's dir
    name (``add_1``), so the knn also pins that the cache keys entries
    by data-file names, not by dir name alone."""
    schema = _schema("EUCLIDEAN", "again")
    rng = np.random.default_rng(5)
    t = db.create_table(schema)
    t.insert(_records([1, 2], rng))
    old = t.query(query_vector=[0.0] * DIM, limit=5)
    assert sorted(r["id"] for r in old["result"]) == [1, 2]
    db.drop_table("again")
    t = db.create_table(schema)
    assert t.statistics() == {"totalRecords": 0}
    assert t.insert(_records([1, 3], rng)) == {"inserted": 2, "skipped": 0}
    assert t._load_meta()["files"] == ["add_1"]
    out = t.query(query_vector=[0.0] * DIM, limit=5)
    assert sorted(r["id"] for r in out["result"]) == [1, 3]
    assert t.statistics() == {"totalRecords": 2}


def test_insert_df_rejects_null_and_off_width_vectors(spark, tmp_path):
    """Both ingest routes reject a bad dense vector with the same
    INVALID_RECORD; a NULL element used to raise TypeError on the row
    path and get stored by ``insert_df``."""
    t = Table(spark, _small_schema("vals"), str(tmp_path / "vals"))
    t._init_storage()
    t.insert([{"id": 1, "vec": [1.0, 1.0], "cat": 0}])
    for vec, message in [
        (None, "Field vec is missing in the record."),
        ([1.0, 2.0, 3.0], "Vector field vec must have dimension 2."),
        ([1.0], "Vector field vec must have dimension 2."),
        ([1.0, None], "Vector field vec must not hold NULL elements."),
    ]:
        df = spark.createDataFrame(
            [(2, [0.0, 0.0], 0), (3, vec, 1)], "id long, vec array<float>, cat int"
        )
        for write in (
            lambda: t.insert_df(df),
            lambda: t.insert([{"id": 3, "vec": vec, "cat": 1}]),
        ):
            with pytest.raises(VectorDBError) as e:
                write()
            assert (e.value.code, e.value.message) == ("INVALID_RECORD", message)
    assert t.statistics() == {"totalRecords": 1}
    out = t.query(query_vector=[0.0, 0.0], limit=5, with_distance=True)
    assert [r["id"] for r in out["result"]] == [1]


def test_insert_df_reply_counts_skipped_rows(spark, tmp_path):
    """A plain ``insert_df`` reply counts batch duplicates and PK
    conflicts as skipped, as the row path does (it used to say 0)."""
    rows = [(3, [3.0, 0.0], 0), (4, [4.0, 0.0], 0), (4, [4.5, 0.0], 1)]
    replies = []
    for name, write in [
        ("rows", lambda t: t.insert(
            [{"id": i, "vec": v, "cat": c} for i, v, c in rows])),
        ("frame", lambda t: t.insert_df(spark.createDataFrame(
            rows, "id long, vec array<float>, cat int"))),
    ]:
        t = Table(spark, _small_schema(name), str(tmp_path / name))
        t._init_storage()
        t.insert([{"id": 3, "vec": [0.0, 0.0], "cat": 0}])
        replies.append(write(t))
    assert replies == [{"inserted": 1, "skipped": 2}] * 2


def _build_with_nulls(spark, db, metric: str, name: str):
    """``_build`` plus an ``insert_df`` batch whose scalar columns hold
    NULLs, which only that route can store."""
    t = _build(spark, db, metric, name)
    rng = np.random.default_rng(11)
    rows = [
        (r["id"], r["vec"], None if r["id"] % 3 else r["cat"],
         None if r["id"] % 4 == 1 else r["score"], r["f"], r["flag"],
         None if r["id"] % 5 == 2 else r["tag"], json.dumps(r["meta"]),
         (r["loc"]["latitude"], r["loc"]["longitude"]))
        for r in _records(range(120, 150), rng)
    ]
    declared = t.schema.to_spark_schema()
    nullable = type(declared)([type(f)(f.name, f.dataType, True) for f in declared])
    t.insert_df(spark.createDataFrame(rows, nullable))
    return t


def _row_path_ops(t) -> list[dict]:
    """One sequence of row-path writes, with its replies."""
    rng = np.random.default_rng(13)
    fresh = _records(range(200, 230), rng)
    dup = {**fresh[3], "score": 0.0}
    return [
        # an in-batch duplicate and an existing key are skipped
        t.insert(fresh + [dup] + _records([5], rng)),
        # a point upsert replacing keys of three segments, plus new keys
        # (the last of a duplicated batch key wins)
        t.insert(_records([10, 47, 201, 300, 300, 301], rng), upsert=True),
        t.delete(primary_keys=[1, 2, 200, 90, 999]),
        # three-valued logic over the NULL-valued batch
        t.delete(filter="cat = 1 OR tag = 'red'"),
        t.delete(filter="NOT (score > 0.5) AND id >= 120"),
        # every remaining row of the fresh insert: its segment drops out
        t.delete(filter="id >= 200 AND id < 230"),
        t.insert([{**r, "vec": [0.0] * DIM} for r in _records([400, 401], rng)]),
    ]


def _state(t, v0: int) -> dict:
    meta = t._load_meta()
    rows = sorted(
        (r.asDict(recursive=True) for r in t.df().collect()),
        key=lambda r: r["_row_id"],
    )
    feed = sorted(
        json.dumps(_bits(r.asDict(recursive=True)), sort_keys=True)
        for r in t.changes(v0, update_preimages=True).collect()
    )
    keys = ("version", "next_row_id", "row_count", "files", "segment_stats",
            "segment_rows", "mutation_seq")
    past = sorted(r["id"] for r in t.df(version=v0 + 3).select("id").collect())
    return {"rows": _bits(rows), "changes": feed, "past": past,
            **{k: meta.get(k) for k in keys}}


@pytest.mark.parametrize("metric", ["EUCLIDEAN", "DOT_PRODUCT", "COSINE"])
def test_row_path_writes_match_spark(spark, db, metric):
    """Inserts, upserts and deletes commit from the driver with zero
    Spark jobs and leave the table, its manifest and its changefeed
    exactly as the Spark path leaves them."""
    served = _build_with_nulls(spark, db, metric, f"rw_{metric.lower()}")
    with _spark_path():
        spark_t = _build_with_nulls(spark, db, metric, f"rw_{metric.lower()}_spark")
    v0 = served._load_meta()["version"]
    assert spark_t._load_meta()["version"] == v0
    replies, jobs = _jobs(spark, lambda: _row_path_ops(served))
    assert jobs == 0, "a driver-side write ran Spark jobs"
    with _spark_path():
        ref_replies, ref_jobs = _jobs(spark, lambda: _row_path_ops(spark_t))
    assert ref_jobs > 0
    assert replies == ref_replies
    assert replies[0] == {"inserted": 30, "skipped": 2}
    assert replies[1] == {"inserted": 5, "skipped": 0}
    assert all(r["deleted"] > 0 for r in replies[2:6])
    got, want = _state(served, v0), _state(spark_t, v0)
    assert got.pop("rows") == want.pop("rows")
    assert got == want
    assert not any(f.startswith("cowstage_") for f in os.listdir(served.path))


def test_write_seeds_the_cache(spark, db):
    """The segments and dead-row masks a write commits enter the cache,
    so the next knn decodes and loads nothing — the rewritten segment
    of an upsert included."""
    t = _build(spark, db, "EUCLIDEAN", "seeded")
    q = [0.5] * DIM
    t.query(query_vector=q, limit=3)
    for write in (
        lambda: t.delete(primary_keys=[4, 50, 100]),
        lambda: t.insert(_records([500, 501], np.random.default_rng(2))),
        lambda: t.insert(_records([6, 502], np.random.default_rng(3)), upsert=True),
    ):
        write()
        with mock.patch.object(serving, "_read_segment", wraps=serving._read_segment) as read:
            with mock.patch.object(serving.np, "load", wraps=np.load) as load:
                t.query(query_vector=q, limit=5, with_distance=True)
            _assert_parity(spark, lambda: t.query(query_vector=q, limit=5, with_distance=True))
        assert read.call_count == 0 and load.call_count == 0
        assert _cached_dirs(t) == _live_names(t)


def test_segment_write_replaces_a_reused_dir(tmp_path):
    """A write to a dir name an earlier attempt left behind replaces it:
    one part file, under a new name each time."""
    rows = pa.table({"id": [1, 2]})
    first = serving.write_segment(str(tmp_path), "add_1", rows)
    second = serving.write_segment(str(tmp_path), "add_1", rows)
    assert first != second
    assert os.listdir(tmp_path / "add_1") == [second]
    assert os.listdir(tmp_path) == ["add_1"]
