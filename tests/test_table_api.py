"""End-to-end engine API tests — the reference gtest suite's shape
(SURVEY.md §5, FIXTURES.md F1-F7) against Warehouse/Database/Table.
"""

from __future__ import annotations

import contextlib
from unittest import mock

import pytest

from vectordb_spark import serving
from vectordb_spark.catalog import Warehouse
from vectordb_spark.embedding import MockEmbedder
from vectordb_spark.schema import VectorDBError

CITY_VECS = {
    "Berlin": [0.05, 0.61, 0.76, 0.74],
    "London": [0.19, 0.81, 0.75, 0.11],
    "Moscow": [0.36, 0.55, 0.47, 0.94],
    "San Francisco": [0.18, 0.01, 0.85, 0.80],
    "Shanghai": [0.24, 0.18, 0.22, 0.44],
}
QV = [0.35, 0.55, 0.47, 0.94]

CITIES_SCHEMA = {
    "name": "cities",
    "fields": [
        {"name": "ID", "dataType": "INT", "primaryKey": True},
        {"name": "Doc", "dataType": "STRING"},
        {
            "name": "EmbeddingEuclidean",
            "dataType": "VECTOR_FLOAT",
            "dimensions": 4,
            "metricType": "EUCLIDEAN",
        },
        {
            "name": "EmbeddingDotProduct",
            "dataType": "VECTOR_FLOAT",
            "dimensions": 4,
            "metricType": "DOT_PRODUCT",
        },
        {
            "name": "EmbeddingCosine",
            "dataType": "VECTOR_FLOAT",
            "dimensions": 4,
            "metricType": "COSINE",
        },
    ],
}


def city_records():
    recs = []
    for i, (doc, vec) in enumerate(CITY_VECS.items(), start=1):
        recs.append(
            {
                "ID": i,
                "Doc": doc,
                "EmbeddingEuclidean": vec,
                "EmbeddingDotProduct": vec,
                "EmbeddingCosine": vec,
            }
        )
    return recs


@pytest.fixture
def warehouse(spark, tmp_path):
    return Warehouse(spark, str(tmp_path / "wh"))


@pytest.fixture
def cities(warehouse):
    db = warehouse.load_db("testdb")
    table = db.create_table(CITIES_SCHEMA)
    res = table.insert(city_records())
    assert res == {"inserted": 5, "skipped": 0}
    return table


EXPECTED = {
    "EmbeddingEuclidean": ["Moscow", "Berlin", "Shanghai", "San Francisco", "London"],
    "EmbeddingDotProduct": ["Moscow", "Berlin", "San Francisco", "London", "Shanghai"],
    "EmbeddingCosine": ["Moscow", "Shanghai", "Berlin", "San Francisco", "London"],
}


@pytest.mark.parametrize("field", list(EXPECTED))
def test_dense_vector_orderings(cities, field):
    # reference DbServer.DenseVector (db_server.cpp:281-291)
    out = cities.query(
        query_vector=QV, query_field=field, limit=6, with_distance=True
    )
    docs = [r["Doc"] for r in out["result"]]
    assert docs == EXPECTED[field]
    dists = [r["@distance"] for r in out["result"]]
    assert dists == sorted(dists)


def test_duplicate_pk_skipped(cities):
    # reference test.py:59-61: duplicate-PK insert is skipped
    res = cities.insert(city_records()[:1])
    assert res == {"inserted": 0, "skipped": 1}
    assert cities.statistics() == {"totalRecords": 5}


def test_upsert_last_wins(cities):
    res = cities.insert(
        [
            {
                "ID": 1,
                "Doc": "Berlin2",
                "EmbeddingEuclidean": QV,
                "EmbeddingDotProduct": QV,
                "EmbeddingCosine": QV,
            }
        ],
        upsert=True,
    )
    assert res["inserted"] == 1
    got = cities.get(primary_keys=[1])
    assert [r["Doc"] for r in got["result"]] == ["Berlin2"]
    assert cities.statistics() == {"totalRecords": 5}


def test_filter_restricts(cities):
    # reference DenseVectorFilter (db_server.cpp:1620-1630)
    out = cities.query(
        query_vector=QV, query_field="EmbeddingEuclidean", limit=6, filter="ID <= 2"
    )
    assert len(out["result"]) == 2
    assert all(r["ID"] <= 2 for r in out["result"])


def test_distance_post_filter(cities):
    out = cities.query(
        query_vector=QV,
        query_field="EmbeddingEuclidean",
        limit=6,
        filter="@distance < 0.5",
        with_distance=True,
    )
    assert all(r["@distance"] < 0.5 for r in out["result"])
    assert len(out["result"]) >= 1


def test_delete_by_pk_and_filter(cities):
    # filter must also pass (reference table_segment_mvp.cpp:341-360)
    res = cities.delete(primary_keys=[1, 2], filter="Doc = 'Berlin'")
    assert res == {"deleted": 1}
    res = cities.delete(primary_keys=[3])
    assert res == {"deleted": 1}
    assert cities.statistics() == {"totalRecords": 3}
    with pytest.raises(VectorDBError):
        cities.delete()


def test_get_pagination(cities):
    out = cities.get(response=["ID", "Doc"], skip=1, limit=2)
    assert [r["ID"] for r in out["result"]] == [2, 3]  # insertion order
    out = cities.get(filter="ID > 2")
    assert sorted(r["ID"] for r in out["result"]) == [3, 4, 5]


def test_facets_over_get(cities):
    out = cities.get(
        facets=[{"group": [], "aggregate": ["COUNT(*)", "SUM(ID)", "MIN(ID)"]}]
    )
    facet = out["facets"][0][0]
    assert facet["COUNT(*)"] == 5.0
    assert facet["SUM(ID)"] == 15.0
    assert facet["MIN(ID)"] == 1.0


def test_facets_group_over_search(cities):
    out = cities.query(
        query_vector=QV,
        query_field="EmbeddingEuclidean",
        limit=3,
        facets=[{"group": ["ID % 2"], "aggregate": ["COUNT(*)", "MAX(@distance)"]}],
    )
    groups = out["facets"][0]
    assert sum(g["COUNT(*)"] for g in groups) == 3.0
    with pytest.raises(VectorDBError):
        cities.query(
            query_vector=QV,
            query_field="EmbeddingEuclidean",
            limit=3,
            facets=[{"group": ["ID", "Doc"], "aggregate": ["COUNT(*)"]}],
        )


def test_insert_prepare_masks(cities):
    out = cities.insert_prepare([1, 99, 3])
    assert out["recordNumber"] == 5
    assert out["masks"] == [0b101]


def test_missing_field_fails_batch(cities):
    with pytest.raises(VectorDBError) as ei:
        cities.insert([{"ID": 10, "Doc": "X"}])
    assert ei.value.code == "INVALID_RECORD"


SPARSE_SCHEMA = {
    "name": "cities_sparse",
    "fields": [
        {"name": "ID", "dataType": "INT", "primaryKey": True},
        {"name": "Doc", "dataType": "STRING"},
        {
            "name": "Embedding",
            "dataType": "SPARSE_VECTOR_FLOAT",
            "dimensions": 4,
            "metricType": "EUCLIDEAN",
        },
    ],
}


def test_sparse_end_to_end(warehouse):
    db = warehouse.load_db("sparsedb")
    t = db.create_table(SPARSE_SCHEMA)
    recs = [
        {"ID": i, "Doc": doc, "Embedding": {"indices": [0, 1, 2, 3], "values": vec}}
        for i, (doc, vec) in enumerate(CITY_VECS.items(), start=1)
    ]
    assert t.insert(recs)["inserted"] == 5
    out = t.query(
        query_vector={"indices": [0, 1, 2, 3], "values": QV}, limit=6,
        with_distance=True,
    )
    docs = [r["Doc"] for r in out["result"]]
    assert docs == EXPECTED["EmbeddingEuclidean"]
    # projection returns wire format
    assert out["result"][0]["Embedding"]["indices"] == [0, 1, 2, 3]


def test_invalid_sparse_skipped(warehouse):
    # reference InvalidSparseVector (db_server.cpp:2039): bad rows skip
    db = warehouse.load_db("sparsedb2")
    t = db.create_table(SPARSE_SCHEMA)
    recs = [
        {"ID": 1, "Doc": "ok", "Embedding": {"indices": [0, 2], "values": [1.0, 2.0]}},
        {"ID": 2, "Doc": "len", "Embedding": {"indices": [0, 1], "values": [1.0]}},
        {"ID": 3, "Doc": "neg", "Embedding": {"indices": [-1, 2], "values": [1.0, 2.0]}},
        {"ID": 4, "Doc": "dec", "Embedding": {"indices": [2, 1], "values": [1.0, 2.0]}},
        {"ID": 5, "Doc": "oob", "Embedding": {"indices": [0, 4], "values": [1.0, 2.0]}},
    ]
    res = t.insert(recs)
    assert res == {"inserted": 1, "skipped": 4}


GEO_SCHEMA = {
    "name": "places",
    "fields": [
        {"name": "ID", "dataType": "INT", "primaryKey": True},
        {"name": "Name", "dataType": "STRING"},
        {"name": "Location", "dataType": "GEO_POINT"},
        {
            "name": "Embedding",
            "dataType": "VECTOR_FLOAT",
            "dimensions": 4,
            "metricType": "EUCLIDEAN",
        },
    ],
}

PLACES = [
    ("California", 36.7783, -119.4179),
    ("Los Angeles", 34.0522, -118.2437),
    ("San Francisco", 37.7749, -122.4194),
    ("Monterey", 36.6002, -121.8947),
    ("Sacramento", 38.5816, -121.4944),
    ("San Diego", 32.7157, -117.1611),
    ("Riverside", 33.9533, -117.3962),
    ("Bakersfield", 35.3733, -119.0187),
    ("NearLasVegas", 36.1627, -115.1391),
    ("Redding", 40.5865, -122.3917),
]


def test_geo_nearby(warehouse):
    # FIXTURES.md F5: within 150 km of Los Angeles by haversine
    db = warehouse.load_db("geodb")
    t = db.create_table(GEO_SCHEMA)
    recs = [
        {
            "ID": i,
            "Name": name,
            "Location": {"latitude": lat, "longitude": lon},
            "Embedding": [0.1, 0.2, 0.3, 0.4],
        }
        for i, (name, lat, lon) in enumerate(PLACES, start=1)
    ]
    assert t.insert(recs)["inserted"] == 10
    out = t.get(filter="NEARBY(Location, 34.0522, -118.2437, 150)")
    names = sorted(r["Name"] for r in out["result"])
    # haversine from LA: Riverside 78.9 km in; Bakersfield 163.1 and
    # San Diego 179.4 out
    assert names == ["Los Angeles", "Riverside"]
    # clamping at ingest (table_segment_mvp.cpp:626-640)
    t.insert(
        [
            {
                "ID": 99,
                "Name": "OffGrid",
                "Location": {"latitude": 95.0, "longitude": -200.0},
                "Embedding": [0.0, 0.0, 0.0, 0.0],
            }
        ]
    )
    got = t.get(primary_keys=[99])
    loc = got["result"][0]["Location"]
    assert loc == {"latitude": 90.0, "longitude": -180.0}


def test_geo_nearby_antimeridian(warehouse):
    # bbox prefilter must wrap at lon ±180 — points just across the seam
    # are inside the haversine radius and must not be box-excluded
    db = warehouse.load_db("geodb_am")
    t = db.create_table(GEO_SCHEMA)
    recs = [
        {"ID": 1, "Name": "WestOfSeam", "Location": {"latitude": 0.0, "longitude": 179.9},
         "Embedding": [0.0, 0.0, 0.0, 0.0]},
        {"ID": 2, "Name": "EastOfSeam", "Location": {"latitude": 0.0, "longitude": -179.95},
         "Embedding": [0.0, 0.0, 0.0, 0.0]},
        {"ID": 3, "Name": "FarAway", "Location": {"latitude": 0.0, "longitude": 170.0},
         "Embedding": [0.0, 0.0, 0.0, 0.0]},
    ]
    assert t.insert(recs)["inserted"] == 3
    # center just west of the seam; 50 km radius spans across it
    out = t.get(filter="NEARBY(Location, 0.0, 179.9, 50)")
    names = sorted(r["Name"] for r in out["result"])
    assert names == ["EastOfSeam", "WestOfSeam"]
    # center just east of the seam, radius reaching back west
    out = t.get(filter="NEARBY(Location, 0.0, -179.95, 50)")
    names = sorted(r["Name"] for r in out["result"])
    assert names == ["EastOfSeam", "WestOfSeam"]


def test_geo_invalid_record(warehouse):
    # malformed geo values raise INVALID_RECORD, not a raw TypeError
    db = warehouse.load_db("geodb_bad")
    t = db.create_table(GEO_SCHEMA)
    bad = [
        {"latitude": 1.0},                      # missing longitude
        {"lat": 1.0, "lon": 2.0},               # misspelled keys
        "not-a-dict",
        {"latitude": "1.0", "longitude": 2.0},  # non-numeric
        {"latitude": True, "longitude": 2.0},   # bool is not a coordinate
    ]
    for v in bad:
        with pytest.raises(VectorDBError) as ei:
            t.insert(
                [{"ID": 1, "Name": "x", "Location": v,
                  "Embedding": [0.0, 0.0, 0.0, 0.0]}]
            )
        assert ei.value.code == "INVALID_RECORD"


def test_insert_df_row_id_not_reused(warehouse, spark):
    # _row_id values are assigned over the PRE-dedup batch; the cursor
    # must advance by the full batch size so later inserts never collide
    db = warehouse.load_db("rowiddb")
    t = db.create_table(CITIES_SCHEMA)
    from pyspark.sql import functions as F

    def batch(rows):
        df = spark.createDataFrame(rows, "ID int, Doc string")
        v = F.array(*[F.lit(x) for x in QV])
        return df.select(
            "ID", "Doc",
            v.alias("EmbeddingEuclidean"),
            v.alias("EmbeddingDotProduct"),
            v.alias("EmbeddingCosine"),
        )

    # upsert batch with an in-batch duplicate PK (keep-last wins):
    # kept rows carry row ids up to start+total-1
    res = t.insert_df(batch([(1, "a1"), (1, "a2"), (2, "b")]), upsert=True)
    assert res["inserted"] == 2
    # non-upsert batch where the anti-join drops a row
    res = t.insert_df(batch([(2, "dup"), (3, "c")]))
    assert res["inserted"] == 1
    res = t.insert_df(batch([(4, "d"), (5, "e")]))
    assert res["inserted"] == 2
    ids = [r["_row_id"] for r in t.df().select("_row_id").collect()]
    assert len(ids) == len(set(ids)), f"duplicate _row_id: {sorted(ids)}"
    assert t.statistics() == {"totalRecords": 5}
    # upsert keep-last still holds after the id-gap batches
    got = t.get(primary_keys=[1])
    assert [r["Doc"] for r in got["result"]] == ["a2"]


def test_cosine_normalized_projection(warehouse):
    # stored COSINE vectors are normalized — projection returns the
    # normalized values (SURVEY.md §1.2), not the user's raw input
    db = warehouse.load_db("cosdb")
    t = db.create_table(
        {
            "name": "t",
            "fields": [
                {"name": "ID", "dataType": "INT", "primaryKey": True},
                {
                    "name": "v",
                    "dataType": "VECTOR_FLOAT",
                    "dimensions": 2,
                    "metricType": "COSINE",
                },
            ],
        }
    )
    t.insert([{"ID": 1, "v": [3.0, 4.0]}])
    out = t.get(primary_keys=[1])
    v = out["result"][0]["v"]
    assert v[0] == pytest.approx(0.6, abs=1e-6)
    assert v[1] == pytest.approx(0.8, abs=1e-6)


def test_auto_embedding_text_search(warehouse):
    # E1/E2: auto-embed on insert + search by content
    db = warehouse.load_db("embdb")
    embedder = MockEmbedder(dimension=8)
    t = db.create_table(
        {
            "name": "docs",
            "fields": [
                {"name": "ID", "dataType": "INT", "primaryKey": True},
                {"name": "Doc", "dataType": "STRING"},
            ],
            "indices": [{"name": "DocEmbedding", "field": "Doc", "dimensions": 8}],
        },
        embedder=embedder,
    )
    t.insert(
        [
            {"ID": 1, "Doc": "the quick brown fox"},
            {"ID": 2, "Doc": "pack my box with five dozen jugs"},
            {"ID": 3, "Doc": "the quick brown foxes"},
        ]
    )
    out = t.query(query_text="the quick brown fox", limit=2, with_distance=True)
    assert out["result"][0]["ID"] == 1
    assert out["result"][0]["@distance"] == pytest.approx(0.0, abs=1e-6)
    # hidden index field excluded from project-all (table_mvp.cpp:474-477)
    assert "DocEmbedding" not in out["result"][0]
    # second hit shares the most trigrams
    assert out["result"][1]["ID"] == 3


def test_time_travel(cities):
    # v1 = initial insert; delete creates v2; v1 must stay readable
    assert cities.versions() == [0, 1]
    cities.delete(primary_keys=[1, 2])
    assert cities.versions() == [0, 1, 2]
    assert cities.df().count() == 3
    assert cities.df(version=1).count() == 5  # pre-delete snapshot
    assert cities.df(version=0).count() == 0  # empty table at creation
    with pytest.raises(VectorDBError):
        cities.df(version=99)


def test_schema_validation_errors(warehouse):
    db = warehouse.load_db("valdb")
    with pytest.raises(VectorDBError):
        db.create_table(
            {"name": "t1", "fields": [{"name": "a", "dataType": "INT"}]}
        )  # no vector field
    with pytest.raises(VectorDBError):
        db.create_table(
            {
                "name": "t2",
                "fields": [
                    {"name": "a", "dataType": "DOUBLE", "primaryKey": True},
                    {
                        "name": "v",
                        "dataType": "VECTOR_FLOAT",
                        "dimensions": 4,
                        "metricType": "EUCLIDEAN",
                    },
                ],
            }
        )  # PK must be int/string


def test_vector_scale_applies_on_reload(warehouse):
    # reference db_mvp.cpp:24,38: init_table_scale governs capacity on
    # every LoadDB, so "unload and reload with a larger vectorScale"
    # (the remediation in the capacity error text) actually works
    db = warehouse.load_db("scaledb", vector_scale=2)
    t = db.create_table(CITIES_SCHEMA)

    def rec(i):
        return {
            "ID": i, "Doc": f"d{i}",
            "EmbeddingEuclidean": QV, "EmbeddingDotProduct": QV,
            "EmbeddingCosine": QV,
        }

    assert t.insert([rec(0), rec(1)])["inserted"] == 2
    with pytest.raises(VectorDBError, match="hold up to 2 records"):
        t.insert([rec(2)])

    # reload with a larger scale → the SAME table accepts more rows
    warehouse.unload_db("scaledb")
    db2 = warehouse.load_db("scaledb", vector_scale=10)
    t2 = db2.table(CITIES_SCHEMA["name"])
    assert t2.insert([rec(2)])["inserted"] == 1
    assert t2.statistics() == {"totalRecords": 3}

    # and reloading with a smaller scale lowers it again
    warehouse.unload_db("scaledb")
    db3 = warehouse.load_db("scaledb", vector_scale=3)
    t3 = db3.table(CITIES_SCHEMA["name"])
    with pytest.raises(VectorDBError, match="hold up to 3 records"):
        t3.insert([rec(3)])


def test_compact_and_vacuum(warehouse, spark):
    # three appends → three segment dirs; compact folds them into one
    # base segment, keeps data + time travel; vacuum reclaims the rest
    import os

    db = warehouse.load_db("compactdb")
    t = db.create_table(CITIES_SCHEMA)

    def rec(i):
        return {
            "ID": i, "Doc": f"d{i}",
            "EmbeddingEuclidean": QV, "EmbeddingDotProduct": QV,
            "EmbeddingCosine": QV,
        }

    for i in range(3):
        assert t.insert([rec(i)])["inserted"] == 1
    pre_versions = t.versions()
    seg_dirs = lambda: sorted(  # noqa: E731
        n for n in os.listdir(t.path)
        if n.startswith(("add_", "base_")) and os.path.isdir(os.path.join(t.path, n))
    )
    assert len(seg_dirs()) == 3

    res = t.compact()
    assert res == {"segmentsBefore": 3, "segmentsAfter": 1}
    assert sorted(r["ID"] for r in t.df().select("ID").collect()) == [0, 1, 2]
    # pre-compact version still time-travels
    assert t.df(version=pre_versions[-1]).count() == 3
    assert len(seg_dirs()) == 4  # three old + one compacted

    # default vacuum honors the retention grace: just-written dirs are
    # kept for in-flight lock-free readers whose planned scan may still
    # reference them
    res = t.vacuum()
    assert res["removedSegments"] == 0
    assert res["skippedRecent"] == 3
    assert len(seg_dirs()) == 4

    res = t.vacuum(grace_seconds=0)
    assert res["removedSegments"] == 3
    assert seg_dirs() == [f"base_{t.versions()[-1]}"]
    assert sorted(r["ID"] for r in t.df().select("ID").collect()) == [0, 1, 2]
    # vacuumed versions are gone
    with pytest.raises(VectorDBError):
        t.df(version=pre_versions[0])
    # inserts keep working after maintenance
    assert t.insert([rec(7)])["inserted"] == 1
    assert t.statistics() == {"totalRecords": 4}


def test_insert_df_pk_check_pruned_multisegment(warehouse, spark):
    """r11: the non-upsert PK-conflict anti-join reads a RANGE-PRUNED
    snapshot (segments whose PK min/max overlaps the batch), not the
    whole table — and duplicate skipping stays exact when the
    conflicting key lives in an OLD segment (that segment always
    survives pruning: the key is inside both the batch range and its
    segment's stats)."""
    from pyspark.sql import functions as F

    db = warehouse.load_db("prunedb")
    t = db.create_table(CITIES_SCHEMA)

    def batch(rows):
        df = spark.createDataFrame(rows, "ID int, Doc string")
        v = F.array(*[F.lit(x) for x in QV])
        return df.select(
            "ID", "Doc",
            v.alias("EmbeddingEuclidean"),
            v.alias("EmbeddingDotProduct"),
            v.alias("EmbeddingCosine"),
        )

    # three segments with disjoint PK ranges: [0,9], [100,109], [200,209]
    for base in (0, 100, 200):
        t.insert_df(batch([(base + i, f"s{base}_{i}") for i in range(10)]))
    meta = t._load_meta()
    assert len(meta["files"]) == 3
    assert all(meta.get("segment_stats", {}).get(f, {}).get("ID")
               for f in meta["files"])
    # batch overlapping ONLY the middle segment, with one duplicate
    res = t.insert_df(batch([(105, "dup"), (110, "new")]))
    assert res["inserted"] == 1
    assert [r["Doc"] for r in t.get(primary_keys=[105])["result"]] == ["s100_5"]
    # batch entirely above every segment: nothing to check against
    res = t.insert_df(batch([(300, "x"), (301, "y")]))
    assert res["inserted"] == 2
    assert t.statistics() == {"totalRecords": 33}


def test_delete_cow_rewrites_only_matched_segments(warehouse, spark):
    """Merge-on-read delete: every segment is RETAINED in the new
    manifest (same dirs, zero bytes moved), only segments holding
    matches get a tombstone, fully-emptied segments drop out, time
    travel still serves the pre-delete snapshot, and the changefeed
    surfaces exactly the deleted rows."""
    from pyspark.sql import functions as F

    db = warehouse.load_db("cowdb")
    t = db.create_table(CITIES_SCHEMA)

    def batch(rows):
        df = spark.createDataFrame(rows, "ID int, Doc string")
        v = F.array(*[F.lit(x) for x in QV])
        return df.select(
            "ID", "Doc",
            v.alias("EmbeddingEuclidean"),
            v.alias("EmbeddingDotProduct"),
            v.alias("EmbeddingCosine"),
        )

    # three disjoint-range segments
    for base in (0, 100, 200):
        t.insert_df(batch([(base + i, f"s{base}_{i}") for i in range(10)]))
    meta0 = t._load_meta()
    v0 = meta0["version"]
    files0 = list(meta0["files"])
    assert len(files0) == 3

    # delete two rows confined to the middle segment
    res = t.delete(primary_keys=[103, 107])
    assert res["deleted"] == 2
    meta1 = t._load_meta()
    # every segment retained verbatim; only the middle one is
    # tombstoned, with the two deleted ids in a file the manifest names
    assert meta1["files"] == files0
    assert set(meta1["tombstones"]) == {files0[1]}
    assert meta1["tombstones"][files0[1]]["rows"] == 2
    assert meta1["segment_rows"][files0[1]] == 8
    assert meta1["row_count"] == 28
    assert t.statistics() == {"totalRecords": 28}
    # surviving rows intact, deleted gone
    ids = sorted(r["ID"] for r in t.df().select("ID").collect())
    assert 103 not in ids and 107 not in ids and len(ids) == 28
    # time travel: the pre-delete snapshot still has 30 rows
    assert t.df(version=v0).count() == 30
    # changefeed: exactly the two deleted rows, as delete pre-images
    ch = t.changes(v0).collect()
    assert sorted((r["_change_type"], r["ID"]) for r in ch) == [
        ("delete", 103), ("delete", 107),
    ]

    # empty-segment drop: delete ALL of segment one -> its dir (the
    # retained files0[0]) leaves the manifest entirely. Filter-only
    # delete exercises the range_bounds pruning path.
    res = t.delete(filter="ID < 100")
    assert res["deleted"] == 10
    meta2 = t._load_meta()
    assert files0[0] not in meta2["files"]
    assert t.df().count() == 18

    # full-span delete: every segment empties and drops out of the
    # manifest entirely, taking its tombstone with it — no rewritten
    # dirs, no consolidating base_ dir
    res = t.delete(filter="ID >= 0")
    assert res["deleted"] == 18
    meta3 = t._load_meta()
    assert t.df().count() == 0
    assert meta3["files"] == []
    assert "tombstones" not in meta3


def test_upsert_cow_rewrites_only_conflicting_segments(warehouse, spark):
    """r11 copy-on-write upsert: a PK-conflicting upsert rewrites only
    the segments holding the replaced keys (others retained verbatim),
    lands the batch as one add segment in the SAME atomic version,
    keeps keep-last semantics, and the changefeed pairs the update as
    pre/post images exactly like the consolidating path did."""
    from pyspark.sql import functions as F

    db = warehouse.load_db("cowupdb")
    t = db.create_table(CITIES_SCHEMA)

    def batch(rows):
        df = spark.createDataFrame(rows, "ID int, Doc string")
        v = F.array(*[F.lit(x) for x in QV])
        return df.select(
            "ID", "Doc",
            v.alias("EmbeddingEuclidean"),
            v.alias("EmbeddingDotProduct"),
            v.alias("EmbeddingCosine"),
        )

    for base in (0, 100, 200):
        t.insert_df(batch([(base + i, f"s{base}_{i}") for i in range(10)]))
    meta0 = t._load_meta()
    v0, files0 = meta0["version"], list(meta0["files"])

    # upsert touching only the middle segment (one replace + one new)
    res = t.insert_df(batch([(105, "upd"), (150, "new")]), upsert=True)
    assert res["inserted"] == 2
    meta1 = t._load_meta()
    assert meta1["version"] == v0 + 1  # ONE atomic commit
    assert files0[0] in meta1["files"] and files0[2] in meta1["files"]
    assert files0[1] not in meta1["files"]
    assert any(f.startswith("cow_") for f in meta1["files"])
    assert t.statistics() == {"totalRecords": 31}
    assert [r["Doc"] for r in t.get(primary_keys=[105])["result"]] == ["upd"]
    assert [r["Doc"] for r in t.get(primary_keys=[150])["result"]] == ["new"]
    # changefeed: 105 pairs as update pre/post, 150 is an insert
    ch = sorted(
        (r["_change_type"], r["ID"]) for r in t.changes(v0, update_preimages=True).collect()
    )
    assert ch == [("insert", 150), ("update_post", 105), ("update_pre", 105)]
    # row-based point upsert rides the same path
    v1 = meta1["version"]
    t.insert([{"ID": 205, "Doc": "pt", "EmbeddingEuclidean": QV,
               "EmbeddingDotProduct": QV, "EmbeddingCosine": QV}], upsert=True)
    meta2 = t._load_meta()
    assert meta2["version"] == v1 + 1
    assert files0[0] in meta2["files"]  # untouched segment still live
    assert [r["Doc"] for r in t.get(primary_keys=[205])["result"]] == ["pt"]
    assert t.statistics() == {"totalRecords": 31}


def test_vacuum_reclaims_cow_and_zrw_dirs(warehouse, spark):
    """r11: superseded copy-on-write (cow_) and z-order rewrite (zrw_)
    segment dirs are reclaimable by vacuum like add_/base_ dirs —
    zrw_ dirs previously leaked forever. A delete rewrites nothing, so
    the cow_ dirs come from upserts; the tombstone files of versions
    vacuum drops go with them."""
    import os

    from pyspark.sql import functions as F

    db = warehouse.load_db("vacowdb")
    t = db.create_table(CITIES_SCHEMA)

    def batch(rows):
        df = spark.createDataFrame(rows, "ID int, Doc string")
        v = F.array(*[F.lit(x) for x in QV])
        return df.select(
            "ID", "Doc",
            v.alias("EmbeddingEuclidean"),
            v.alias("EmbeddingDotProduct"),
            v.alias("EmbeddingCosine"),
        )

    for base in (0, 100, 200):
        t.insert_df(batch([(base + i, f"d{base+i}") for i in range(8)]))
    # zrw_ layout, then a delete that tombstones one zrw_ dir and an
    # upsert that supersedes it
    t.rewrite_zorder(("ID", "ID"), segments=3)
    zrw0 = [f for f in t._load_meta()["files"] if f.startswith("zrw_")]
    assert len(zrw0) >= 2
    t.delete(primary_keys=[0, 1])
    tomb0 = [e["file"] for e in t._load_meta()["tombstones"].values()]
    assert len(tomb0) == 1
    t.insert_df(batch([(3, "u3")]), upsert=True)
    meta = t._load_meta()
    assert any(f.startswith("cow_") for f in meta["files"])
    superseded_zrw = [f for f in zrw0 if f not in meta["files"]]
    assert superseded_zrw  # the rewritten zrw_ dir left the manifest
    assert "tombstones" not in meta  # the rewrite folded the tombstone
    # another upsert supersedes the cow_ dir too, and a delete
    # tombstones its successor
    cow0 = [f for f in meta["files"] if f.startswith("cow_")]
    t.insert_df(batch([(4, "u4")]), upsert=True)
    t.delete(primary_keys=[2])
    meta2 = t._load_meta()
    assert cow0[0] not in meta2["files"]
    (tomb1,) = [e["file"] for e in meta2["tombstones"].values()]

    res = t.vacuum(grace_seconds=0)
    assert res["removedSegments"] > 0
    live = set(os.listdir(t.path))
    for gone in (*superseded_zrw, cow0[0], *tomb0):
        assert gone not in live, gone
    assert tomb1 in live
    # current data intact
    assert t.df().count() == 21


def _cow_fixture_table(spark, path, n_segments=3, rows_per=10, step=100):
    from vectordb_spark.schema import FieldSchema, FieldType, TableSchema
    from vectordb_spark.table import Table

    schema = TableSchema(
        name="cowfix",
        fields=[
            FieldSchema(name="id", field_type=FieldType.INT8, primary_key=True),
            FieldSchema(name="val", field_type=FieldType.INT8),
            FieldSchema(
                name="v", field_type=FieldType.VECTOR_FLOAT,
                dimension=2, metric="EUCLIDEAN",
            ),
        ],
    )
    t = Table(spark, schema, str(path))
    t._init_storage()
    for s in range(n_segments):
        base = s * step
        t.insert(
            [
                {"id": base + i, "val": i, "v": [0.0, 0.0]}
                for i in range(rows_per)
            ]
        )
    return t


def test_cow_delete_table_path_with_space(spark, tmp_path):
    """ADVICE r11 (medium): input_file_name returns a percent-ENCODED
    URI; a table path containing a space made the old strip-'file:'-
    and-relpath mapping resolve through '..', so matched segment keys
    never hit manifest names — delete() reported rows deleted while
    leaving them live, and upsert left stale duplicate PKs. The
    decoded innermost-component mapping must make the Spark delete's
    match job and the COW upsert work verbatim under such paths."""
    t = _cow_fixture_table(spark, tmp_path / "has space" / "t")
    files0 = list(t._load_meta()["files"])
    with _write_path("spark"):
        res = t.delete(primary_keys=[103, 107])
    assert res["deleted"] == 2
    meta1 = t._load_meta()
    # the mapping genuinely engaged: the middle segment's tombstone
    # holds both ids, every segment retained verbatim
    assert meta1["files"] == files0
    assert set(meta1["tombstones"]) == {files0[1]}
    assert t._dead_ids(meta1["tombstones"][files0[1]]).tolist() == sorted(
        r["_row_id"] for r in t.df(version=meta1["version"] - 1)
        .where("id IN (103, 107)").collect()
    )
    ids = sorted(r["id"] for r in t.df().select("id").collect())
    assert 103 not in ids and 107 not in ids and len(ids) == 28
    # upsert rides the same mapping: replaced key must not duplicate
    with _write_path("spark"):
        t.insert([{"id": 5, "val": 99, "v": [0.0, 0.0]}], upsert=True)
    rows = t.df().where("id = 5").collect()
    assert len(rows) == 1 and rows[0]["val"] == 99
    assert t.df().count() == 28


@contextlib.contextmanager
def _write_path(kind: str):
    """Row-path writes on the driver (serving.py's Arrow commit, the
    default for these unpartitioned tables) or forced onto Spark."""
    if kind == "driver":
        yield
        return
    with mock.patch.object(serving, "_snapshot", lambda table, meta=None: None):
        yield


@pytest.mark.parametrize("path", ["driver", "spark"])
def test_cow_multi_segment_rewrite_is_one_write_job(spark, tmp_path, path):
    """VERDICT r11 "what's wrong" #1/#2: a delete matching k segments
    must not run k serial Spark jobs (a scattered-key mutation over a
    10k-segment base would run thousands). The Spark delete's one
    match job tombstones every matched segment, a CONSTANT job count
    independent of k (a per-segment loop cost ~17 jobs at k = 8; the
    bound below fails that plan); the driver path runs none. Pinned on
    both write paths."""
    sc = spark.sparkContext

    def jobs_for_delete(tag, n_matched):
        t = _cow_fixture_table(
            spark, tmp_path / f"cowjobs_{tag}",
            n_segments=20, rows_per=10, step=100,
        )
        group = f"cow-one-job-pin-{tag}-{path}"
        sc.setJobGroup(group, "job-count pin")
        try:
            # one key per matched segment, always below the
            # consolidation crossover (<= 8/20 of the bytes)
            with _write_path(path):
                res = t.delete(
                    primary_keys=[s * 100 + 5 for s in range(n_matched)]
                )
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        assert res["deleted"] == n_matched
        meta = t._load_meta()
        assert len(meta["tombstones"]) == n_matched
        assert len(meta["files"]) == 20
        assert t.df().count() == 200 - n_matched
        return len(sc.statusTracker().getJobIdsForGroup(group))

    j2 = jobs_for_delete("k2", 2)
    j8 = jobs_for_delete("k8", 8)
    # constant in k: the pre-fix loop cost ~3 extra jobs per matched
    # segment (write + footer count + footer stats), so 8-matched
    # would exceed 2-matched by ~18 jobs; allow only listing noise
    assert j8 <= j2 + 2, f"delete jobs grew with k: {j2} -> {j8}"
    if path == "driver":
        assert j2 == j8 == 0


def test_segment_bytes_manifest_cache(spark, tmp_path):
    """VERDICT r11 "what's wrong" #4: segment byte sizes are recorded
    in the manifest at write time; COW crossover checks read the
    manifest, never re-walking every segment dir per mutation (a LIST
    storm on object storage). Vacuum prunes the cache with the dirs."""
    t = _cow_fixture_table(spark, tmp_path / "cowbytes")
    meta = t._load_meta()
    for f in meta["files"]:
        assert meta["segment_bytes"][f] == t._walk_bytes(f) > 0
    # a delete writes no dir and walks none; during a COW upsert the
    # walk runs ONLY for newly written dirs
    calls = []
    orig = t._walk_bytes
    t._walk_bytes = lambda name: (calls.append(name), orig(name))[1]
    try:
        t.delete(primary_keys=[103])
        assert calls == []
        t.insert([{"id": 105, "val": 0, "v": [0.0, 0.0]}], upsert=True)
    finally:
        t._walk_bytes = orig
    meta1 = t._load_meta()
    new_segs = [f for f in meta1["files"] if f not in meta["files"]]
    assert any(f.startswith("cow_") for f in new_segs)
    assert new_segs and set(calls) == set(new_segs)
    # vacuum drops reclaimed dirs from both caches
    t.vacuum(grace_seconds=0)
    meta2 = t._load_meta()
    assert set(meta2["segment_bytes"]) == set(meta2["files"])
    assert set(meta2["segment_stats"]) == set(meta2["files"])


def test_string_pk_cow_rewrites_only_matched_segments(spark, tmp_path):
    """VERDICT r11 missing #2: the reference's PK domain includes
    STRING (basic_meta_impl.cpp:370-378), but integer-only manifest
    stats forced string-keyed tables onto the O(table) consolidating
    rewrite for every delete/upsert. Exact string min/max recorded at
    segment-write time (not truncating parquet footers) now lets
    segment_overlaps prune, so a string-keyed mutation rewrites 1/N
    segments — plus time travel and the changefeed stay exact."""
    from vectordb_spark.schema import FieldSchema, FieldType, TableSchema
    from vectordb_spark.table import Table

    schema = TableSchema(
        name="strpk",
        fields=[
            FieldSchema(name="doc", field_type=FieldType.STRING, primary_key=True),
            FieldSchema(name="val", field_type=FieldType.INT8),
            FieldSchema(
                name="v", field_type=FieldType.VECTOR_FLOAT,
                dimension=2, metric="EUCLIDEAN",
            ),
        ],
    )
    t = Table(spark, schema, str(tmp_path / "strpk"))
    t._init_storage()
    # three disjoint lexicographic ranges: a*, m*, x*
    for prefix in ("a", "m", "x"):
        t.insert(
            [
                {"doc": f"{prefix}{i:03d}", "val": i, "v": [0.0, 0.0]}
                for i in range(10)
            ]
        )
    meta0 = t._load_meta()
    v0, files0 = meta0["version"], list(meta0["files"])
    assert len(files0) == 3
    # exact string stats recorded per segment
    assert meta0["segment_stats"][files0[1]]["doc"] == ["m000", "m009"]

    # delete two keys confined to the middle segment
    res = t.delete(primary_keys=["m003", "m007"])
    assert res["deleted"] == 2
    meta1 = t._load_meta()
    assert meta1["files"] == files0
    assert set(meta1["tombstones"]) == {files0[1]}
    docs = sorted(r["doc"] for r in t.df().select("doc").collect())
    assert "m003" not in docs and "m007" not in docs and len(docs) == 28
    # time travel + changefeed unchanged
    assert t.df(version=v0).count() == 30
    ch = t.changes(v0).collect()
    assert sorted((r["_change_type"], r["doc"]) for r in ch) == [
        ("delete", "m003"), ("delete", "m007"),
    ]

    # upsert touching only the x* segment: COW path, keep-last, one
    # atomic commit, no stale duplicate
    v1 = meta1["version"]
    t.insert(
        [{"doc": "x005", "val": 999, "v": [0.0, 0.0]},
         {"doc": "q000", "val": 1, "v": [0.0, 0.0]}],
        upsert=True,
    )
    meta2 = t._load_meta()
    assert meta2["version"] == v1 + 1
    assert files0[0] in meta2["files"]  # a* segment retained verbatim
    rows = t.df().where("doc = 'x005'").collect()
    assert len(rows) == 1 and rows[0]["val"] == 999
    assert t.df().count() == 29
    # empty-segment drop via a PK-list whose string range covers only
    # the a* segment (the range-extractable filter language is numeric
    # by reference parity, so string pruning rides the PK-list bounds)
    res = t.delete(primary_keys=[f"a{i:03d}" for i in range(10)])
    assert res["deleted"] == 10
    meta3 = t._load_meta()
    assert files0[0] not in meta3["files"]
    assert t.df().count() == 19


def test_overlapping_upserts_preserve_segment_structure(spark, tmp_path):
    """r12: mutations never consolidate. Pre-r12, the >=1/2-bytes
    crossover collapsed a key-overlap upsert stream to ONE segment on
    the second batch, after which every batch re-consolidated O(table)
    bytes forever (the streaming rehearsal's degeneracy). Now each
    batch rewrites only its matched segments and the base keeps a
    growing, range-prunable multi-segment layout."""
    t = _cow_fixture_table(
        spark, tmp_path / "ovl", n_segments=1, rows_per=100, step=100
    )
    # four more batches, each overlapping the PREVIOUS batch's range
    for b in range(1, 5):
        lo = b * 100
        t.insert(
            [
                {"id": k, "val": b, "v": [0.0, 0.0]}
                # 100 new keys + 10 updates of the previous batch
                for k in list(range(lo, lo + 100))
                + list(range(lo - 10, lo))
            ],
            upsert=True,
        )
    meta = t._load_meta()
    # structure grew (pre-fix: consolidated to exactly 1 base_ dir)
    assert len(meta["files"]) >= 5
    assert any(f.startswith("cow_") for f in meta["files"])
    assert not any(f.startswith("base_") for f in meta["files"])
    # keep-last semantics held across every overlap
    rows = {r["id"]: r["val"] for r in t.df().collect()}
    assert len(rows) == 500
    for b in range(1, 5):
        lo = b * 100
        assert all(rows[k] == b for k in range(lo - 10, lo))


@pytest.mark.parametrize("path", ["driver", "spark"])
def test_pre_cache_manifest_backfills_segment_rows_in_one_job(spark, tmp_path, path):
    """r12: a manifest written before the segment_rows cache existed
    backfills row counts for ALL candidate segments in ONE zero-column
    count job (pre-fix risk: one serial footer job per segment — a
    10k-segment legacy table's first mutation would run 10k jobs),
    and the backfilled counts commit back to the manifest. The driver
    path backfills from the decoded segments, with no job."""
    t = _cow_fixture_table(
        spark, tmp_path / "legacyrows", n_segments=8, rows_per=10, step=100
    )
    # simulate a pre-r12 manifest: drop the caches
    meta = t._load_meta()
    meta.pop("segment_rows", None)
    meta.pop("segment_bytes", None)
    t._save_meta(meta)

    sc = spark.sparkContext
    group = f"rows-backfill-pin-{path}"
    sc.setJobGroup(group, "backfill job-count pin")
    try:
        with _write_path(path):
            res = t.delete(primary_keys=[s * 100 + 5 for s in range(3)])
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert res["deleted"] == 3
    jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    assert jobs <= 10, f"backfill ran {jobs} jobs for 8 segments"
    meta2 = t._load_meta()
    # live counts cached back for the candidates (the 3 tombstoned
    # segments; non-candidate segments are rightly untouched)
    tombed = list(meta2["tombstones"])
    assert len(tombed) == 3
    assert all(meta2["segment_rows"][f] == 9 for f in tombed)
    assert t.df().count() == 77


def test_vacuum_reclaims_orphaned_cow_staging(spark, tmp_path):
    """r12: a COW mutation that crashes between the staging write and
    the rename leaves a cowstage_ dir no manifest references; vacuum
    treats it like any other unreferenced engine dir."""
    import os

    t = _cow_fixture_table(spark, tmp_path / "stale", n_segments=2)
    orphan = os.path.join(t.path, "cowstage_99")
    os.makedirs(os.path.join(orphan, "_cow_src=add_1"), exist_ok=True)
    with open(os.path.join(orphan, "_cow_src=add_1", "part-0.parquet"), "wb") as f:
        f.write(b"x")
    t.vacuum(grace_seconds=0)
    assert not os.path.exists(orphan)
    assert t.df().count() == 20  # table untouched


def _fixture_batch(spark, t, rows):
    """insert_df batch for ``_cow_fixture_table`` rows (id, val, v),
    cast to the declared column types; NULL ids allowed."""
    from pyspark.sql import functions as F

    declared = t.schema.to_spark_schema()
    df = spark.createDataFrame(rows, "id int, val int, v array<float>")
    return df.select(
        *[F.col(c).cast(declared[c].dataType).alias(c) for c in df.columns]
    )


def test_upsert_without_keys_keeps_segments(spark, tmp_path):
    """An upsert batch with no non-NULL primary key (empty, or all
    NULL) can replace no row — a NULL key never matches the anti-join
    — so every original segment stays live verbatim and the batch only
    adds its own rows: no consolidating rewrite into one base dir."""
    t = _cow_fixture_table(spark, tmp_path / "nokeys")
    meta0 = t._load_meta()
    files0 = list(meta0["files"])
    rows = 30
    for batch in ([], [(None, 1, [1.0, 1.0])]):
        res = t.insert_df(_fixture_batch(spark, t, batch), upsert=True)
        assert res["inserted"] == len(batch)
        rows += len(batch)
        meta = t._load_meta()
        assert meta["files"][: len(files0)] == files0
        assert not any(f.startswith("base_") for f in meta["files"])
        for f in files0:
            assert meta["segment_rows"][f] == meta0["segment_rows"][f]
        assert meta["row_count"] == rows == t.df().count()


def test_upsert_rewrites_only_matched_without_stats_or_broadcast(
    spark, tmp_path
):
    """A batch above the broadcast size joins unhinted, and without PK
    stats every segment is a candidate; either way the upsert rewrites
    only the segment holding a replaced key, keeps the others verbatim
    and keeps keep-last semantics."""
    t = _cow_fixture_table(spark, tmp_path / "nohint")
    files0 = list(t._load_meta()["files"])
    t.COW_UPSERT_MAX_BATCH = 0
    batch = [(105, 50, [5.0, 5.0]), (999, 51, [9.0, 9.0])]
    assert t.insert_df(_fixture_batch(spark, t, batch), upsert=True)["inserted"] == 2
    meta = t._load_meta()
    assert files0[0] in meta["files"] and files0[2] in meta["files"]
    assert files0[1] not in meta["files"]
    del t.COW_UPSERT_MAX_BATCH
    meta["segment_stats"] = {}
    t._save_meta(meta)
    batch = [(5, 52, [5.0, 5.0])]
    assert t.insert_df(_fixture_batch(spark, t, batch), upsert=True)["inserted"] == 1
    meta = t._load_meta()
    assert files0[0] not in meta["files"] and files0[2] in meta["files"]
    assert not any(f.startswith("base_") for f in meta["files"])
    vals = {r["id"]: r["val"] for r in t.df().select("id", "val").collect()}
    assert len(vals) == meta["row_count"] == 31
    assert (vals[105], vals[999], vals[5]) == (50, 51, 52)


def test_every_mutation_is_one_consistent_commit(spark, tmp_path):
    """All data mutations share one commit path: after each, the
    manifest moved exactly one version, ``row_count`` equals both the
    cached per-segment rows and a real count, and every live segment
    has its stats, row count and byte size cached."""
    t = _cow_fixture_table(spark, tmp_path / "commit", n_segments=2)
    vec = lambda i: [float(i % 7), float(i % 5)]  # noqa: E731
    version = t._load_meta()["version"]

    def check(label):
        nonlocal version
        meta = t._load_meta()
        assert meta["version"] == version + 1, label
        version = meta["version"]
        files = meta["files"]
        for cache in ("segment_stats", "segment_rows", "segment_bytes"):
            assert all(f in meta.get(cache, {}) for f in files), (label, cache)
        cached = sum(meta["segment_rows"][f] for f in files)
        assert meta["row_count"] == cached == t.df().count(), label

    t.insert([{"id": 300 + i, "val": i, "v": vec(i)} for i in range(6)])
    check("insert")
    t.insert_df(_fixture_batch(spark, t, [(400 + i, i, vec(i)) for i in range(6)]))
    check("insert_df")
    t.insert([{"id": 3, "val": 99, "v": vec(3)}], upsert=True)
    check("insert upsert")
    t.insert_df(
        _fixture_batch(spark, t, [(105, 98, vec(5)), (500, 1, vec(1))]),
        upsert=True,
    )
    check("insert_df upsert")
    assert t.delete(primary_keys=[0, 401])["deleted"] == 2
    check("pk delete")
    assert t.delete(filter="id >= 302 AND id <= 303")["deleted"] == 2
    check("filter delete")
    t.compact()
    check("compact")
    t.compact(cluster_by="v", k=2, train="lloyd", rounds=1)
    check("clustered compact")
    t.insert([{"id": 600, "val": 1, "v": vec(1)}])
    check("clustered insert")
    t.rewrite_zorder(("id", "val"), segments=3)
    check("rewrite_zorder")
    assert t.statistics() == {"totalRecords": 30}


def test_rewrite_zorder_one_job_per_segment(spark, tmp_path):
    """rewrite_zorder writes each z-range with its stats observed in
    the write job: a fixed few jobs (snapshot read and checkpoint, the
    quantile sketch) plus ONE per segment — not a checkpoint + count +
    write + stats read-back per segment (7 jobs each, 32 in all here)."""
    t = _cow_fixture_table(spark, tmp_path / "zjobs", n_segments=3)
    sc = spark.sparkContext
    group = "zorder-job-count-pin"
    sc.setJobGroup(group, "rewrite_zorder job-count pin")
    try:
        res = t.rewrite_zorder(("id", "val"), segments=4)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    assert res["segmentsAfter"] == 4
    assert jobs <= res["segmentsAfter"] + 5, f"rewrite_zorder ran {jobs} jobs"
    meta = t._load_meta()
    assert meta["row_count"] == t.df().count() == 30
