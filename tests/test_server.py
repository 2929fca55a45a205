"""REST facade e2e: reference-style endpoint flows over a live server
(the reference's own test discipline — API-level end-to-end,
db_server.cpp / concurrency/test.py)."""

from __future__ import annotations

import contextlib
import json
import threading
import urllib.request
from unittest import mock

import pytest

from vectordb_spark import serving
from vectordb_spark.embedding import MockEmbedder
from vectordb_spark.server import EngineAPI, make_server


@pytest.fixture(scope="module")
def base_url(spark, tmp_path_factory):
    srv = make_server(
        spark,
        str(tmp_path_factory.mktemp("wh")),
        port=0,  # ephemeral
        embedder=MockEmbedder(dimension=8),
    )
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    yield f"http://127.0.0.1:{srv.server_address[1]}"
    srv.shutdown()


def _call(base: str, method: str, path: str, payload=None):
    req = urllib.request.Request(
        base + path,
        data=json.dumps(payload or {}).encode(),
        method=method,
        headers={"Content-Type": "application/json"},
    )
    try:
        with urllib.request.urlopen(req) as r:
            return r.status, json.loads(r.read())
    except urllib.error.HTTPError as e:
        return e.code, json.loads(e.read())


def test_full_rest_flow(base_url):
    code, out = _call(base_url, "POST", "/api/load", {"name": "restdb"})
    assert code == 200, out

    schema = {
        "name": "MyTable",
        "fields": [
            {"name": "ID", "dataType": "INT", "primaryKey": True},
            {"name": "Doc", "dataType": "STRING"},
            {
                "name": "Embedding",
                "dataType": "VECTOR_FLOAT",
                "dimensions": 4,
                "metricType": "EUCLIDEAN",
            },
        ],
    }
    code, out = _call(base_url, "POST", "/api/restdb/schema/tables", schema)
    assert code == 200, out

    records = [
        {"ID": i, "Doc": f"doc{i}", "Embedding": [i * 0.1, 0.2, 0.3, 0.4]}
        for i in range(5)
    ]
    code, out = _call(
        base_url, "POST", "/api/restdb/data/insert",
        {"table": "MyTable", "data": records},
    )
    assert code == 200 and out["result"] == {"inserted": 5, "skipped": 0}

    code, out = _call(
        base_url, "POST", "/api/restdb/data/query",
        {
            "table": "MyTable",
            "queryVector": [0.25, 0.2, 0.3, 0.4],
            "limit": 2,
            "withDistance": True,
        },
    )
    assert code == 200
    docs = [r["Doc"] for r in out["result"]]
    assert docs[0] in ("doc2", "doc3")
    assert "@distance" in out["result"][0]

    code, out = _call(
        base_url, "POST", "/api/restdb/data/get",
        {"table": "MyTable", "filter": "ID >= 3", "response": ["ID"]},
    )
    assert code == 200
    assert sorted(r["ID"] for r in out["result"]) == [3, 4]

    # result envelope follows the reference's three-case rule
    # (web_controller.hpp:849-861): facets with no response list →
    # result IS the facets; facets + response list → {records, facets}
    facets = [{"group": [], "aggregate": ["COUNT(*)"]}]
    code, out = _call(
        base_url, "POST", "/api/restdb/data/get",
        {"table": "MyTable", "facets": facets},
    )
    assert code == 200 and out["result"][0][0]["COUNT(*)"] == 5.0
    code, out = _call(
        base_url, "POST", "/api/restdb/data/get",
        {"table": "MyTable", "response": ["ID"], "facets": facets},
    )
    assert code == 200
    assert len(out["result"]["records"]) == 5
    assert out["result"]["facets"][0][0]["COUNT(*)"] == 5.0

    code, out = _call(
        base_url, "POST", "/api/restdb/data/delete",
        {"table": "MyTable", "primaryKeys": [0, 1]},
    )
    assert code == 200 and out["result"] == {"deleted": 2}

    code, out = _call(
        base_url, "GET", "/api/restdb/statistics?table=MyTable"
    )
    assert code == 200 and out["result"] == {"totalRecords": 3}

    code, out = _call(base_url, "GET", "/api/restdb/schema/tables/show")
    assert out["result"] == ["MyTable"]

    code, out = _call(
        base_url, "GET", "/api/restdb/schema/tables/MyTable/describe"
    )
    assert code == 200
    fields = {f["name"]: f["dataType"] for f in out["result"]["fields"]}
    assert fields["Embedding"] == "VECTOR_FLOAT"


def test_mutating_routes_require_post(base_url):
    # reference web_controller binds each route to one HTTP method —
    # a GET to a mutating path must not perform the mutation
    code, out = _call(
        base_url, "GET", "/api/restdb/data/delete",
        {"table": "MyTable", "primaryKeys": [2]},
    )
    assert code == 400 and "No route" in out["message"]
    code, _ = _call(base_url, "GET", "/api/restdb/unload")
    assert code == 400
    code, _ = _call(
        base_url, "GET", "/api/restdb/data/insert",
        {"table": "MyTable", "data": []},
    )
    assert code == 400
    # table untouched by the attempted GET-delete
    code, out = _call(base_url, "GET", "/api/restdb/statistics?table=MyTable")
    assert code == 200 and out["result"] == {"totalRecords": 3}


def test_rest_error_envelopes(base_url):
    # missing table key → 400 with reference-style message
    code, out = _call(base_url, "POST", "/api/restdb/data/insert", {"data": []})
    assert code == 400
    assert "missing in your payload" in out["message"]
    # unknown route → 400/404-ish envelope, not a crash
    code, out = _call(base_url, "POST", "/api/restdb/data/nope", {})
    assert code == 400
    # bad filter surfaces the expression error
    code, out = _call(
        base_url, "POST", "/api/restdb/data/get",
        {"table": "MyTable", "filter": "ID & 1"},
    )
    assert code == 400
    assert "bitwise" in out["message"]


def test_malformed_record_values_are_400(base_url):
    """A value that is not a number where one is declared, or an integer
    outside its declared width, is INVALID_RECORD (HTTP 400) and writes
    nothing; it used to escape as a ValueError (HTTP 500), or reach the
    stored column unchecked."""
    code, out = _call(base_url, "POST", "/api/load", {"name": "valdb"})
    assert code == 200, out
    schema = {
        "name": "Vals",
        "fields": [
            {"name": "id", "dataType": "BIGINT", "primaryKey": True},
            {"name": "small", "dataType": "TINYINT"},
            {"name": "mid", "dataType": "INT"},
            {"name": "v", "dataType": "VECTOR_FLOAT", "dimensions": 2,
             "metricType": "EUCLIDEAN"},
        ],
    }
    code, out = _call(base_url, "POST", "/api/valdb/schema/tables", schema)
    assert code == 200, out
    good = {"id": 1, "small": 127, "mid": -(2**31), "v": [1.0, 2.0]}
    for bad, field in [
        ({"v": [1.0, "abc"]}, "v"),
        ({"id": "x"}, "id"),
        ({"small": 128}, "small"),
        ({"small": -129}, "small"),
        ({"mid": 2**31}, "mid"),
        ({"id": 2**63}, "id"),
    ]:
        code, out = _call(
            base_url, "POST", "/api/valdb/data/insert",
            {"table": "Vals", "data": [{**good, **bad}]},
        )
        assert code == 400, (bad, out)
        assert f"Field {field} " in out["message"], (bad, out)
    code, out = _call(
        base_url, "POST", "/api/valdb/data/insert", {"table": "Vals", "data": [good]}
    )
    assert code == 200 and out["result"] == {"inserted": 1, "skipped": 0}, out
    code, out = _call(
        base_url, "POST", "/api/valdb/data/get", {"table": "Vals"}
    )
    assert code == 200 and out["result"] == [good], out


@pytest.mark.parametrize("path", ["driver", "spark"])
def test_wrong_type_primary_keys_are_400(spark, tmp_path, path):
    """A primary key the PK column cannot be compared with is
    INVALID_PAYLOAD (HTTP 400) on get and delete, before any Spark job,
    and deletes nothing: on an INT key "x" used to raise ValueError in
    get and fail the delete's write job (CAST_INVALID_INPUT), both HTTP
    500. A key's decimal string still matches its integer key."""
    api = EngineAPI(spark, str(tmp_path / "wh"))
    assert api.handle("POST", "/api/load", {"name": "pkdb"}, {})[0] == 200
    for name, pk_type, keys in (
        ("IntKeys", "INT", [1, 2, 3]),
        ("StrKeys", "STRING", ["a", "b", "c"]),
    ):
        schema = {"name": name, "fields": [
            {"name": "id", "dataType": pk_type, "primaryKey": True},
            {"name": "v", "dataType": "VECTOR_FLOAT", "dimensions": 2,
             "metricType": "EUCLIDEAN"},
        ]}
        code, out = api.handle("POST", "/api/pkdb/schema/tables", schema, {})
        assert code == 200, out
        code, out = api.handle("POST", "/api/pkdb/data/insert", {
            "table": name, "data": [{"id": k, "v": [0.0, 1.0]} for k in keys],
        }, {})
        assert code == 200, out
    sc = spark.sparkContext
    group = f"wrong-type-pk-{path}"
    bad = [("IntKeys", "x"), ("IntKeys", "1.5"), ("IntKeys", "02"),
           ("IntKeys", True), ("IntKeys", [1]), ("IntKeys", 2**64),
           ("StrKeys", 1)]
    with (mock.patch.object(serving, "_snapshot", lambda table, meta=None: None)
          if path == "spark" else contextlib.nullcontext()):
        sc.setJobGroup(group, "no job before the key check")
        try:
            for table, key in bad:
                for route in ("get", "delete"):
                    code, out = api.handle(
                        "POST", f"/api/pkdb/data/{route}",
                        {"table": table, "primaryKeys": [key]}, {},
                    )
                    assert code == 400, (route, table, key, out)
                    assert "Primary key" in out["message"], out
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        assert sc.statusTracker().getJobIdsForGroup(group) == []
        code, out = api.handle("POST", "/api/pkdb/data/get",
                               {"table": "IntKeys", "primaryKeys": ["1"]}, {})
        assert code == 200 and [r["id"] for r in out["result"]] == [1], out
        code, out = api.handle("POST", "/api/pkdb/data/delete",
                               {"table": "IntKeys", "primaryKeys": ["2"]}, {})
        assert code == 200 and out["result"] == {"deleted": 1}, out
    for table, n in (("IntKeys", 2), ("StrKeys", 3)):
        code, out = api.handle("POST", "/api/pkdb/data/get", {"table": table}, {})
        assert code == 200 and len(out["result"]) == n, out


def test_vector_scale_capacity_parity(base_url):
    # reference vectorScale (web_controller.hpp:120-122): load with a
    # tiny capacity, overflow returns the reference's 500 + error text
    # (table_segment_mvp.cpp:476-481)
    code, _ = _call(
        base_url, "POST", "/api/load", {"name": "capdb", "vectorScale": 2}
    )
    assert code == 200
    schema = {
        "name": "Tiny",
        "fields": [
            {"name": "ID", "dataType": "INT", "primaryKey": True},
            {
                "name": "Embedding",
                "dataType": "VECTOR_FLOAT",
                "dimensions": 2,
                "metricType": "EUCLIDEAN",
            },
        ],
    }
    code, _ = _call(base_url, "POST", "/api/capdb/schema/tables", schema)
    assert code == 200
    recs = [{"ID": i, "Embedding": [float(i), 0.0]} for i in range(3)]
    code, out = _call(
        base_url, "POST", "/api/capdb/data/insert", {"table": "Tiny", "data": recs}
    )
    assert code == 500
    assert (
        "each table in this database can hold up to 2 records" in out["message"]
    )
    assert "vectorScale" in out["message"]
    # within capacity works
    code, out = _call(
        base_url, "POST", "/api/capdb/data/insert",
        {"table": "Tiny", "data": recs[:2]},
    )
    assert code == 200 and out["result"]["inserted"] == 2


def test_root_and_state(base_url):
    # GET / is PLAIN TEXT (web_controller.hpp:62-66)
    import urllib.request

    with urllib.request.urlopen(base_url + "/") as r:
        assert r.status == 200
        assert r.headers["Content-Type"].startswith("text/plain")
        assert r.read() == b"Welcome to Epsilla VectorDB."
    # GET /state is the JSON envelope (:70-75)
    req = urllib.request.Request(base_url + "/state", method="GET")
    with urllib.request.urlopen(req) as r:
        out = json.loads(r.read())
    assert out == {"statusCode": 200, "message": "Server is online!"}


def test_admin_release_drop_dump(base_url, tmp_path):
    code, _ = _call(base_url, "POST", "/api/load", {"name": "admindb"})
    assert code == 200
    schema = {
        "name": "T",
        "fields": [
            {"name": "ID", "dataType": "INT", "primaryKey": True},
            {"name": "Doc", "dataType": "STRING"},
            {
                "name": "Vec",
                "dataType": "VECTOR_FLOAT",
                "dimensions": 2,
                "metricType": "EUCLIDEAN",
            },
        ],
    }
    code, _ = _call(base_url, "POST", "/api/admindb/schema/tables", schema)
    assert code == 200
    code, _ = _call(
        base_url,
        "POST",
        "/api/admindb/data/insert",
        {"table": "T", "data": [{"ID": 1, "Doc": "x", "Vec": [0.0, 1.0]}]},
    )
    assert code == 200

    # release keeps the db usable (:166-179)
    code, out = _call(base_url, "POST", "/api/admindb/release")
    assert (code, out["message"]) == (200, "Release admindb successfully.")
    code, out = _call(
        base_url, "POST", "/api/admindb/data/get",
        {"table": "T", "limit": 10},
    )
    assert code == 200 and len(out["result"]) == 1

    # dump snapshots catalog + data (:202-232)
    dump_dir = str(tmp_path / "dump")
    code, out = _call(
        base_url, "POST", "/api/dump", {"name": "admindb", "path": dump_dir}
    )
    assert (code, out["message"]) == (200, "Dump admindb successfully.")
    import os

    assert os.path.exists(os.path.join(dump_dir, "catalog"))
    assert os.path.isdir(os.path.join(dump_dir, "T"))
    # unknown db → 404 (the reference's one 404 admin error)
    code, _ = _call(
        base_url, "POST", "/api/dump", {"name": "nosuch", "path": dump_dir}
    )
    assert code == 404

    # drop == unload with an error on unknown names (:183-198)
    code, out = _call(base_url, "DELETE", "/api/admindb/drop")
    assert (code, out["message"]) == (200, "Drop admindb successfully.")
    code, _ = _call(base_url, "DELETE", "/api/admindb/drop")
    assert code == 500


def test_admin_setleader_and_config(base_url):
    code, out = _call(base_url, "POST", "/api/setleader", {"leader": False})
    assert (code, out["message"]) == (200, "Set leader as false successfully.")
    code, out = _call(base_url, "POST", "/api/setleader", {"leader": True})
    assert (code, out["message"]) == (200, "Set leader as true successfully.")

    code, out = _call(
        base_url,
        "POST",
        "/api/config",
        {"IntraQueryThreads": 8, "ConcurrentWorkersPerIndex": 4, "PreFilter": True},
    )
    assert (code, out["message"]) == (200, "Config updated successfully.")
    # out-of-range value → 500 with the reference's invalid_argument text
    code, out = _call(base_url, "POST", "/api/config", {"IntraQueryThreads": 0})
    assert code == 500
    assert "Invalid value for IntraQueryThreads" in out["message"]


def test_csv_load_endpoint(base_url, tmp_path):
    # reference LoadCSV (web_controller.hpp:615-622) is an ack-only
    # stub; here the load is REAL when table+path are given. Vector
    # cells ride as '[x, y]' strings and parse to the declared type.
    code, _ = _call(base_url, "POST", "/api/load", {"name": "csvdb2"})
    assert code == 200
    schema = {
        "name": "C",
        "fields": [
            {"name": "ID", "dataType": "INT", "primaryKey": True},
            {"name": "Doc", "dataType": "STRING"},
            {
                "name": "Vec",
                "dataType": "VECTOR_FLOAT",
                "dimensions": 2,
                "metricType": "EUCLIDEAN",
            },
        ],
    }
    code, _ = _call(base_url, "POST", "/api/csvdb2/schema/tables", schema)
    assert code == 200
    csv = tmp_path / "in.csv"
    csv.write_text(
        'ID,Doc,Vec\n1,alpha,"[0.0, 1.0]"\n2,beta,"[1.0, 0.0]"\n'
    )
    code, out = _call(
        base_url,
        "POST",
        "/api/csvdb2/data/load",
        {"table": "C", "path": str(csv)},
    )
    assert (code, out["message"]) == (200, "Loading csv to csvdb2.")
    code, out = _call(
        base_url, "POST", "/api/csvdb2/data/get", {"table": "C", "limit": 10}
    )
    assert code == 200
    got = {r["ID"]: r for r in out["result"]}
    assert set(got) == {1, 2} and got[1]["Doc"] == "alpha"
    # reference-shaped ack-only call (no table/path) keeps the stub envelope
    code, out = _call(base_url, "POST", "/api/csvdb2/data/load", {})
    assert (code, out["message"]) == (200, "Loading csv to csvdb2.")
