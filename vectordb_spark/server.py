"""REST facade — the reference's HTTP surface on the Spark engine
(reference engine/server/web_server/web_controller.hpp; endpoint paths
and response envelopes {statusCode, message, result} kept compatible so
a pyepsilla-style client can point here).

stdlib http.server only (no framework in this environment); mutations
execute sequentially, mirroring the reference's per-table single-writer
discipline, and reads run concurrently against committed snapshots.

The read routes are a latency tier. ``/data/query`` (knn and filtered
knn, with facets) and ``/data/get`` (PK lists and filtered pages) are
answered on the driver by serving.py from cached Arrow copies of the
live segments, bit-identical to the Spark path and without a Spark job.
A request falls back to that Spark path (hundreds of ms) for:
  - a partitioned table, or a table with a sparse vector field;
  - a table whose live rows would decode to more than
    ``serving.CACHE_BYTES`` (256 MiB), estimated from the manifest;
  - a segment whose vector column holds a NULL, a NULL element or an
    off-width row, or whose columns are not the declared types;
  - a filter or facet the pyarrow target cannot match exactly: ``%``,
    ``NEARBY``, an escaped or non-literal ``LIKE`` pattern, a NaN
    comparison operand, an aggregate over a STRING, a FLOAT group key.
Cache invalidation: an entry is keyed by the table path, the segment
dir name and that dir's data-file names (Spark part names carry a
per-write UUID, so a reused dir name never matches an old entry); each
request drops the entries of dirs its manifest no longer lists.
Small REST writes — ``/data/insert`` (upserts included) and
``/data/delete`` — commit from the driver too on a table the tier
serves: pyarrow writes the new segments and the manifest commit is the
Spark path's, with zero Spark jobs; a delete filter the pyarrow target
cannot match exactly runs on Spark. CSV loads, index builds and
searches and the DataFrame surface always run on Spark — the SAME
engine serves the 100 TB batch path and the API.

Routes (reference web_controller.hpp line refs):
  GET    /                                           (:62, text/plain)
  GET    /state                                      (:70)
  POST   /api/load                                   (:79)
  POST   /api/{db}/unload                            (:148)
  POST   /api/{db}/release                           (:166)
  DELETE /api/{db}/drop                              (:183)
  POST   /api/dump                                   (:202)
  POST   /api/{db}/schema/tables                     (:236)
  DELETE /api/{db}/schema/tables/{table}             (:375)
  GET    /api/{db}/schema/tables/show                (:412)
  POST   /api/{db}/data/insert                       (:436)
  POST   /api/{db}/data/insertprepare                (:511)
  POST   /api/{db}/data/delete                       (:557)
  POST   /api/{db}/data/load                         (:615, CSV — real here)
  GET    /api/{db}/statistics?table=                 (:626)
  POST   /api/{db}/data/query                        (:646)
  POST   /api/{db}/data/get                          (:868)
  POST   /api/rebuild                                (:967)
  POST   /api/setleader                              (:984)
  POST   /api/config                                 (:1004)
"""

from __future__ import annotations

import json
import re
import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from urllib.parse import parse_qs, urlparse

from pyspark.sql import SparkSession

from vectordb_spark.catalog import Warehouse
from vectordb_spark.schema import VectorDBError


class ServerConfig:
    """Runtime-tunable server config (reference config/config.hpp).
    The reference's knobs size its hand-rolled executor pools; on Spark
    the cluster manager owns parallelism, so the values are validated
    and stored with reference-exact ranges/messages (a client tuning
    the reference keeps working) and only ``PreFilter`` changes
    behavior (the reference's global pre/post-filter toggle; consumed
    as the default for query handling)."""

    _INT_RANGES = {
        "IntraQueryThreads": (1, 128),
        "NumExecutorPerField": (1, 128),
        "RebuildThreads": (1, 128),
        "SearchQueueSize": (500, 10_000_000),
    }
    # payload key -> internal field (config.hpp:66-85)
    _KEYS = {
        "IntraQueryThreads": "IntraQueryThreads",
        "ConcurrentWorkersPerIndex": "NumExecutorPerField",
        "RebuildThreads": "RebuildThreads",
        "SearchQueueSize": "SearchQueueSize",
    }

    def __init__(self):
        self.values = {
            "IntraQueryThreads": 4,
            "NumExecutorPerField": 16,
            "RebuildThreads": 1,
            "SearchQueueSize": 500,
            "PreFilter": False,
        }

    def update(self, payload: dict) -> None:
        for key, field in self._KEYS.items():
            if key in payload:
                v = int(payload[key])
                lo, hi = self._INT_RANGES[field]
                if not (lo <= v <= hi):
                    # reference std::invalid_argument text, surfaced as
                    # the 500 envelope (web_controller.hpp:1020-1025)
                    raise ValueError(
                        f"Invalid value for {field}, valid range: [{lo}, {hi}]"
                    )
                self.values[field] = v
        if "PreFilter" in payload:
            self.values["PreFilter"] = bool(payload["PreFilter"])


class EngineAPI:
    """Route table + handlers bound to a Warehouse."""

    def __init__(self, spark: SparkSession, warehouse_root: str, *, embedder=None):
        self.warehouse = Warehouse(spark, warehouse_root)
        self.embedder = embedder
        self.config = ServerConfig()
        # reference leader flag (web_controller.hpp:984-1002): a
        # follower in the reference forwards writes; here it is state a
        # deployment can inspect via /api/setleader + GET /state
        self.is_leader = True
        # In-process request serialization; the cross-PROCESS writer
        # guarantee lives at the table layer (Table.writer_lock flock,
        # table.py) so two jobs/servers on one warehouse can't
        # interleave manifest commits.
        self._lock = threading.Lock()

    # each handler: (payload, path_params, query_params) -> result dict

    @staticmethod
    def _is_read_only(method: str, path: str) -> bool:
        """Reads don't take the writer lock: the manifest commits
        atomically (tmp + rename) and segments are immutable, so a
        reader always sees a complete committed snapshot — concurrent
        Spark read jobs are the whole point of the engine. Mutations
        stay serialized (reference per-table single-writer,
        table_mvp.cpp executor pools)."""
        return method == "GET" or path.endswith(("/data/query", "/data/get"))

    def handle(self, method: str, path: str, payload: dict, qs: dict) -> tuple[int, dict]:
        try:
            if self._is_read_only(method, path):
                return 200, self._route(method, path, payload, qs)
            with self._lock:
                return 200, self._route(method, path, payload, qs)
        except VectorDBError as e:
            if path == "/api/dump" and e.code == "DB_NOT_FOUND":
                # the one admin error the reference maps to 404
                # (web_controller.hpp:216-220)
                return 404, {"statusCode": 404, "message": e.message}
            code = 400 if e.code != "DB_UNEXPECTED_ERROR" else 500
            return code, {"statusCode": code, "message": e.message}
        except KeyError as e:
            return 400, {"statusCode": 400, "message": f"{e.args[0]} is missing in your payload."}
        except Exception as e:  # engine errors surface as 500 like the reference
            return 500, {"statusCode": 500, "message": str(e)}

    def _route(self, method: str, path: str, p: dict, qs: dict) -> dict:
        if method == "GET" and path == "/state":
            # web_controller.hpp:70-75
            return _ok("Server is online!")
        if method == "POST" and (m := re.fullmatch(r"/api/([^/]+)/release", path)):
            # web_controller.hpp:166-179
            self.warehouse.release_db(m.group(1))
            return _ok(f"Release {m.group(1)} successfully.")
        if method == "DELETE" and (m := re.fullmatch(r"/api/([^/]+)/drop", path)):
            # web_controller.hpp:183-198 (drop == unload there too)
            self.warehouse.drop_db(m.group(1))
            return _ok(f"Drop {m.group(1)} successfully.")
        if method == "POST" and path == "/api/dump":
            # web_controller.hpp:202-232; unknown db → 404 (the one
            # admin error the reference maps to 404, see handle())
            self.warehouse.dump_db(p["name"], p["path"])
            return _ok(f"Dump {p['name']} successfully.")
        if method == "POST" and path == "/api/setleader":
            # web_controller.hpp:984-1002
            self.is_leader = bool(p["leader"])
            return _ok(
                f"Set leader as {'true' if self.is_leader else 'false'} "
                "successfully."
            )
        if method == "POST" and path == "/api/config":
            # web_controller.hpp:1004-1030
            self.config.update(p)
            return _ok("Config updated successfully.")
        if method == "POST" and path == "/api/load":
            # vectorScale: reference per-database table capacity
            # (web_controller.hpp:120-122, default InitTableScale=150000
            # there; unbounded here unless the client sets it)
            vs = p.get("vectorScale")
            db = self.warehouse.load_db(
                p["name"], p.get("path"),
                vector_scale=int(vs) if vs is not None else None,
            )
            return _ok(f"Load/Create {db.name} successfully.")
        if method == "POST" and (m := re.fullmatch(r"/api/([^/]+)/unload", path)):
            self.warehouse.unload_db(m.group(1))
            return _ok(f"Unload {m.group(1)} successfully.")
        if method == "POST" and (m := re.fullmatch(r"/api/([^/]+)/schema/tables", path)):
            db = self.warehouse.database(m.group(1))
            db.create_table(p, embedder=self.embedder)
            return _ok(f"Create {p['name']} successfully.")
        if method == "DELETE" and (m := re.fullmatch(r"/api/([^/]+)/schema/tables/([^/]+)", path)):
            self.warehouse.database(m.group(1)).drop_table(m.group(2))
            return _ok(f"Drop {m.group(2)} successfully.")
        if method == "GET" and (m := re.fullmatch(r"/api/([^/]+)/schema/tables/show", path)):
            return _ok("ok", result=self.warehouse.database(m.group(1)).list_tables())
        if method == "GET" and (
            m := re.fullmatch(r"/api/([^/]+)/schema/tables/([^/]+)/describe", path)
        ):
            t = self._table(m.group(1), m.group(2))
            return _ok("ok", result=t.schema.to_json())
        if method == "POST" and (m := re.fullmatch(r"/api/([^/]+)/data/insert", path)):
            t = self._table(m.group(1), p["table"])
            res = t.insert(p["data"], upsert=bool(p.get("upsert", False)))
            return _ok(f"Insert data to {p['table']} successfully.", result=res)
        if method == "POST" and (m := re.fullmatch(r"/api/([^/]+)/data/load", path)):
            # LoadCSV (web_controller.hpp:615-622). The reference STUBS
            # this — it replies "Loading csv to {db}." and does nothing.
            # Here the load is real when the payload names a table and
            # path (sources/readers.py read_csv → insert_df), while a
            # bare payload keeps the reference's ack-only behavior so a
            # reference-shaped client sees the identical envelope.
            if p.get("table") and p.get("path"):
                from pyspark.sql import functions as F
                from pyspark.sql import types as T

                from vectordb_spark.sources.readers import read_csv

                t = self._table(m.group(1), p["table"])
                declared = t.schema.to_spark_schema()
                # CSV cells are scalars: read array-typed (vector)
                # fields as STRING columns holding '[0.1, 0.2]' and
                # parse them to the declared array type afterwards
                csv_schema = T.StructType(
                    [
                        T.StructField(
                            f.name,
                            T.StringType()
                            if isinstance(f.dataType, T.ArrayType)
                            else f.dataType,
                        )
                        for f in declared.fields
                    ]
                )
                df = read_csv(
                    self.warehouse.spark, p["path"],
                    schema=csv_schema,
                    header=bool(p.get("header", True)),
                )
                for f in declared.fields:
                    if isinstance(f.dataType, T.ArrayType):
                        df = df.withColumn(
                            f.name, F.from_json(F.col(f.name), f.dataType)
                        )
                t.insert_df(df, upsert=bool(p.get("upsert", False)))
            return _ok(f"Loading csv to {m.group(1)}.")
        if method == "POST" and (m := re.fullmatch(r"/api/([^/]+)/data/insertprepare", path)):
            t = self._table(m.group(1), p["table"])
            res = t.insert_prepare(p.get("primaryKeys"))
            return _ok("ok", result=res)
        if method == "POST" and (m := re.fullmatch(r"/api/([^/]+)/data/delete", path)):
            t = self._table(m.group(1), p["table"])
            res = t.delete(p.get("primaryKeys"), p.get("filter", ""))
            return _ok(f"Delete data from {p['table']} successfully.", result=res)
        if method == "GET" and (m := re.fullmatch(r"/api/([^/]+)/statistics", path)):
            t = self._table(m.group(1), qs["table"][0])
            return _ok("ok", result=t.statistics())
        if method == "POST" and (m := re.fullmatch(r"/api/([^/]+)/data/query", path)):
            t = self._table(m.group(1), p["table"])
            out = t.query(
                query_vector=p.get("queryVector"),
                query_text=p.get("query"),
                query_field=p.get("queryField"),
                query_index=p.get("queryIndex"),
                limit=int(p["limit"]),
                response=p.get("response"),
                filter=p.get("filter", ""),
                with_distance=bool(p.get("withDistance", False)),
                facets=p.get("facets"),
            )
            return _ok(
                "Query search successfully.",
                result=_result_envelope(out, p.get("response"), p.get("facets")),
            )
        if method == "POST" and (m := re.fullmatch(r"/api/([^/]+)/data/get", path)):
            t = self._table(m.group(1), p["table"])
            out = t.get(
                response=p.get("response"),
                filter=p.get("filter", ""),
                skip=int(p.get("skip", 0)),
                limit=int(p.get("limit", 2**30)),
                primary_keys=p.get("primaryKeys"),
                facets=p.get("facets"),
            )
            return _ok(
                "Query get successfully.",
                result=_result_envelope(out, p.get("response"), p.get("facets")),
            )
        if method == "POST" and path == "/api/rebuild":
            db = self.warehouse.database(p["db"])
            t = db.table(p["table"], embedder=self.embedder)
            res = t.rebuild(p["field"], k=int(p.get("k", 16)))
            return _ok("Rebuild finished.", result=res)
        raise VectorDBError("NOT_FOUND", f"No route {method} {path}")

    def _table(self, db_name: str, table_name: str):
        return self.warehouse.database(db_name).table(table_name, embedder=self.embedder)


def _result_envelope(out: dict, response_fields, facets):
    """The reference's three-case result shape (web_controller.hpp:
    849-861 query, :946-959 get): records array when no facets were
    requested; the facets object alone when facets were requested with
    NO response-field list; ``{records, facets}`` when both."""
    if not facets:
        return out["result"]
    if not response_fields:
        return out["facets"]
    return {"records": out["result"], "facets": out["facets"]}


def _ok(message: str, result=None) -> dict:
    out = {"statusCode": 200, "message": message}
    if result is not None:
        out["result"] = result
    return out


def make_server(
    spark: SparkSession, warehouse_root: str, *, host: str = "127.0.0.1",
    port: int = 8888, embedder=None,
) -> ThreadingHTTPServer:
    api = EngineAPI(spark, warehouse_root, embedder=embedder)

    class Handler(BaseHTTPRequestHandler):
        def _respond(self):
            parsed = urlparse(self.path)
            if self.command == "GET" and parsed.path == "/":
                # reference root endpoint is PLAIN TEXT, not the JSON
                # envelope (web_controller.hpp:62-66)
                data = b"Welcome to Epsilla VectorDB."
                self.send_response(200)
                self.send_header("Content-Type", "text/plain")
                self.send_header("Content-Length", str(len(data)))
                self.end_headers()
                self.wfile.write(data)
                return
            length = int(self.headers.get("Content-Length", 0) or 0)
            body = self.rfile.read(length).decode() if length else "{}"
            try:
                payload = json.loads(body) if body.strip() else {}
            except json.JSONDecodeError:
                code, out = 400, {"statusCode": 400, "message": "Invalid payload."}
            else:
                code, out = api.handle(
                    self.command, parsed.path, payload, parse_qs(parsed.query)
                )
            data = json.dumps(out).encode()
            self.send_response(code)
            self.send_header("Content-Type", "application/json")
            self.send_header("Content-Length", str(len(data)))
            self.end_headers()
            self.wfile.write(data)

        do_GET = do_POST = do_DELETE = _respond

        def log_message(self, *args):  # quiet
            pass

    return ThreadingHTTPServer((host, port), Handler)


def serve(spark: SparkSession, warehouse_root: str, **kw) -> None:
    srv = make_server(spark, warehouse_root, **kw)
    print(f"vectordb_spark REST on {srv.server_address}")
    srv.serve_forever()
