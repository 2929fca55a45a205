"""Warehouse + catalog: databases → tables → typed fields.

The reference persists a JSON catalog file per database directory
(engine/db/catalog/basic_meta_impl.cpp:35,222-311) and one segment dir
per table; here a database is a warehouse subdirectory holding a
``catalog.json`` plus per-table parquet data managed by
vectordb_spark.table.Table. Catalog writes are atomic (tmp + rename),
matching the reference's persistence discipline
(table_segment_mvp.cpp:939-1010).

Auto-embedding indexes materialize hidden vector fields on the schema
(reference basic_meta_impl.cpp:418-443): an index entry on a STRING
field appends a synthetic ``is_index_field`` vector field, COSINE
metric, populated at insert by the embedder.
"""

from __future__ import annotations

import json
import os
import tempfile

from pyspark.sql import SparkSession

from vectordb_spark.schema import (
    FieldSchema,
    FieldType,
    TableSchema,
    VectorDBError,
    validate_schema,
)


def _atomic_write_json(path: str, obj: dict) -> None:
    d = os.path.dirname(path)
    os.makedirs(d, exist_ok=True)
    fd, tmp = tempfile.mkstemp(dir=d, suffix=".tmp")
    try:
        with os.fdopen(fd, "w") as f:
            json.dump(obj, f, indent=1)
        os.replace(tmp, path)
    finally:
        if os.path.exists(tmp):
            os.unlink(tmp)


class Database:
    """A named collection of tables under ``path`` (reference DBMVP)."""

    def __init__(
        self,
        spark: SparkSession,
        name: str,
        path: str,
        init_table_scale: int | None = None,
    ):
        self.spark = spark
        self.name = name
        self.path = path
        # reference vectorScale: per-database default table capacity
        # (web_controller.hpp:38 InitTableScale=150000; unbounded here
        # unless set — Spark tables don't preallocate)
        self.init_table_scale = init_table_scale
        self._catalog_path = os.path.join(path, "catalog.json")
        self._tables: dict[str, TableSchema] = {}
        self._load_catalog()

    def _load_catalog(self) -> None:
        if os.path.exists(self._catalog_path):
            with open(self._catalog_path) as f:
                data = json.load(f)
            self._tables = {
                t["name"]: TableSchema.from_json(t) for t in data.get("tables", [])
            }

    def _save_catalog(self) -> None:
        _atomic_write_json(
            self._catalog_path,
            {
                "name": self.name,
                "tables": [s.to_json() for s in self._tables.values()],
            },
        )

    def list_tables(self) -> list[str]:
        return sorted(self._tables)

    def create_table(
        self, schema_json: dict, *, embedder=None
    ) -> "Table":  # noqa: F821
        """Create a table from a reference-style schema JSON:
        {"name": ..., "fields": [...], "indices": [...]}.
        """
        schema = TableSchema.from_json(schema_json)
        # auto-embedding indices → hidden vector fields (§1.4)
        for idx in schema_json.get("indices", []):
            src = idx.get("field")
            if schema.get(src) is None or schema.get(src).field_type != FieldType.STRING:
                raise VectorDBError(
                    "INVALID_SCHEMA",
                    f"Auto-embedding index source field '{src}' must be a STRING field.",
                )
            dim = int(idx.get("dimensions", 0)) or (
                embedder.dimension if embedder is not None else 0
            )
            schema.fields.append(
                FieldSchema(
                    name=idx["name"],
                    field_type=FieldType.VECTOR_FLOAT,
                    dimension=dim,
                    metric="COSINE",
                    is_index_field=True,
                )
            )
        validate_schema(schema)
        if schema.name in self._tables:
            raise VectorDBError(
                "TABLE_ALREADY_EXISTS", f"Table {schema.name} already exists."
            )
        self._tables[schema.name] = schema
        self._save_catalog()
        from vectordb_spark.table import Table

        t = Table(
            self.spark,
            schema,
            os.path.join(self.path, schema.name),
            embedder=embedder,
            index_sources={
                i["name"]: i["field"] for i in schema_json.get("indices", [])
            },
        )
        t._init_storage(capacity=self.init_table_scale, replace=True)
        return t

    def table(self, name: str, *, embedder=None) -> "Table":  # noqa: F821
        if name not in self._tables:
            raise VectorDBError("TABLE_NOT_FOUND", f"Table {name} not found.")
        from vectordb_spark.table import Table

        return Table(
            self.spark, self._tables[name], os.path.join(self.path, name),
            embedder=embedder,
            # the database's vectorScale governs capacity on every load
            # (reference db_mvp.cpp:24,38) — not just at creation
            capacity_override=self.init_table_scale,
        )

    def drop_table(self, name: str) -> None:
        if name not in self._tables:
            raise VectorDBError("TABLE_NOT_FOUND", f"Table {name} not found.")
        del self._tables[name]
        self._save_catalog()
        # data dirs are left for vacuum — dropping metadata is the
        # transactional part (object-store discipline); a later
        # create_table of the same name starts a fresh manifest.

    def release(self) -> None:
        """Free derived in-memory state while staying registered
        (reference ReleaseDB, db_server.cpp:72-80: ``db->Release()``
        keeps the name→db mapping). Here the durable state IS the
        manifest + parquet on disk, so release = drop cached schemas
        and re-read the catalog on next use."""
        self._load_catalog()

    def dump(self, path: str) -> None:
        """Snapshot catalog + data to ``path`` (reference DumpDB,
        db_server.cpp:82-103: create dir, save catalog file, dump every
        table). Segment files and manifests are immutable, so the dump
        hard-links them when source and destination share a device
        (O(metadata), no byte copying — the same trick the CAS commit
        uses) and falls back to a real copy across devices."""
        import shutil

        os.makedirs(path, exist_ok=True)
        _atomic_write_json(
            os.path.join(path, "catalog"),
            {
                "name": self.name,
                "tables": [s.to_json() for s in self._tables.values()],
            },
        )

        def _link_or_copy(src: str, dst: str) -> None:
            try:
                os.link(src, dst)
            except OSError:
                shutil.copy2(src, dst)

        for tname in self._tables:
            src = os.path.join(self.path, tname)
            if os.path.isdir(src):
                shutil.copytree(
                    src,
                    os.path.join(path, tname),
                    copy_function=_link_or_copy,
                    dirs_exist_ok=True,
                )


class Warehouse:
    """Top-level entry: load/unload/drop databases
    (reference db_server.cpp:82-119)."""

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        os.makedirs(root, exist_ok=True)
        self._dbs: dict[str, Database] = {}

    def load_db(
        self,
        name: str,
        path: str | None = None,
        vector_scale: int | None = None,
    ) -> Database:
        db = Database(
            self.spark,
            name,
            path or os.path.join(self.root, name),
            init_table_scale=vector_scale,
        )
        self._dbs[name] = db
        return db

    def unload_db(self, name: str) -> None:
        self._dbs.pop(name, None)

    def drop_db(self, name: str) -> None:
        """Reference DropDB (web_controller.hpp:183-198) — 'Actual
        erase To be implemented.' there, so drop == unload, but unlike
        unload_db an unknown name errors (db_server.cpp:60-70)."""
        if name not in self._dbs:
            raise VectorDBError("DB_UNEXPECTED_ERROR", f"DB not found: {name}")
        self._dbs.pop(name)

    def release_db(self, name: str) -> None:
        """Reference ReleaseDB (db_server.cpp:72-80): free memory,
        stay registered; unknown name errors."""
        if name not in self._dbs:
            raise VectorDBError("DB_UNEXPECTED_ERROR", f"DB not found: {name}")
        self._dbs[name].release()

    def dump_db(self, name: str, path: str) -> None:
        """Reference DumpDB (db_server.cpp:82-103); unknown name is
        DB_NOT_FOUND (the one admin error the reference maps to 404)."""
        if name not in self._dbs:
            raise VectorDBError("DB_NOT_FOUND", f"DB not found: {name}")
        self._dbs[name].dump(path)

    def database(self, name: str) -> Database:
        if name not in self._dbs:
            raise VectorDBError("DB_NOT_FOUND", f"Database {name} not loaded.")
        return self._dbs[name]
