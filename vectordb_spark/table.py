"""Parquet-backed table with the reference engine's full DML/query
surface (SURVEY.md §2.1, §3).

Storage model: a manifest (``_meta.json``) lists immutable parquet
segment dirs plus ``next_row_id`` — the object-store pattern (what
Delta/Iceberg do with a transaction log; the reference's WAL+snapshot,
table_segment_mvp.cpp:939-1010, collapses into this). Every data
mutation writes its new segments first and then makes ONE manifest
commit (``Table._commit``): inserts add a segment; deletes and upserts
copy-on-write only the segments whose manifest min/max stats overlap
the mutation and keep the rest verbatim (an upsert's batch lands as an
added segment in the same commit); ``compact``/``rewrite_zorder``
replace the whole segment list. Manifest commits are atomic
link+rename. Writes are single-writer per table, like the reference's
``data_update_mutex_`` (table_segment_mvp.cpp:456); readers always see
a complete manifest → snapshot isolation, strictly better than the
reference's racy lock-free reads (SURVEY.md §3.3).

Every row carries ``_row_id`` — the insertion-order cursor (reference
table_segment_mvp.cpp:487) — which drives pagination order, KNN
tie-breaking, and upsert "latest wins".

Deterministic ingest transforms replicated from the reference:
- COSINE fields L2-normalized at ingest, dense (:574-587) and sparse
  (:556-562); query vectors normalized at search (table_mvp.cpp:334-349)
- sparse validation skips bad rows, response counts skipped (:511-553)
- GEO_POINT lat clamped to [-90,90], lon to [-180,180] (:626-640)
- duplicate-PK insert skips (first wins), upsert replaces (last wins)
  in batch-array order (:652-795)
"""

from __future__ import annotations

import functools
import json
import math
import os
import re
import tempfile
import threading
import time
from contextlib import contextmanager
from typing import Any

try:  # POSIX advisory file locks (Linux/macOS); absent on Windows
    import fcntl
except ImportError:  # pragma: no cover
    fcntl = None  # type: ignore[assignment]

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, Row, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from vectordb_spark import serving
from vectordb_spark.embedding import embed_column
from vectordb_spark.expr.compile import (
    ArrowUnsupported,
    references_distance,
    to_spark_column,
)
from vectordb_spark.expr.parser import parse_filter
from vectordb_spark.expr.prune import range_bounds, segment_overlaps, tighten
from vectordb_spark.operators.pq import (
    RESIDUAL_CONVENTION as _PQ_RESIDUAL_CONVENTION,
)
from vectordb_spark.functions.distance import (
    distance_for_metric,
    l2_normalize,
    sparse_distance_for_metric,
    sparse_l2_normalize,
)
from vectordb_spark.schema import (
    FieldSchema,
    FieldType,
    TableSchema,
    VectorDBError,
    validate_schema,
)
from vectordb_spark.segmented_index import (
    DIR_PREFIXES as _INDEX_DIR_PREFIXES,
    IVF,
    SPARSE,
    TEXT,
    SegmentedIndex,
    column_types as _columns,
    live_dirs as _live_index_dirs,
    postings_schema as _postings_schema,
)

DEFAULT_CAPACITY = 2**31 - 1
DEFAULT_GET_LIMIT = 2**30  # reference web_controller.hpp:904-911


# Re-entrancy registry for writer_lock: thread-local SET OF TABLE PATHS
# currently held by this thread. Module-level (not per-Table) because
# nested mutations routinely run through DIFFERENT Table instances on
# the same path (db.table(name) hands out a fresh handle every call) —
# a per-instance flag would let the inner call re-flock the same file
# from a new fd and self-deadlock.
_WRITER_HELD = threading.local()


def _writer_locked(fn):
    """Serialize a manifest read-modify-write across THREADS AND
    PROCESSES: the whole mutation (meta load → segment write → manifest
    commit) runs under an exclusive flock on ``<table>/_writer.lock``.

    The reference is single-process, so its ``data_update_mutex_``
    (table_segment_mvp.cpp:456) suffices; at 100 TB multiple jobs write
    one table, and an in-process ``threading.Lock`` (server.py) cannot
    exclude a second process — two interleaved load→save cycles would
    silently drop the first commit. flock conflicts between distinct
    file descriptors even within one process, so two Table objects on
    the same path serialize too; the thread-local held-paths registry
    lets nested calls through any handle of the same table without
    self-deadlock.
    """

    @functools.wraps(fn)
    def wrapper(self, *args, **kwargs):
        with self.writer_lock():
            return fn(self, *args, **kwargs)

    return wrapper


class Table:
    # search_text_df limits at or below this use the two-phase
    # collect-then-pushed-IN fetch; above it, one composed plan
    _TEXT_FETCH_COLLECT_MAX = 1024

    def __init__(
        self,
        spark: SparkSession,
        schema: TableSchema,
        path: str,
        *,
        embedder=None,
        index_sources: dict[str, str] | None = None,
        capacity_override: int | None = None,
        partition_by: str | None = None,
    ):
        validate_schema(schema)
        self.spark = spark
        self.schema = schema
        self.path = path
        # Reference parity (db_mvp.cpp:24,38): the database's
        # init_table_scale applies to every table on EVERY load, so
        # "unload and reload with a larger vectorScale" actually raises
        # the limit. Overrides the capacity persisted at creation.
        self.capacity_override = capacity_override
        self.embedder = embedder
        self._meta_path = os.path.join(path, "_meta.json")
        # index field name -> source STRING field (auto-embedding, §1.4)
        self.index_sources = (
            index_sources if index_sources is not None else self._load_index_sources()
        )
        # storage partition column (hive-style segment layout): scans
        # filtered on it prune whole directories — the 100 TB
        # data-skipping lever. Persisted at create; on reopen the
        # manifest wins OUTRIGHT — a manifest without the key means
        # "unpartitioned", not a fall-through to the constructor
        # argument (which would silently mix partitioned and flat
        # segments in one table).
        if self._table_exists():
            self.partition_by = self._load_partition_by()
        else:
            self.partition_by = partition_by
        self._ivf = SegmentedIndex(self, IVF)
        self._text = SegmentedIndex(self, TEXT)
        self._sparse = SegmentedIndex(self, SPARSE)

    # ---------------------------------------------------------------- meta

    def _table_exists(self) -> bool:
        """A table exists if ANY manifest is present. The versioned
        commit tokens (_meta.s{N}.json) are authoritative — a writer
        crashing between link(2) and the _meta.json replace on the
        FIRST commit leaves only _meta.s1.json, and keying existence on
        _meta.json alone would make reopen treat the table as new
        (constructor partition_by would override the committed one, and
        _init_storage would raise CONCURRENT_WRITE instead of rolling
        forward)."""
        return bool(self._seq_manifests()) or os.path.exists(self._meta_path)

    def _init_storage(self, capacity: int | None = None, *, replace: bool = False) -> None:
        """Commit the empty first manifest unless a table exists here.
        ``replace`` (a catalog create) also starts over a DROPPED
        table's manifest chain — ``Database.drop_table`` removes only
        the catalog entry: the new table commits a fresh empty
        manifest that continues the chain's seq (the commit CAS claims
        the next token), so none of the old rows come back, and the old
        segment dirs are left for ``vacuum``."""
        os.makedirs(self.path, exist_ok=True)
        meta = {
            "version": 0,
            "files": [],
            "next_row_id": 0,
            "row_count": 0,
            "capacity": int(capacity) if capacity else DEFAULT_CAPACITY,
        }
        if self._table_exists():
            if not replace:
                return
            meta["seq"] = int(self._load_meta().get("seq") or 0)
            # the constructor adopted the dropped manifest's layout; a
            # catalog table is unpartitioned
            self.partition_by = None
        meta["index_sources"] = self.index_sources
        meta["partition_by"] = self.partition_by
        # every segment this table writes is noted here when it does
        # not read with _default_schema (_record_segment_schema), so
        # every read can name its schema
        meta["segment_schemas"] = {}
        self._save_meta(meta)

    def _load_meta(self) -> dict:
        # Roll-forward read: the versioned commit files (_meta.s{N}.json,
        # the atomic CAS tokens — see _save_meta) are authoritative; the
        # _meta.json pointer is best-effort (a writer crashing between
        # link and replace leaves it one commit behind). Retry covers a
        # concurrent GC unlinking an old token between list and open.
        for _ in range(3):
            seqs = self._seq_manifests()
            if not seqs:
                break
            try:
                with open(self._seq_path(seqs[-1])) as f:
                    return json.load(f)
            except FileNotFoundError:
                continue
        with open(self._meta_path) as f:
            return json.load(f)

    def _seq_path(self, seq: int) -> str:
        return os.path.join(self.path, f"_meta.s{int(seq)}.json")

    def _seq_manifests(self) -> list[int]:
        try:
            names = os.listdir(self.path)
        except FileNotFoundError:
            return []
        return sorted(
            int(n[7:-5])
            for n in names
            if n.startswith("_meta.s") and n.endswith(".json") and n[7:-5].isdigit()
        )

    @contextmanager
    def writer_lock(self):
        """Exclusive cross-process writer lock for this table (see
        _writer_locked). Re-entrant per thread across ANY handle of the
        same table path; a no-op where fcntl is unavailable."""
        key = os.path.realpath(self.path)
        held: set = getattr(_WRITER_HELD, "paths", None) or set()
        if fcntl is None or key in held:
            yield
            return
        os.makedirs(self.path, exist_ok=True)
        with open(os.path.join(self.path, "_writer.lock"), "w") as lf:
            fcntl.flock(lf, fcntl.LOCK_EX)
            _WRITER_HELD.paths = held | {key}
            try:
                yield
            finally:
                _WRITER_HELD.paths = _WRITER_HELD.paths - {key}
                fcntl.flock(lf, fcntl.LOCK_UN)

    def _capacity(self, meta: dict) -> int:
        if self.capacity_override:
            return int(self.capacity_override)
        return int(meta.get("capacity") or DEFAULT_CAPACITY)

    def _load_index_sources(self) -> dict[str, str]:
        if self._table_exists():
            return self._load_meta().get("index_sources", {})
        return {}

    def _load_partition_by(self) -> str | None:
        if self._table_exists():
            return self._load_meta().get("partition_by")
        return None

    def _save_meta(self, meta: dict) -> None:
        """Manifest commit as a TRUE compare-and-swap. The flock writer
        lock serializes writers on one host, but flock is
        advisory-LOCAL — two Spark drivers on different HOSTS against
        shared POSIX storage each hold their own lock, and a plain
        read-modify-replace would silently clobber the other's
        committed segments. Every commit therefore claims the next
        commit sequence number by hard-linking the fully-written
        manifest to ``_meta.s{seq}.json``: link(2) is atomic-exclusive,
        so exactly ONE writer ever owns a given seq — a writer holding
        a stale manifest (stale seq) or racing for the same seq loses
        with a clean CONCURRENT_WRITE instead of a lost update, and
        retries from a fresh load. ``seq`` is orthogonal to the data
        ``version`` (vacuum and index rebuild commit without bumping
        the version; every save bumps seq). The ``_meta.json`` pointer
        is kept for inspection/back-compat; _load_meta treats the
        newest seq token as authoritative (crash between link and
        replace loses nothing)."""
        os.makedirs(self.path, exist_ok=True)
        base_seq = int(meta.get("seq") or 0)
        # Resurrection guard (the Delta-Lake retention invariant). The
        # link-CAS below is only sound while the claimed token name
        # s{base_seq+1} cannot have EXISTED AND BEEN GC'd — a stale
        # writer linking into such a hole "wins" a commit the chain
        # never sees (observed: a 10 ms-stale writer after five racing
        # commits + count-only GC → wins = version + 1, a silent lost
        # update). Two pieces close it:
        #   1. Here: refuse when the chain has visibly advanced. GC
        #      always retains the RETENTION newest tokens, and a tip
        #      token is only deleted once newer ones exist, so
        #      max(existing tokens) IS the true tip — this check is
        #      exact, not heuristic.
        #   2. _gc_seq_manifests: never delete a token younger than
        #      SEQ_TOKEN_MIN_AGE_S. The only window this check leaves
        #      open is check→link (microseconds); a hole needs a
        #      younger-than-tip token to age 60 s first, so within the
        #      window the link can only LOSE cleanly, never resurrect.
        # Long-held manifests (a multi-minute segment write at scale)
        # stay safe: if anything committed meanwhile, its token is
        # still visible here and the writer gets a clean retry signal.
        newest = self._seq_manifests()
        if newest and newest[-1] > base_seq:
            raise VectorDBError(
                "CONCURRENT_WRITE",
                f"Commit {base_seq + 1} is stale: the manifest chain is "
                f"already at {newest[-1]}; reload the table and retry.",
            )
        # Bump seq in the SERIALIZED copy only; the caller's dict
        # advances after the link succeeds. If the caller's dict were
        # bumped first, a CONCURRENT_WRITE loser that retried with the
        # same stale dict (instead of reloading) would eventually claim
        # a later seq and clobber the winning commit — the exact lost
        # update the CAS exists to prevent.
        committed = dict(meta)
        committed["seq"] = base_seq + 1
        fd, tmp = tempfile.mkstemp(dir=self.path, suffix=".tmp")
        try:
            with os.fdopen(fd, "w") as f:
                json.dump(committed, f)
            try:
                os.link(tmp, self._seq_path(base_seq + 1))
            except FileExistsError:
                raise VectorDBError(
                    "CONCURRENT_WRITE",
                    f"Commit {base_seq + 1} was claimed by another writer "
                    "(different host?) after this one loaded the manifest; "
                    "reload the table and retry.",
                ) from None
            meta["seq"] = base_seq + 1
            os.replace(tmp, self._meta_path)
        finally:
            if os.path.exists(tmp):
                os.unlink(tmp)
        self._gc_seq_manifests()

    # retained seq tokens: enough that a reader between list and open
    # never sees its chosen (max) token GC'd by the next few commits
    SEQ_MANIFEST_RETENTION = 4
    # tokens younger than this (fs mtime) are NEVER GC'd regardless of
    # count — the other half of the staleness contract in _save_meta:
    # deleting a recent token re-opens its name for os.link, turning a
    # stale writer's claim into a phantom commit the chain never sees.
    SEQ_TOKEN_MIN_AGE_S = 60.0

    def _gc_seq_manifests(self) -> None:
        cutoff = time.time() - self.SEQ_TOKEN_MIN_AGE_S
        for s in self._seq_manifests()[: -self.SEQ_MANIFEST_RETENTION]:
            p = self._seq_path(s)
            try:
                if os.path.getmtime(p) <= cutoff:
                    os.unlink(p)
            except FileNotFoundError:
                pass

    # ---------------------------------------------------------------- read

    def df(self, version: int | None = None) -> DataFrame:
        """Snapshot incl. ``_row_id``. ``version=None`` reads the
        current manifest; an integer time-travels to that committed
        version (data dirs are immutable, so every recorded manifest
        stays readable — the table-format time-travel property)."""
        meta = self._load_meta()
        files, tombstones = self._snapshot_at(meta, version)
        return self._df_for_files(files, meta, tombstones)

    @staticmethod
    def _snapshot_at(meta: dict, version: int | None = None) -> tuple[list, dict]:
        """The segment list and tombstone map of committed ``version``
        of manifest ``meta`` (the current one when None): every
        time-travel, changefeed and matview history lookup goes
        through here."""
        if version is None or version == meta["version"]:
            return meta["files"], meta.get("tombstones") or {}
        for h in meta.get("history", []):
            if h["version"] == version:
                return h["files"], h.get("tombstones") or {}
        raise VectorDBError(
            "VERSION_NOT_FOUND", f"Version {version} not in table history."
        )

    def _df_for_files(
        self, files: list[str], meta: dict | None = None, tombstones: dict | None = None
    ) -> DataFrame:
        """The live rows of segments ``files`` of manifest ``meta`` (the
        current one when None), read with the schema the manifest says
        they were written with: no footer-inference job. The rows their
        ``tombstones`` (default: ``meta``'s current map) delete are
        filtered out with one ``_row_id`` InSet (``_row_ids_in``)."""
        if not files:
            return self.spark.createDataFrame(
                [], self.schema.to_spark_schema(with_row_id=True)
            )
        if meta is None:
            meta = self._load_meta()
        if self.partition_by and len(files) > 1:
            # each segment dir is its own hive-partitioned root; a
            # multi-path read would try to treat them as partition
            # siblings of one table. Per-segment reads unioned by name
            # keep the per-segment PartitionFilters pruning intact.
            df = functools.reduce(
                DataFrame.unionByName,
                [self._df_for_files([f], meta, {}) for f in files],
            )
        else:
            df = self._restore_partition_type(
                self._read_segments(
                    self._read_schema(meta, files),
                    *[os.path.join(self.path, f) for f in files],
                )
            )
        if tombstones is None:
            tombstones = meta.get("tombstones") or {}
        dead = [tombstones[f] for f in files if f in tombstones]
        return df.where(~_row_ids_in(self._dead_ids(*dead))) if dead else df

    def _dead_ids(self, *entries: dict | None) -> np.ndarray:
        """The ``_row_id``s the tombstone ``entries`` (None: none) hold."""
        return np.concatenate([np.empty(0, np.int64)] + [
            np.load(os.path.join(self.path, e["file"])) for e in entries if e
        ])

    def scan_df(
        self,
        filter: str = "",
        *,
        extra_bounds: dict[str, tuple[float | None, float | None]] | None = None,
    ) -> DataFrame:
        """Distributed filtered snapshot with MANIFEST-LEVEL segment
        skipping — the documented bulk-consumer scan route. The
        filter's conjunctive range constraints on integer fields
        (expr/prune.py range_bounds) are checked against the
        per-segment min/max recorded at write time; segments that
        provably can't match never enter the Spark plan — at 100 TB
        this prunes before file listing, one layer above parquet
        row-group stats. Anything not range-extractable (OR, LIKE,
        arithmetic) just skips pruning; the full predicate is always
        applied to the surviving rows, so results never depend on the
        stats. ``extra_bounds`` lets callers tighten further (the PK
        point-lookup route passes the PK list's min/max)."""
        meta = self._load_meta()
        ast = parse_filter(filter, self.field_map())
        files = list(meta["files"])
        stats = meta.get("segment_stats") or {}
        bounds = range_bounds(ast)
        for col, (lo, hi) in (extra_bounds or {}).items():
            tighten(bounds, col, lo, hi)
        if bounds and stats:
            files = [f for f in files if segment_overlaps(stats.get(f), bounds)]
        df = self._df_for_files(files, meta)
        if ast is not None:
            df = df.where(to_spark_column(ast))
        return df

    def _read_segments(self, schema: T.StructType | None, *paths: str) -> DataFrame:
        """Segment read with ``schema`` (``_read_schema``): Spark reads no
        footer to infer one, and it parses the partition directory value
        directly as the declared type, so a STRING key '001' round-trips
        intact. (The cast-back in _restore_partition_type cannot undo
        lossy inference — '001' inferred as int 1 reads back as '1'.)
        Without one (a manifest that predates the schema records, or
        segments written with different columns) the footer decides,
        except that a DECLARED partition column reads with the declared
        schema."""
        reader = self.spark.read
        if schema is None and self.schema.get(self.partition_by or "") is not None:
            schema = self.schema.to_spark_schema(with_row_id=True)
        if schema is not None:
            reader = reader.schema(schema)
        return reader.parquet(*paths)

    def _default_schema(self) -> T.StructType:
        """How a segment written with the declared columns under the
        current layout reads: the fields and ``_row_id``, then the
        partition column (Spark reads it from the path, last)."""
        declared = self.schema.to_spark_schema(with_row_id=True)
        if not self.partition_by:
            return declared
        part = (
            declared[self.partition_by]
            if self.schema.get(self.partition_by) is not None
            # engine-written cluster key (always int)
            else T.StructField(self.partition_by, T.IntegerType())
        )
        return T.StructType(
            [f for f in declared.fields if f.name != self.partition_by] + [part]
        )

    def _read_schema(self, meta: dict, files: list[str]) -> T.StructType | None:
        """The schema ``files`` read with: ``_default_schema``, or the
        one ``_record_segment_schema`` noted for them. None when the
        manifest predates the records or the segments disagree; the
        footer then decides."""
        records = meta.get("segment_schemas")
        if records is None:
            return None
        stored = {records.get(f) for f in files}
        if len(stored) != 1:
            return None
        (rec,) = stored
        if rec is None:
            return self._default_schema()
        return T.StructType.fromJson(json.loads(rec))

    def _record_segment_schema(
        self, meta: dict, name: str, written: T.StructType
    ) -> None:
        """Note in the manifest how segment ``name`` (written from a frame
        of schema ``written``) reads when that is not
        ``_default_schema``: ``insert_df`` keeps scalar and sparse
        columns as given, and an auto-embedded field lands after
        ``_row_id``. A no-op on a manifest without the records."""
        records = meta.get("segment_schemas")
        if records is None:
            return
        default = self._default_schema()
        schema = T.StructType(
            [f for f in written.fields if f.name != self.partition_by]
            + ([default[self.partition_by]] if self.partition_by else [])
        )
        if _columns(schema) == _columns(default):
            records.pop(name, None)
        else:
            records[name] = schema.json()

    def _pin_segment_schemas(self, meta: dict) -> None:
        """Before a compaction changes the layout: every segment the
        manifest still reaches (current or by time travel) keeps the
        schema it reads with under the layout it was written in."""
        records = meta.get("segment_schemas")
        if records is None:
            return
        default = self._default_schema().json()
        for files in (meta["files"], *(h["files"] for h in meta.get("history", []))):
            for f in files:
                records.setdefault(f, default)

    def _restore_partition_type(self, df: DataFrame) -> DataFrame:
        """Belt-and-braces for segments read WITHOUT an explicit schema
        (internal _cluster partitioning): cast the partition column
        back to its declared type so the read schema never drifts from
        the table schema. (The primary defense is _read_segments'
        explicit-schema read.)"""
        if not self.partition_by:
            return df
        declared = self.schema.to_spark_schema(with_row_id=True)
        if self.partition_by not in df.columns or self.partition_by not in {
            f.name for f in declared.fields
        }:
            return df
        target = declared[self.partition_by].dataType
        if df.schema[self.partition_by].dataType == target:
            return df
        return df.withColumn(
            self.partition_by, F.col(self.partition_by).cast(target)
        )

    def versions(self) -> list[int]:
        meta = self._load_meta()
        hist = [h["version"] for h in meta.get("history", [])]
        return sorted({*hist, meta["version"]})

    def changes(
        self,
        v_from: int,
        v_to: int | None = None,
        *,
        update_preimages: bool = False,
    ) -> DataFrame:
        """Row-level changefeed between two committed versions — the
        Delta-CDF shape on this table format's manifest history, built
        for incremental downstream pipelines (re-dedup only the new
        tail, re-index only changed rows) instead of full-snapshot
        reprocessing at every hop.

        Returns the table's declared columns plus ``_change_type`` ∈
        {insert, delete, update}: post-image rows for insert/update,
        pre-image rows for delete; unchanged rows never appear. With
        ``update_preimages=True`` the feed is Delta-CDF-complete:
        updates emit an ``update_pre`` row (old image) and an
        ``update_post`` row — what a subtractive incremental consumer
        (operators/matview.py) needs to retract old contributions.

        Scale shape — file-level pruning first: segment dirs are
        immutable, so any dir listed in BOTH manifests cannot contain
        a change and is never scanned. An append-mostly history diffs
        by scanning only the appended tail. Dirs only in one manifest
        (deletes, upsert rewrites, compaction) fall through to a
        row-level full-outer join on the primary key, where content
        equality (a null-safe struct compare over the declared
        columns, deliberately excluding the storage-internal _row_id
        that compaction reassigns) drops rewritten-but-identical rows
        — so a pure ``compact()`` boundary yields an EMPTY changefeed
        at the cost of scanning the rewritten dirs, the honest
        minimum. The join shuffles only the differing dirs' rows,
        never the whole table. A dir both manifests list whose
        tombstone differs contributes only the rows deleted (or, going
        back in time, restored) between them."""
        meta = self._load_meta()
        if v_to is None:
            v_to = meta["version"]
        (old_files, old_t), (new_files, new_t) = (
            self._snapshot_at(meta, v) for v in (v_from, v_to)
        )
        pk_field = self.schema.primary_key
        if pk_field is None:
            raise VectorDBError(
                "NO_PRIMARY_KEY", "changes() requires a primary-key field."
            )
        pk = pk_field.name
        cols = [f.name for f in self.schema.fields]
        old_set, new_set = set(old_files), set(new_files)
        retombed = sorted(f for f in old_set & new_set if old_t.get(f) != new_t.get(f))

        def side(files: list[str], tombs: dict, other: dict) -> DataFrame:
            # the dirs only this side lists, plus each re-tombstoned
            # dir's rows that are live here and deleted on the other side
            parts = []
            for f in retombed:
                ids = np.setdiff1d(self._dead_ids(other.get(f)), self._dead_ids(tombs.get(f)))
                if len(ids):
                    parts.append(self._df_for_files([f], meta, {}).where(_row_ids_in(ids)))
            if files or not parts:
                parts.insert(0, self._df_for_files(files, meta, tombs))
            return functools.reduce(DataFrame.unionByName, [p.select(*cols) for p in parts])

        old = side(sorted(old_set - new_set), old_t, new_t).alias("o")
        new = side(sorted(new_set - old_set), new_t, old_t).alias("n")
        j = old.join(new, F.col(f"o.{pk}") == F.col(f"n.{pk}"), "full_outer")
        o_struct = F.struct(*[F.col(f"o.{c}") for c in cols])
        n_struct = F.struct(*[F.col(f"n.{c}") for c in cols])
        change = (
            F.when(F.col(f"o.{pk}").isNull(), F.lit("insert"))
            .when(F.col(f"n.{pk}").isNull(), F.lit("delete"))
            .when(o_struct.eqNullSafe(n_struct), F.lit(None))
            .otherwise(F.lit("update"))
        )
        j = j.withColumn("_change_type", change).where(
            F.col("_change_type").isNotNull()
        )
        out = [
            F.when(F.col("_change_type") == "delete", F.col(f"o.{c}"))
            .otherwise(F.col(f"n.{c}"))
            .alias(c)
            for c in cols
        ]
        if not update_preimages:
            return j.select(*out, "_change_type")
        # Delta-CDF-complete form: updates emit BOTH images (the join
        # already holds both sides — this is a projection choice, not
        # extra scanning). Incremental consumers that maintain
        # subtractive state (count/sum views) need the pre-image to
        # retract the old contribution; insert/delete rows unchanged.
        pre = [F.col(f"o.{c}").alias(c) for c in cols]
        upd = j.where(F.col("_change_type") == "update")
        return (
            j.select(
                *out,
                F.when(F.col("_change_type") == "update", "update_post")
                .otherwise(F.col("_change_type"))
                .alias("_change_type"),
            )
            .unionByName(
                upd.select(*pre, F.lit("update_pre").alias("_change_type"))
            )
        )

    def field_map(self) -> dict[str, FieldType]:
        fm = {
            f.name: f.field_type
            for f in self.schema.fields
            if f.field_type not in (FieldType.JSON,)
        }
        return fm

    # --------------------------------------------------------------- insert

    def _pk_list_bounds(self, keys) -> dict[str, tuple]:
        """Segment-pruning bounds ``{pk: (lo, hi)}`` of a primary-key
        value list: floats for an integer PK, exact strings for a
        string PK (the manifest records exact string-PK stats, r12).
        Empty — prune nothing — when the list is empty or holds values
        of another type."""
        pk = self.schema.primary_key
        if keys and pk.field_type.is_int and all(
            isinstance(k, int) and not isinstance(k, bool) for k in keys
        ):
            return {pk.name: (float(min(keys)), float(max(keys)))}
        if keys and pk.field_type.is_string and all(
            isinstance(k, str) for k in keys
        ):
            return {pk.name: (min(keys), max(keys))}
        return {}

    # an integer primary key also matches a key given as its decimal
    # string ("1" finds id 1): Spark compares the two by value under
    # ANSI and as text otherwise, which agree on this canonical form only
    _INT_KEY_STR = re.compile(r"0|-?[1-9][0-9]*")

    def _check_pk_keys(self, primary_keys) -> None:
        """Reject, as INVALID_PAYLOAD and before any Spark job, a
        primary-key list holding a value the PK column cannot be
        compared with: Spark would fail the lookup or the delete's
        write job (a non-numeric string on an integer key, a number on
        a string key, a boolean, a nested value, an integer beyond
        BIGINT). A NULL key matches nothing, and numbers on an integer
        key compare numerically, as before."""
        pk = self.schema.primary_key
        if not isinstance(primary_keys, (list, tuple)):
            raise VectorDBError("INVALID_PAYLOAD", "primaryKeys must be a list.")

        def comparable(k) -> bool:
            if k is None:
                return True
            if pk.field_type.is_string:
                return isinstance(k, str)
            if isinstance(k, str):
                if not self._INT_KEY_STR.fullmatch(k):
                    return False
                k = int(k)
            if isinstance(k, float):
                return True
            return (
                isinstance(k, int)
                and not isinstance(k, bool)
                and -(2**63) <= k < 2**63
            )

        for k in primary_keys:
            if not comparable(k):
                raise VectorDBError(
                    "INVALID_PAYLOAD",
                    f"Primary key {k!r} cannot be a value of "
                    f"{pk.name} ({pk.field_type.value}).",
                )

    @_writer_locked
    def insert(self, records: list[dict], *, upsert: bool = False) -> dict:
        """Batch JSON insert (reference S1, web_controller.hpp:436-507 →
        table_segment_mvp.cpp:455-814). Returns {"inserted": n,
        "skipped": m}; invalid sparse rows and duplicate PKs skip,
        missing required fields fail the batch (INVALID_RECORD)."""
        meta = self._load_meta()
        capacity = self._capacity(meta)
        if len(records) + self._count(meta) > capacity:
            # reference error text verbatim (table_segment_mvp.cpp:476-481);
            # DB_UNEXPECTED_ERROR → HTTP 500, as the reference returns
            raise VectorDBError(
                "DB_UNEXPECTED_ERROR",
                f"Currently, each table in this database can hold up to "
                f"{capacity} records. To insert more records, please "
                f"unload the database and reload with a larger vectorScale "
                f"parameter.",
            )
        rows: list[tuple] = []
        skipped = 0
        next_row_id = meta["next_row_id"]
        pk_field = self.schema.primary_key
        seen_pks: dict[Any, int] = {}  # pk -> position in rows
        for rec in records:
            try:
                vals = self._validate_record(rec)
            except _SkipRecord:
                skipped += 1
                continue
            if pk_field is not None:
                pk = vals[pk_field.name]
                if pk in seen_pks:
                    if upsert:
                        # last wins within the batch (:652-741)
                        rows[seen_pks[pk]] = None  # type: ignore[call-overload]
                    else:
                        skipped += 1
                        continue
                seen_pks[pk] = len(rows)
            rows.append(tuple(vals[f.name] for f in self.schema.fields) + (next_row_id,))
            next_row_id += 1
        rows = [r for r in rows if r is not None]
        # the driver-resident copy of the table (serving.py), when the
        # tier serves it: the write then runs without a Spark job
        segs = serving._snapshot(self, meta)

        # PKs already in the table
        existing_pks: set = set()
        pk_bounds: dict = {}
        if pk_field is not None and seen_pks:
            pks = list(seen_pks)
            # same range-pruned conflict check as insert_df (r11):
            # integer- and (r12) string-PK point inserts read only the
            # segments whose manifest min/max overlaps the batch's key
            # range
            pk_bounds = self._pk_list_bounds(pks)
            keys = serving.pk_value_set(pk_field, pks)
            if segs is not None and keys is not None:
                for f in self._candidates(meta, pk_bounds):
                    hits = segs[f].rows.column(pk_field.name).filter(
                        serving.rows_matching(segs[f], None, pk_field.name, keys)
                    )
                    existing_pks.update(hits.to_pylist())
            else:
                segs = None
                existing = (
                    self.scan_df(extra_bounds=pk_bounds)
                    .where(F.col(pk_field.name).isin(pks))
                    .select(pk_field.name)
                    .collect()
                )
                existing_pks = {r[0] for r in existing}
        if pk_field is not None and existing_pks and not upsert:
            before = len(rows)
            pk_idx = [f.name for f in self.schema.fields].index(pk_field.name)
            rows = [r for r in rows if r[pk_idx] not in existing_pks]
            skipped += before - len(rows)
        replace = bool(pk_field is not None and existing_pks and upsert)

        batch = None if segs is None else serving.arrow_rows(self.schema, rows)
        if batch is not None:
            self._insert_arrow(
                meta, segs, batch, next_row_id, pk_bounds if replace else None
            )
            return {"inserted": len(rows), "skipped": skipped}

        new_df = self.spark.createDataFrame(
            rows, self.schema.to_spark_schema(with_row_id=True)
        )
        new_df = self._apply_ingest_transforms(new_df)

        if replace:
            # replaced PKs leave via the segment-granular COW path
            # (only their segments rewrite); the batch lands as one
            # add segment in the same atomic commit. The key list is
            # already in hand, so the size and range hints cost zero
            # extra Spark jobs.
            self._bump_mutation_seq(meta)
            self._cow_upsert(
                new_df, meta, next_row_id,
                batch_rows=len(rows), bounds=pk_bounds,
            )
        else:
            name = f"add_{meta['version'] + 1}"
            added = {name: self._write_segment_observed(new_df, name, meta)}
            self._commit(meta, meta["files"], added, next_row_id)
        return {"inserted": len(rows), "skipped": skipped}

    def _insert_arrow(
        self, meta: dict, segs: dict, batch: pa.Table, next_row_id: int,
        replace_bounds: dict | None,
    ) -> None:
        """``insert``'s driver-side commit: with ``replace_bounds`` (an
        upsert that replaces keys) the batch's keys first leave the
        candidate segments (``_arrow_rewrite``), as in ``_cow_upsert``;
        the batch lands as one ``add_`` segment in the same commit, and
        every written segment seeds the serving cache."""
        keep, added, written = meta["files"], {}, {}
        if replace_bounds is not None:
            pk = self.schema.primary_key.name
            keys = batch.column(pk).combine_chunks()
            self._bump_mutation_seq(meta)
            matches = self._arrow_matches(
                meta, segs, replace_bounds, lambda s: serving.rows_matching(s, None, pk, keys)
            )
            keep, added = self._arrow_rewrite(meta, segs, matches, written)
        name = f"add_{meta['version'] + 1}"
        added[name] = self._write_arrow(name, batch, written)
        self._commit(meta, keep, added, next_row_id)
        serving.seed(self, written)

    @_writer_locked
    def insert_df(self, df: DataFrame, *, upsert: bool = False) -> dict:
        """Distributed bulk ingest: same semantics, no driver loop.
        PK dedup via window row_number over _row_id (SURVEY.md §1.5)."""
        from pyspark.sql import Window as W

        meta = self._load_meta()
        start = meta["next_row_id"]
        cols = [f.name for f in self.schema.fields if not f.is_index_field]
        # Cast DENSE VECTOR columns to their declared array<float> at
        # ingest (the row path always stored float32, via
        # createDataFrame over the declared schema): without this a
        # double-element batch landed as a DOUBLE-typed segment next
        # to FLOAT-typed siblings, and Parquet readers refuse mixed
        # element types across live segments. Scalar and sparse
        # columns keep their longstanding pass-through behavior
        # (several gates deliberately feed int data under a STRING
        # declaration and read back what they stored).
        dense = {
            f.name for f in self.schema.fields if f.field_type.is_dense_vector
        }
        new_df = df.select(
            *[
                F.col(c).cast("array<float>").alias(c) if c in dense
                else F.col(c)
                for c in cols
            ]
        )
        # Assign batch-order row ids WITHOUT a global sort: a
        # row_number() over a partitionless window would funnel the
        # whole batch through one task. monotonically_increasing_id
        # encodes (partition_id << 33) | position, so contiguous ids
        # fall out of per-partition offsets: one partial-agg action
        # collects partition counts (a few longs per partition), the
        # driver prefix-sums them, and a broadcast join adds the
        # offsets back — the id order is identical to sorting by the
        # monotonic id, with no single-task stage anywhere.
        new_df = new_df.withColumn("_mono", F.monotonically_increasing_id())
        pid = F.shiftrightunsigned(F.col("_mono"), 33)
        pos = F.col("_mono").bitwiseAND(F.lit((1 << 33) - 1))
        # the same partition-counts action also carries the batch's PK
        # range (r12): min/max over the PRE-dedup batch equals the
        # post-dedup range — dedup only drops duplicate keys — so the
        # conflict-check pruning bounds below cost zero extra jobs
        pk_field = self.schema.primary_key
        sel = [pid.alias("_pid")]
        pagg = [F.count(F.lit(1)).alias("c")]
        if pk_field is not None:
            sel.append(F.col(pk_field.name).alias("_pkv"))
            pagg += [F.min("_pkv").alias("_lo"), F.max("_pkv").alias("_hi")]
        # ... and counts the NULL, wrong-width and NULL-element dense
        # vectors, which the row path rejects as INVALID_RECORD (a NULL
        # distance would rank such a row first in every exact knn)
        vec_fields = [
            f for f in self.schema.fields
            if f.field_type.is_dense_vector and not f.is_index_field
        ]
        for i, f in enumerate(vec_fields):
            v = F.col(f.name)
            for kind, bad in (
                ("null", v.isNull()),
                ("width", v.isNotNull() & (F.size(v) != f.dimension)),
                ("elem", F.exists(v, lambda x: x.isNull())),
            ):
                sel.append(bad.cast("int").alias(f"_v{kind}{i}"))
                pagg.append(F.sum(f"_v{kind}{i}").alias(f"_v{kind}{i}"))
        prows = new_df.select(*sel).groupBy("_pid").agg(*pagg).collect()
        for i, f in enumerate(vec_fields):
            if any(r[f"_vnull{i}"] for r in prows):
                raise VectorDBError(
                    "INVALID_RECORD", f"Field {f.name} is missing in the record."
                )
            if any(r[f"_vwidth{i}"] for r in prows):
                raise VectorDBError(
                    "INVALID_RECORD",
                    f"Vector field {f.name} must have dimension {f.dimension}.",
                )
            if any(r[f"_velem{i}"] for r in prows):
                raise VectorDBError(
                    "INVALID_RECORD",
                    f"Vector field {f.name} must not hold NULL elements.",
                )
        pcounts = sorted((int(r["_pid"]), int(r["c"])) for r in prows)
        # None when the batch holds no non-NULL key: nothing can
        # conflict, since a NULL key never matches the anti-join
        pk_bounds = None
        if pk_field is not None:
            los = [r["_lo"] for r in prows if r["_lo"] is not None]
            his = [r["_hi"] for r in prows if r["_hi"] is not None]
            if los:
                pk_bounds = self._pk_list_bounds([min(los), max(his)])
        offsets, acc = [], 0
        for p, c in pcounts:
            offsets.append((p, acc))
            acc += c
        # _row_id values span [start, start+total) over the PRE-dedup
        # batch; rows dropped by PK dedup / anti-join leave holes, so the
        # cursor must advance by the full batch size or later inserts
        # would reuse ids still present in kept rows.
        total = acc
        off_df = self.spark.createDataFrame(offsets, "_pid long, _off long")
        new_df = (
            new_df.withColumn("_pid", pid)
            .withColumn("_pos", pos)
            .join(F.broadcast(off_df), "_pid")
            .withColumn(
                "_row_id", (F.lit(start) + F.col("_off") + F.col("_pos")).cast("long")
            )
            .drop("_mono", "_pid", "_pos", "_off")
        )
        inserted_df = new_df
        if pk_field is not None:
            keep = (
                F.row_number()
                .over(
                    W.partitionBy(pk_field.name).orderBy(
                        F.col("_row_id").desc() if upsert else F.col("_row_id").asc()
                    )
                )
                == 1
            )
            inserted_df = new_df.withColumn("_keep", keep).where("_keep").drop("_keep")
            if upsert:
                for fld in self.schema.fields:
                    if fld.is_index_field:
                        inserted_df = self._embed_index_field(inserted_df, fld)
                inserted_df = self._apply_ingest_transforms(inserted_df)
                self._bump_mutation_seq(meta)
                # hints from the partition-counts action: the
                # pre-dedup total is a safe SUPERSET for the broadcast
                # size gate, and the PK range survives dedup verbatim
                n = self._cow_upsert(
                    inserted_df, meta, start + total,
                    batch_rows=total, bounds=pk_bounds,
                )
                return {"inserted": n, "skipped": 0}
            # PK-conflict check against a RANGE-PRUNED snapshot, not
            # the whole table (r11): only segments whose manifest
            # min/max overlaps the batch's PK range can hold a
            # conflict, so for an integer PK the anti-join's build
            # side shrinks to the overlapping segments — on an
            # append-mostly table with fresh keys that is usually the
            # newest segment or nothing. Safe superset by
            # construction: a conflicting key lies inside the batch
            # range AND inside its segment's [min, max], so that
            # segment always survives pruning; missing stats keep the
            # segment (scan_df's conservative rule). String PKs prune
            # on the exact manifest string stats (r12). The bounds came
            # free with the partition-counts action.
            if pk_bounds is None:
                existing = self.df().select(pk_field.name).limit(0)
            else:
                existing = self.scan_df(extra_bounds=pk_bounds).select(
                    pk_field.name
                )
            inserted_df = inserted_df.join(existing, pk_field.name, "left_anti")
        for fld in self.schema.fields:
            if fld.is_index_field:
                inserted_df = self._embed_index_field(inserted_df, fld)
        inserted_df = self._apply_ingest_transforms(inserted_df)
        # the write's own Observation counts the inserted rows — no
        # separate count action re-running the dedup + anti-join (r12)
        name = f"add_{meta['version'] + 1}"
        st, n = self._write_segment_observed(inserted_df, name, meta)
        self._commit(meta, meta["files"], {name: (st, n)}, start + total)
        # skipped = batch duplicates + PK conflicts, as the row path counts
        return {"inserted": n, "skipped": total - n}

    def _embed_index_field(self, df: DataFrame, fld: FieldSchema) -> DataFrame:
        src = self.index_sources.get(fld.name)
        if src is None or self.embedder is None:
            raise VectorDBError(
                "EMBEDDING_ERROR", f"No embedder/source for index field {fld.name}."
            )
        return df.withColumn(fld.name, embed_column(self.embedder, src))

    def _apply_ingest_transforms(self, df: DataFrame) -> DataFrame:
        """COSINE normalization — the reference stores normalized
        vectors so cosine ≡ dot on unit vectors (SURVEY.md §4)."""
        for f in self.schema.fields:
            if f.field_type.is_dense_vector and f.metric == "COSINE":
                df = df.withColumn(f.name, l2_normalize(f.name))
            elif f.field_type.is_sparse_vector and f.metric == "COSINE":
                df = df.withColumn(f.name, sparse_l2_normalize(f.name))
        return df

    def _validate_record(self, rec: dict) -> dict:
        vals: dict[str, Any] = {}
        for f in self.schema.fields:
            if f.is_index_field:
                # populated by the embedder below
                continue
            if f.name not in rec or rec[f.name] is None:
                raise VectorDBError(
                    "INVALID_RECORD", f"Field {f.name} is missing in the record."
                )
            v = rec[f.name]
            ft = f.field_type
            if ft.is_dense_vector:
                if not isinstance(v, (list, tuple)) or len(v) != f.dimension:
                    raise VectorDBError(
                        "INVALID_RECORD",
                        f"Vector field {f.name} must have dimension {f.dimension}.",
                    )
                if any(x is None for x in v):
                    raise VectorDBError(
                        "INVALID_RECORD",
                        f"Vector field {f.name} must not hold NULL elements.",
                    )
                vals[f.name] = [_coerce(float, x, f) for x in v]
            elif ft.is_sparse_vector:
                vals[f.name] = _validate_sparse(v, f.dimension)
            elif ft == FieldType.GEO_POINT:
                if (
                    not isinstance(v, dict)
                    or not isinstance(v.get("latitude"), (int, float))
                    or not isinstance(v.get("longitude"), (int, float))
                    or isinstance(v.get("latitude"), bool)
                    or isinstance(v.get("longitude"), bool)
                ):
                    raise VectorDBError(
                        "INVALID_RECORD",
                        f"Geo field {f.name} must be "
                        "{latitude: number, longitude: number}.",
                    )
                lat = max(-90.0, min(90.0, float(v["latitude"])))
                lon = max(-180.0, min(180.0, float(v["longitude"])))
                vals[f.name] = Row(latitude=lat, longitude=lon)
            elif ft == FieldType.JSON:
                vals[f.name] = v if isinstance(v, str) else json.dumps(v)
            elif ft == FieldType.BOOL:
                vals[f.name] = bool(v)
            elif ft.is_int:
                n = _coerce(int, v, f)
                bits = _INT_BITS[ft]
                if not -(2 ** (bits - 1)) <= n < 2 ** (bits - 1):
                    raise VectorDBError(
                        "INVALID_RECORD",
                        f"Field {f.name} is out of range for {ft.value}.",
                    )
                vals[f.name] = n
            elif ft.is_real:
                vals[f.name] = _coerce(float, v, f)
            else:
                vals[f.name] = str(v)
        if self.embedder is not None:
            for fname, src in self.index_sources.items():
                vals[fname] = self.embedder.embed_batch([vals[src]])[0]
        elif self.index_sources:
            raise VectorDBError(
                "EMBEDDING_ERROR", "Table has auto-embedding indexes but no embedder."
            )
        return vals

    # ---------------------------------------------------------------- write

    def _count(self, meta: dict) -> int:
        """Live row count. Maintained transactionally in the manifest
        (every ``_commit`` records the delta from the written segments'
        row counts), so capacity checks / statistics are O(1), not an
        O(table) scan per insert. Falls back to a real count for
        pre-row_count manifests."""
        if meta.get("row_count") is not None:
            return int(meta["row_count"])
        if not meta["files"]:
            return 0
        return self.df().count()

    # string-PK stats above this length are not recorded (manifest
    # bloat guard); the segment then simply never prunes on the PK
    # (mutations rewrite it like any other candidate — bytes written
    # are still bounded by the candidate's kept rows)
    STRING_STAT_MAX_LEN = 256

    def _string_stat_pk(self, columns) -> str | None:
        """The STRING primary key, when stats for it should be
        recorded (r12: the reference's PK domain includes STRING,
        basic_meta_impl.cpp:370-378 — without exact string min/max a
        string-keyed table full-rewrites on every delete/upsert, the
        write amplification COW exists to kill). Exact values are
        computed by aggregate at segment-write time, NOT read from
        parquet footers, whose string stats truncate."""
        pk = self.schema.primary_key
        if (
            pk is not None
            and pk.field_type.is_string
            and pk.name in columns
        ):
            return pk.name
        return None

    def _stat_columns(self, columns) -> tuple[list[str], str | None]:
        """(int stat columns, string-PK column) of the per-segment stats
        contract — shared by the COW staging batch pass, the observed
        segment write and the driver-side writes (``_arrow_stats``) so
        they can never drift. Integer-only (plus the exact string PK)
        on purpose: float min/max is unreliable under NaN."""
        cols = [
            f.name
            for f in self.schema.fields
            if f.field_type.is_int and f.name in columns
        ]
        if "_row_id" in columns:
            # engine-assigned, monotone with ingest order: its range
            # lets every index REFRESH prune the tail scan to the
            # segments written after the last build (r12) — at scale
            # the difference between reading the tail and re-reading
            # the table per refresh
            cols.append("_row_id")
        return cols, self._string_stat_pk(columns)

    def _stat_agg_exprs(self, columns) -> tuple[list[str], str | None, list]:
        """``_stat_columns`` plus the Spark aggregate expressions that
        compute them."""
        cols, spk = self._stat_columns(columns)
        aggs = [F.count(F.lit(1)).alias("_n")]
        for c in cols:
            aggs += [F.min(c).alias(f"lo_{c}"), F.max(c).alias(f"hi_{c}")]
        if spk:
            aggs += [F.min(spk).alias("_slo"), F.max(spk).alias("_shi")]
        return cols, spk, aggs

    def _stats_from_row(self, row, cols: list[str], spk: str | None) -> dict:
        stats = {
            c: [int(row[f"lo_{c}"]), int(row[f"hi_{c}"])]
            for c in cols
            if row[f"lo_{c}"] is not None
        }
        if (
            spk
            and row["_slo"] is not None
            and len(row["_slo"]) <= self.STRING_STAT_MAX_LEN
            and len(row["_shi"]) <= self.STRING_STAT_MAX_LEN
        ):
            stats[spk] = [row["_slo"], row["_shi"]]
        return stats

    def _arrow_stats(self, rows: pa.Table) -> dict[str, list]:
        """``_stats_from_row`` over an Arrow table: the same min/max of
        the same columns, computed on the driver."""
        cols, spk = self._stat_columns(rows.column_names)
        agg = {}
        for c in cols:
            mm = pc.min_max(rows.column(c)).as_py()
            agg[f"lo_{c}"], agg[f"hi_{c}"] = mm["min"], mm["max"]
        if spk:
            mm = pc.min_max(rows.column(spk)).as_py()
            agg["_slo"], agg["_shi"] = mm["min"], mm["max"]
        return self._stats_from_row(agg, cols, spk)

    def _write_arrow(
        self, name: str, rows: pa.Table, written: dict
    ) -> tuple[dict[str, list], int]:
        """``_write_segment_observed``'s twin for a row-path write on the
        driver: ``rows`` becomes segment dir ``name`` and joins
        ``written`` (for ``serving.seed`` after the commit)."""
        written[name] = (serving.write_segment(self.path, name, rows), rows)
        return self._arrow_stats(rows), rows.num_rows

    def _write_segment_observed(
        self, df: DataFrame, name: str, meta: dict
    ) -> tuple[dict[str, list], int]:
        """Write ``df`` as segment dir ``name`` and return its pruning
        stats and row count, captured DURING the write action
        (Observation metrics ride the write job and are exact for
        successful queries): ONE Spark job per segment for write+stats,
        no read-back aggregate (r12). Every segment the table writes
        outside the COW staging pass goes through here, and ``meta``
        (the manifest it commits into) notes its stored columns."""
        from pyspark.sql import Observation

        if self.partition_by == "_cluster" and "_cluster" not in df.columns:
            # clustered layout (compact(cluster_by=...)): appended
            # segments self-assign from the persisted centroids
            df = self._assign_cluster(df)
        self._record_segment_schema(meta, name, df.schema)
        cols, spk, aggs = self._stat_agg_exprs(df.columns)
        # unnamed Observation -> UUID name: two tables writing
        # same-named segments concurrently (streaming tests) must not
        # share a metrics key
        obs = Observation()
        writer = df.observe(obs, *aggs).write.mode("overwrite")
        if self.partition_by:
            writer = writer.partitionBy(self.partition_by)
        writer.parquet(os.path.join(self.path, name))
        m = obs.get
        return self._stats_from_row(m, cols, spk), int(m["_n"])

    def _commit(
        self,
        meta: dict,
        keep: list[str],
        added: dict[str, tuple[dict, int]],
        next_row_id: int,
        dead: dict[str, dict] | None = None,
    ) -> None:
        """THE data commit: insert, upsert, delete, compact and
        ``rewrite_zorder`` write their new segments (or tombstones)
        first and then land here, so every mutation is exactly one new
        manifest version (Delta Lake's one-commit-per-DML rule). The new
        segment list is ``keep`` (live segments retained verbatim)
        followed by ``added`` ({name: (pruning stats, row count)} of the
        segments just written); ``dead`` ({kept segment: tombstone
        entry}) gives kept segments a delete's new tombstones. The
        outgoing version, with its tombstone map, joins the time-travel
        history, and a segment that leaves the list takes its tombstone
        with it. Each added segment's stats, row count and byte size
        are registered in the manifest caches — the one place they are
        populated, so later mutations never re-list or re-count a
        directory. ``segment_rows`` and ``row_count`` count live rows:
        ``row_count`` moves by the dropped and added segments' cached
        rows and by the rows the new tombstones delete, with no Spark
        job."""
        # resolved before files change (a pre-row_count manifest counts
        # the current snapshot); a full replacement needs no baseline
        before = self._count(meta) if keep else 0
        rows = meta.setdefault("segment_rows", {})
        dropped = set(meta["files"]) - set(keep)
        removed = sum(int(rows[f]) for f in dropped) if keep else 0
        tombs = meta.pop("tombstones", None) or {}
        meta.setdefault("history", []).append(
            {"version": meta["version"], "files": list(meta["files"])}
            | ({"tombstones": tombs} if tombs else {})
        )
        for seg, entry in (dead or {}).items():
            n = entry["rows"] - tombs.get(seg, {"rows": 0})["rows"]
            rows[seg] = int(rows[seg]) - n
            removed += n
        for name, (stats, n) in added.items():
            meta.setdefault("segment_stats", {})[name] = stats
            rows[name] = int(n)
            meta.setdefault("segment_bytes", {})[name] = self._walk_bytes(name)
        tombs = {f: e for f, e in (tombs | (dead or {})).items() if f not in dropped}
        if tombs:
            meta["tombstones"] = tombs
        meta["files"] = list(keep) + list(added)
        meta["version"] += 1
        meta["next_row_id"] = next_row_id
        meta["row_count"] = before - removed + sum(n for _s, n in added.values())
        meta["index_sources"] = self.index_sources
        self._save_meta(meta)

    @staticmethod
    def _bump_mutation_seq(meta: dict) -> None:
        """Count row-REMOVING commits (delete, upsert).
        Indexes stamp the seq at build time; a search whose manifest
        seq still matches KNOWS the index holds no dead ids and skips
        the dead-id semi-join — the common no-deletes case pays zero
        extra base scans. Appends and compaction (row-preserving)
        leave the seq alone."""
        meta["mutation_seq"] = int(meta.get("mutation_seq", 0)) + 1

    # -------------------------------------------------------- maintenance

    @_writer_locked
    def compact(
        self,
        target_partitions: int | None = None,
        *,
        cluster_by: str | None = None,
        k: int = 16,
        seed: int = 42,
        train: str = "kmeans",
        rounds: int = 2,
    ) -> dict:
        """Rewrite the current segment list into ONE base segment (a
        new manifest version). Every insert (point insert, streaming
        micro-batch) adds a parquet dir, so ingest-heavy
        tables accrue small files — the classic read-amplification
        problem; compaction is the maintenance job that bounds it
        (reference X3's rebuild discipline applied to storage). Old
        versions stay readable (time travel) until ``vacuum``. Safe
        with concurrent readers: the write lands in a fresh dir and the
        manifest swap is atomic.

        ``cluster_by=<dense vector field>`` is the OPTIMIZE-style
        clustered rewrite (the Delta ZORDER idea applied to IVF): fit
        KMeans on the field, write the base hive-partitioned by the
        ``_cluster`` assignment, and persist the centroids in the
        manifest — from then on a probe query's cluster list is a
        PartitionFilters predicate on the BASE scan (whole directories
        skipped, no separate index dir to join back), and later appends
        self-assign their ``_cluster`` from the stored centroids at
        write time (codegen nearest-centroid, k inline distance
        expressions) so the layout survives ingest."""
        meta = self._load_meta()
        n_before = len(meta["files"])
        df = self.df()
        if cluster_by is not None:
            f = self.schema.get(cluster_by)
            if f is None or not f.field_type.is_dense_vector:
                raise VectorDBError(
                    "INVALID_PAYLOAD",
                    f"Field {cluster_by} is not a dense vector field.",
                )
            from vectordb_spark.operators.ann import IVFIndex

            if train not in ("kmeans", "lloyd"):
                raise VectorDBError(
                    "INVALID_PAYLOAD",
                    f"Unknown trainer {train!r}; use kmeans|lloyd.",
                )
            idx = IVFIndex(k=k, seed=seed, metric=f.metric or "EUCLIDEAN")
            if train == "lloyd":
                # the bit-replayable trainer (rebuild's discipline,
                # operators/ann.py build_lloyd) applied to the BASE
                # layout: lets a SQL oracle audit the clustered-compact
                # serving path end-to-end (table_clustered_compact_search)
                df = idx.build_lloyd(
                    df.drop("_cluster"), cluster_by, rounds=rounds
                )
            else:
                df = idx.build(df.drop("_cluster"), cluster_by)
            meta["cluster_layout"] = {
                "field": cluster_by,
                "k": k,
                "seed": seed,
                "train": train,
                "rounds": rounds if train == "lloyd" else None,
                "metric": f.metric or "EUCLIDEAN",
                "centroids": idx.centroids,
                "cluster_sizes": {
                    str(c): n for c, n in (idx.cluster_sizes or {}).items()
                },
                "mean_intra_radius": idx.mean_intra_radius,
                "mean_nn_centroid_dist": (
                    None
                    if idx.mean_nn_centroid_dist is None
                    or math.isinf(idx.mean_nn_centroid_dist)
                    else idx.mean_nn_centroid_dist
                ),
            }
            if self.partition_by != "_cluster":
                self._pin_segment_schemas(meta)
            meta["partition_by"] = self.partition_by = "_cluster"
        if target_partitions:
            df = df.coalesce(max(1, int(target_partitions)))
        name = f"base_{meta['version'] + 1}"
        added = {name: self._write_segment_observed(df, name, meta)}
        self._commit(meta, [], added, meta["next_row_id"])
        return {"segmentsBefore": n_before, "segmentsAfter": 1}

    @_writer_locked
    def rewrite_zorder(
        self,
        columns: tuple[str, str],
        *,
        segments: int = 8,
        bits: int = 16,
    ) -> dict:
        """Clustered rewrite on the Morton curve of two INTEGER fields —
        the scalar twin of ``compact(cluster_by=<vector field>)``: lay
        the live rows out z-sorted and cut them into ``segments`` base
        segment dirs. Because z-contiguous runs are tight in BOTH
        source columns, the ordinary per-segment integer min/max stats
        recorded at write time then prune a two-column rectangle filter
        driver-side — no z column is stored, no query-side change: any
        existing ``scan_df("a >= .. AND b <= ..")`` benefits. This
        breaks the one-sort-order limitation (a partkey-sorted layout
        gives suppkey predicates nothing; the Delta/Databricks OPTIMIZE
        ZORDER discipline over this engine's manifest format).

        Scale shape: boundaries come from a sampled quantile sketch
        (approxQuantile — layout quality, not correctness, depends on
        them), the source snapshot is checkpointed ONCE, and each
        segment is one write job filtering it (z-ranges that come out
        empty are dropped); on a cluster the same layout is one
        repartitionByRange write. Old versions stay readable (time
        travel) until vacuum; readers never block."""
        import shutil

        from vectordb_spark.operators.zorder import z_value_sql

        a, b = columns
        for c in (a, b):
            f = self.schema.get(c)
            if f is None or not f.field_type.is_int:
                raise VectorDBError(
                    "INVALID_PAYLOAD",
                    f"rewrite_zorder requires integer fields, got {c}.",
                )
        meta = self._load_meta()
        n_before = len(meta["files"])
        zdf = (
            self.df()
            .withColumn("_z", F.expr(z_value_sql(a, b, bits)))
            .localCheckpoint()
        )
        n_seg = max(1, int(segments))
        qs = [i / n_seg for i in range(1, n_seg)]
        bounds = zdf.stat.approxQuantile("_z", qs, 0.001) if qs else []
        version = meta["version"] + 1
        added: dict[str, tuple[dict, int]] = {}
        for i in range(n_seg):
            lo = bounds[i - 1] if i > 0 else None
            hi = bounds[i] if i < n_seg - 1 else None
            part = zdf
            if lo is not None:
                part = part.where(F.col("_z") > lo)
            if hi is not None:
                part = part.where(F.col("_z") <= hi)
            part = part.sortWithinPartitions("_z").drop("_z")
            name = f"zrw_{version}_{i}"
            st, n = self._write_segment_observed(part, name, meta)
            if n == 0:
                # duplicate-heavy boundary collapsed a bucket
                shutil.rmtree(os.path.join(self.path, name))
                meta.get("segment_schemas", {}).pop(name, None)
                continue
            added[name] = (st, n)
        self._commit(meta, [], added, meta["next_row_id"])
        return {"segmentsBefore": n_before, "segmentsAfter": len(added)}

    def _cluster_layout_index(self, meta: dict | None = None):
        """Reconstruct the coarse quantizer from the manifest's
        persisted cluster layout (None if the table was never
        cluster-compacted)."""
        info = (meta or self._load_meta()).get("cluster_layout")
        return _ivf_from_info(info) if info else None

    def _assign_cluster(self, df: DataFrame) -> DataFrame:
        """Nearest stored centroid as a codegen Column — k inline
        distance expressions + array argmin, no shuffle, no UDF. Keeps
        appended segments in the clustered layout."""
        info = self._load_meta().get("cluster_layout")
        if not info:
            raise VectorDBError(
                "INVALID_PAYLOAD",
                "Table is partitioned by _cluster but has no cluster "
                "layout in the manifest.",
            )
        return df.withColumn(
            "_cluster", _nearest_centroid(info["field"], info["centroids"])
        )

    # Segment dirs younger than this survive vacuum even when
    # unreferenced: an in-flight reader that loaded the manifest just
    # before a compact+vacuum may still have them in its planned scan.
    # Immutable segments + atomic manifest swap make reads lock-free
    # against appends; this grace window extends that to vacuum
    # (the Delta VACUUM retention-period discipline, scaled down).
    VACUUM_GRACE_SECONDS = 300.0

    @_writer_locked
    def vacuum(self, keep_history: int = 0, *, grace_seconds: float | None = None) -> dict:
        """Drop time-travel history beyond the newest ``keep_history``
        entries and delete the segment dirs and tombstone files no
        retained version references anymore — except those modified
        within the retention grace, which an in-flight lock-free reader
        may still be reading. ``removedSegments`` counts dirs only.
        Single-writer job, like all mutations."""
        import shutil
        import time

        grace = (
            self.VACUUM_GRACE_SECONDS if grace_seconds is None else grace_seconds
        )
        meta = self._load_meta()
        hist = meta.get("history", [])
        kept = hist[len(hist) - keep_history :] if keep_history > 0 else []
        referenced, tombs = set(), set()
        for h in (meta, *kept):
            referenced.update(h["files"])
            tombs.update(e["file"] for e in (h.get("tombstones") or {}).values())
        # live index dirs of every index family — superseded versions
        # from rebuilds are unreferenced and reclaimable like old segments
        referenced |= _live_index_dirs(meta)
        removed = skipped_recent = 0
        now = time.time()
        for name in sorted(os.listdir(self.path)):
            full = os.path.join(self.path, name)
            is_dir = os.path.isdir(full)
            if (
                name.startswith(
                    ("add_", "base_", "cow_", "zrw_", "cowstage_")
                    + _INDEX_DIR_PREFIXES
                )
                and name not in referenced
                and is_dir
            ) or (name.startswith("tomb_") and name not in tombs):
                if now - os.path.getmtime(full) < grace:
                    skipped_recent += 1
                    continue
                if is_dir:
                    shutil.rmtree(full)
                    removed += 1
                else:
                    os.unlink(full)
        meta["history"] = kept
        for cache in (
            "segment_stats", "segment_rows", "segment_bytes", "segment_schemas"
        ):
            if meta.get(cache):
                meta[cache] = {
                    k: v for k, v in meta[cache].items() if k in referenced
                }
        self._save_meta(meta)
        return {
            "removedSegments": removed,
            "keptVersions": len(kept) + 1,
            "skippedRecent": skipped_recent,
        }

    # --------------------------------------------------------------- delete

    @_writer_locked
    def delete(self, primary_keys: list | None = None, filter: str = "") -> dict:
        """Delete by PK list and/or filter (reference S3,
        db_server.cpp:297-360): with a PK list, a row must match the
        list AND pass the filter; with no list, the filter alone
        decides. One of the two is required (web_controller.hpp:576-595).

        Merge-on-read, as the reference's per-segment deleted bitset
        (table_segment_mvp.hpp:87), Delta Lake's deletion vectors and
        Iceberg's position deletes: nothing is rewritten. Each candidate
        segment (manifest min/max overlap) holding matched live rows
        gets a new tombstone file with every ``_row_id`` deleted from it
        so far, a segment left with no live row leaves the manifest,
        and readers subtract the tombstones (``_df_for_files``, the
        serving tier's dead-row masks). Rows are matched on the driver
        over the decoded segments when the serving tier holds the
        table (no Spark job), else by one Spark job that collects the
        matched ids — either way one commit (``_tombstone``)."""
        if not primary_keys and not filter:
            raise VectorDBError(
                "INVALID_PAYLOAD", "Delete requires primaryKeys and/or filter."
            )
        pk_field = self.schema.primary_key
        if primary_keys and pk_field is None:
            raise VectorDBError(
                "DB_UNEXPECTED_ERROR", f"Primary key not found: {self.schema.name}"
            )
        if primary_keys:
            self._check_pk_keys(primary_keys)
        ast = parse_filter(filter, self.field_map())
        meta = self._load_meta()
        # segment pruning bounds: the filter's conjunctive ranges plus
        # the PK list's min/max
        bounds = range_bounds(ast)
        if primary_keys:
            for col, (lo, hi) in self._pk_list_bounds(primary_keys).items():
                tighten(bounds, col, lo, hi)
        segs = serving._snapshot(self, meta)
        if segs is not None:
            removed = self._delete_arrow(meta, segs, bounds, primary_keys, ast)
            if removed is not None:
                return {"deleted": removed}
        cond = F.lit(True)
        if primary_keys:
            cond = cond & F.col(pk_field.name).isin(primary_keys)
        if ast is not None:
            cond = cond & to_spark_column(ast)
        self._bump_mutation_seq(meta)
        candidates = self._candidates(meta, bounds)
        hits: dict[str, list] = {f: [] for f in candidates}
        if candidates:
            self._candidate_rows(meta, candidates)
            # ONE job for any number of candidates: the matched ids,
            # tagged with their segment
            matched = self._tagged(meta, candidates).where(cond)
            for src, rid in matched.select(self._COW_TAG, "_row_id").collect():
                if src not in hits:
                    raise VectorDBError(
                        "INTERNAL", f"delete matched rows of unknown segment {src!r}"
                    )
                hits[src].append(rid)
        ids = {f: np.sort(np.array(v, dtype=np.int64)) for f, v in hits.items()}
        return {"deleted": self._tombstone(meta, ids)[0]}

    def _tombstone(self, meta: dict, hits: dict[str, np.ndarray]) -> tuple[int, dict]:
        """Commit a delete of the live rows whose sorted ``_row_id``s
        ``hits`` holds per segment: a segment with hits gets a tombstone
        file of every id deleted from it so far (``tomb_{version}_…``,
        named in the manifest only), a segment whose live rows all go
        leaves the list instead. Returns the rows deleted and the new
        tombstone entries."""
        tombs = meta.get("tombstones") or {}
        version = meta["version"] + 1
        n, dead, emptied = 0, {}, set()
        for seg, ids in hits.items():
            n += len(ids)
            if len(ids) == meta["segment_rows"][seg]:
                emptied.add(seg)
            elif len(ids):
                ids = np.union1d(self._dead_ids(tombs.get(seg)), ids)
                name = f"tomb_{version}_{seg}_{os.urandom(4).hex()}.npy"
                np.save(os.path.join(self.path, name), ids)
                dead[seg] = {"file": name, "rows": len(ids)}
        keep = [f for f in meta["files"] if f not in emptied]
        self._commit(meta, keep, {}, meta["next_row_id"], dead)
        return n, dead

    def _delete_arrow(
        self, meta: dict, segs: dict, bounds: dict, primary_keys, ast
    ) -> int | None:
        """``delete`` on the driver over the decoded segments: the same
        candidates, live rows matched by ``serving.rows_matching``, the
        same ``_tombstone`` commit, and the new dead-row masks seed the
        serving cache. None — nothing written — when the key list or
        the filter is not one the pyarrow target matches exactly."""
        pk = keys = None
        if primary_keys:
            if not isinstance(primary_keys, list):
                return None
            keys = serving.pk_value_set(self.schema.primary_key, primary_keys)
            if keys is None:
                return None
            pk = self.schema.primary_key.name
        if references_distance(ast):
            return None
        try:
            matches = self._arrow_matches(
                meta, segs, bounds, lambda s: serving.rows_matching(s, ast, pk, keys)
            )
        except ArrowUnsupported:
            return None
        self._bump_mutation_seq(meta)
        self._backfill_rows(meta, segs, matches)
        removed, dead = self._tombstone(
            meta, {f: np.sort(segs[f].row_ids[m]) for f, m in matches.items()}
        )
        serving.seed(self, masks={
            e["file"]: matches[f] | ~segs[f].alive() for f, e in dead.items()
        })
        return removed

    def _walk_bytes(self, name: str) -> int:
        total = 0
        for root, _dirs, fnames in os.walk(os.path.join(self.path, name)):
            for fn in fnames:
                try:
                    total += os.path.getsize(os.path.join(root, fn))
                except OSError:
                    pass
        return total

    # partition-column tag carrying each row's source segment through
    # the single COW rewrite job and the Spark delete's match job. The
    # tag value is the PARENT DIRECTORY component of input_file_name()
    # — segment names are
    # [A-Za-z0-9_]+ so their percent-encoded URI form is themselves,
    # which sidesteps the ADVICE r11 failure (the old strip-'file:'-
    # and-relpath mapping broke on table paths containing spaces:
    # matched keys never hit the manifest names, to_rewrite stayed
    # empty while removed>0, and delete() reported rows deleted while
    # leaving them live). Any tag value outside the candidate set
    # raises at commit instead of silently dropping rows.
    _COW_TAG = "_cow_src"

    def _tagged(self, meta: dict, candidates: list[str]) -> DataFrame:
        """The live rows of ``candidates`` with their segment name in
        ``_COW_TAG``."""
        tag = self._COW_TAG
        if self.partition_by:
            # hive-partitioned segment roots can't multi-path read
            # (see _df_for_files): per-segment reads tagged with
            # literals, unioned — still exactly one job
            return functools.reduce(
                DataFrame.unionByName,
                [
                    self._df_for_files([f], meta).withColumn(tag, F.lit(f))
                    for f in candidates
                ],
            )
        return self._df_for_files(candidates, meta).withColumn(
            tag, F.regexp_extract(F.input_file_name(), r"/([^/]+)/[^/]*$", 1)
        )

    def _staging_stats(
        self, staging: str, schema: T.StructType
    ) -> tuple[dict[str, dict], dict[str, int]]:
        """Per-SOURCE-segment pruning stats and row counts for every
        rewritten segment from ONE column-pruned scan of the staging
        root (the ``_stat_agg_exprs`` contract), instead of a job per
        new dir. ``schema`` is the staging write's own, so no footer is
        inferred and a DECLARED string partition field parses
        losslessly instead of through hive type inference."""
        tag = self._COW_TAG
        df = self.spark.read.schema(schema).parquet(staging)
        cols, spk, aggs = self._stat_agg_exprs(df.columns)
        stats: dict[str, dict] = {}
        counts: dict[str, int] = {}
        for row in df.groupBy(tag).agg(*aggs).collect():
            src = row[tag]
            counts[src] = int(row["_n"])
            stats[src] = self._stats_from_row(row, cols, spk)
        return stats, counts

    # Mutations never consolidate, even when every segment is a
    # candidate: consolidating on key overlap degenerates — with overlap
    # keys in every streaming micro-batch it collapses the base to ONE
    # segment and then rewrites O(table) bytes every batch forever,
    # since a one-segment base always overlaps. The COW rewrite writes
    # at most those bytes once and keeps the per-segment range
    # structure, so the next local mutation prunes again — the Delta
    # Lake discipline: DML rewrites matched files, compact() defragments.

    def _cow_rewrite(
        self, meta: dict, bounds: dict | None, bkeys: DataFrame
    ) -> tuple[list[str], dict[str, tuple[dict, int]]]:
        """The one data pass of an upsert over the segments whose
        manifest min/max overlaps ``bounds`` (a segment without stats is
        always a candidate; ``bounds=None`` means no row can match, so
        there are none). The live rows of EVERY candidate whose key is
        not in ``bkeys`` (the batch's keys), tagged with their source
        segment, are written once via ``partitionBy(_cow_src)`` — no
        shuffle, each scan task holds one source segment's rows — and
        per-source stats + kept-row counts come from one column-pruned
        scan of the staging root: a constant job count however many segments
        match (VERDICT r11 #1/#2). Match counts are DERIVED (manifest
        ``segment_rows`` minus kept rows), so there is no count pass.
        Candidates with zero matches keep their original dirs verbatim
        (their staging is discarded — the false-positive cost is
        bounded by how loose the range pruning is); matched ones are
        renamed into final ``cow_`` dirs, and a segment whose every
        row matched drops out (a rewritten segment's tombstone goes
        with it). Returns (segments kept verbatim, the
        rewritten segments in ``_commit``'s ``added`` form)."""
        import shutil
        from urllib.parse import unquote

        files = list(meta["files"])
        candidates = self._candidates(meta, bounds)
        if not candidates:
            return files, {}
        rows_map = self._candidate_rows(meta, candidates)
        version = meta["version"] + 1
        tag = self._COW_TAG
        part_cols = [tag] + ([self.partition_by] if self.partition_by else [])
        pk = self.schema.primary_key.name
        kept = self._tagged(meta, candidates).join(bkeys, pk, "left_anti")
        written = kept.schema
        # no leading underscore: Spark's hidden-path filter warns on
        # underscore-prefixed roots; crash leftovers are vacuum's job
        staging = os.path.join(self.path, f"cowstage_{version}")
        try:
            kept.write.mode("overwrite").partitionBy(*part_cols).parquet(
                staging
            )
            expected = set(candidates)
            by_src: dict[str, str] = {}
            for d in os.listdir(staging):
                if not d.startswith(tag + "="):
                    continue
                src = unquote(d.split("=", 1)[1])
                if src not in expected:
                    raise VectorDBError(
                        "INTERNAL",
                        f"COW rewrite produced rows for unknown source "
                        f"segment {src!r}",
                    )
                by_src[src] = os.path.join(staging, d)
            kept_stats, kept_counts = (
                self._staging_stats(
                    staging,
                    # partitionBy moves the partition columns last
                    T.StructType(
                        [f for f in written.fields if f.name not in part_cols]
                        + [written[c] for c in part_cols]
                    ),
                )
                if by_src
                else ({}, {})
            )
            matched: dict[str, int] = {}
            for f in candidates:
                m = int(rows_map[f]) - int(kept_counts.get(f, 0))
                if m < 0:
                    raise VectorDBError(
                        "INTERNAL",
                        f"segment {f!r} kept more rows than it holds — "
                        f"manifest segment_rows is stale",
                    )
                if m > 0:
                    matched[f] = m
            added: dict[str, tuple[dict, int]] = {}
            for i, f in enumerate(f for f in candidates if f in matched):
                if f not in by_src:
                    continue  # every row of f was dropped: segment dies
                name = f"cow_{version}_{i}"
                os.rename(by_src[f], os.path.join(self.path, name))
                self._record_segment_schema(
                    meta,
                    name,
                    T.StructType([c for c in written.fields if c.name != tag]),
                )
                added[name] = (kept_stats.get(f, {}), kept_counts.get(f, 0))
            keep = [f for f in files if f not in matched]
            return keep, added
        finally:
            shutil.rmtree(staging, ignore_errors=True)

    @staticmethod
    def _candidates(meta: dict, bounds: dict | None) -> list[str]:
        """The live segments whose manifest min/max overlaps ``bounds``
        (every segment for ``{}``, none for None)."""
        if bounds is None:
            return []
        stats = meta.get("segment_stats") or {}
        return [f for f in meta["files"] if segment_overlaps(stats.get(f), bounds)]

    def _arrow_matches(self, meta: dict, segs: dict, bounds: dict | None, match) -> dict:
        """``{candidate: bool mask of its matched live rows}`` over the
        decoded segments (``match`` maps a ``serving.Segment`` to the
        mask). Nothing is written yet, so an ``ArrowUnsupported`` from
        any candidate still leaves the whole mutation to Spark."""
        return {f: match(segs[f]) for f in self._candidates(meta, bounds)}

    @staticmethod
    def _backfill_rows(meta: dict, segs: dict, matches: dict) -> None:
        """A candidate's live row count missing from the manifest comes
        from its decoded rows, as ``_candidate_rows`` would count it."""
        rows_map = meta.setdefault("segment_rows", {})
        for f in matches:
            rows_map.setdefault(f, int(segs[f].alive().sum()))

    def _arrow_rewrite(
        self, meta: dict, segs: dict, matches: dict, written: dict
    ) -> tuple[list[str], dict[str, tuple[dict, int]]]:
        """``_cow_rewrite`` on the driver: each candidate with a match
        is rewritten to ``cow_{version}_{i}`` with its live unmatched
        rows (or drops out when none is left), the rest stay verbatim.
        Returns ``_cow_rewrite``'s (kept segments, added)."""
        self._backfill_rows(meta, segs, matches)
        matched = [f for f, m in matches.items() if m.any()]
        version = meta["version"] + 1
        added: dict[str, tuple[dict, int]] = {}
        for i, f in enumerate(matched):
            kept = segs[f].rows.filter(segs[f].alive() & ~matches[f])
            if kept.num_rows:
                name = f"cow_{version}_{i}"
                added[name] = self._write_arrow(name, kept, written)
        dropped = set(matched)
        keep = [f for f in meta["files"] if f not in dropped]
        return keep, added

    def _candidate_rows(
        self, meta: dict, candidates: list[str]
    ) -> dict[str, int]:
        """Per-candidate row counts from the manifest (recorded at
        segment-write time). Pre-cache manifests fall back to ONE
        zero-column count job over all missing segments grouped by
        parent dir (not a footer job per segment — an upgraded
        10k-segment table must not pay 10k serial jobs on its first
        mutation), cached back so the cost is paid once per table.
        Partitioned tables keep the per-segment count (their segment
        counts are compaction-bounded and parent dirs are partition
        values, not segment names). Both read with the manifest's
        schema (``_df_for_files``)."""
        rows_map = meta.setdefault("segment_rows", {})
        missing = [f for f in candidates if f not in rows_map]
        if not missing:
            return rows_map
        if self.partition_by or len(missing) == 1:
            for f in missing:
                rows_map[f] = int(self._df_for_files([f], meta).count())
            return rows_map
        counted: dict[str, int] = {}
        for r in (
            self._df_for_files(missing, meta)
            .groupBy(
                F.regexp_extract(
                    F.input_file_name(), r"/([^/]+)/[^/]*$", 1
                ).alias("_seg")
            )
            .agg(F.count(F.lit(1)).alias("_n"))
            .collect()
        ):
            counted[r["_seg"]] = int(r["_n"])
        expected = set(missing)
        for seg, n in counted.items():
            if seg not in expected:
                raise VectorDBError(
                    "INTERNAL",
                    f"row-count backfill saw unknown segment {seg!r}",
                )
            rows_map[seg] = n
        for f in missing:  # fully written empty dirs
            rows_map.setdefault(f, 0)
        return rows_map

    # the upsert's batch-key side is broadcast into the candidates'
    # anti-join up to this many batch rows; larger batches join unhinted
    COW_UPSERT_MAX_BATCH = 1_000_000

    def _cow_upsert(
        self,
        batch_df: DataFrame,
        meta: dict,
        next_row_id: int,
        *,
        batch_rows: int,
        bounds: dict | None,
    ) -> int:
        """Segment-granular copy-on-write upsert: the batch's PK
        ``bounds`` (None when the batch holds no non-NULL key, which
        never matches the anti-join) pick the candidate segments, ONE
        anti-join scan drops the replaced keys from them
        (``_cow_rewrite``; surviving rows keep their _row_id), and the
        batch lands as an ``add_`` segment in the SAME commit — so
        readers, time travel and ``changes()`` see one logical diff
        (updated PKs pair into update pre/post images across the
        rewritten and added dirs). ``batch_rows``, an upper bound on
        the batch size that the callers already hold, decides the
        broadcast hint. Returns the number of rows added."""
        pk = self.schema.primary_key.name
        batch_df = batch_df.localCheckpoint()
        bkeys = batch_df.select(pk)
        if batch_rows <= self.COW_UPSERT_MAX_BATCH:
            bkeys = F.broadcast(bkeys)
        keep, added = self._cow_rewrite(meta, bounds, bkeys)
        name = f"add_{meta['version'] + 1}"
        st, n = self._write_segment_observed(batch_df, name, meta)
        added[name] = (st, n)
        self._commit(meta, keep, added, next_row_id)
        return n

    # ---------------------------------------------------------------- query

    def _resolve_query_field(
        self, query_field: str | None, query_index: str | None
    ) -> FieldSchema:
        if query_field and query_index:
            raise VectorDBError(
                "INVALID_PAYLOAD",
                "queryField and queryIndex are mutually exclusive.",
            )
        name = query_field or query_index
        if name:
            f = self.schema.get(name)
            if f is None or not f.field_type.is_vector:
                raise VectorDBError(
                    "INVALID_PAYLOAD", f"Field {name} is not a vector field."
                )
            return f
        vecs = self.schema.vector_fields()
        if len(vecs) != 1:
            raise VectorDBError(
                "INVALID_PAYLOAD",
                "queryField is required when the table has multiple vector fields.",
            )
        return vecs[0]

    def search_df(
        self,
        query_vector,
        *,
        query_field: str | None = None,
        query_index: str | None = None,
        limit: int,
        filter: str = "",
    ) -> DataFrame:
        """Top-K scored snapshot with `_distance`, pre/post filter per
        @distance usage — the composable DataFrame surface."""
        f = self._resolve_query_field(query_field, query_index)
        ast = parse_filter(filter, self.field_map())
        df = self.df()
        if f.field_type.is_sparse_vector:
            q = _normalize_sparse_query(query_vector, f)
            qcol = F.struct(
                F.array(*[F.lit(int(i)) for i in q["indices"]]).alias("indices"),
                F.array(*[F.lit(float(x)) for x in q["values"]])
                .cast("array<float>")
                .alias("values"),
            )
            dist = sparse_distance_for_metric(f.metric, F.col(f.name), qcol)
        else:
            q = _normalize_dense_query(query_vector, f)
            qcol = F.array(*[F.lit(float(x)) for x in q])
            dist = distance_for_metric(f.metric, F.col(f.name), qcol)
        return _rank_by_distance(df, dist, ast, limit)

    def query(
        self,
        *,
        query_vector=None,
        query_text: str | None = None,
        query_field: str | None = None,
        query_index: str | None = None,
        limit: int,
        response: list[str] | None = None,
        filter: str = "",
        with_distance: bool = False,
        facets: list[dict] | None = None,
    ) -> dict:
        """Vector KNN query (reference §3.1/§3.2). ``query_text``
        embeds via the table's index (E2 semantic search)."""
        if query_text is not None:
            if self.embedder is None:
                raise VectorDBError("EMBEDDING_ERROR", "No embedder configured.")
            query_vector = self.embedder.embed_batch([query_text])[0]
            if query_index is None and not query_field:
                idx_fields = [f.name for f in self.schema.fields if f.is_index_field]
                if len(idx_fields) != 1:
                    raise VectorDBError(
                        "INVALID_PAYLOAD", "queryIndex is required for text query."
                    )
                query_index = idx_fields[0]
        if query_vector is None:
            raise VectorDBError("INVALID_PAYLOAD", "queryVector is required.")
        # search_df's validation, in its order; the driver-resident tier
        # (serving.py) answers dense queries it can reproduce exactly
        f = self._resolve_query_field(query_field, query_index)
        ast = parse_filter(filter, self.field_map())
        if f.field_type.is_dense_vector:
            q = _normalize_dense_query(query_vector, f)
            rows = serving.query(self, f, q, ast, limit)
            if rows is not None:
                reply = self._served_reply(
                    rows, response, with_distance, facets, has_distance=True
                )
                if reply is not None:
                    return reply
        topk = self.search_df(
            query_vector,
            query_field=query_field,
            query_index=query_index,
            limit=limit,
            filter=filter,
        )
        topk = topk.cache()
        try:
            records = self._project(topk, response, with_distance=with_distance)
            out: dict = {"result": records}
            if facets:
                from vectordb_spark.operators.facets import compute_facets, parse_facets

                specs = parse_facets(facets, self.field_map())
                out["facets"] = compute_facets(
                    topk, specs, self.field_map(), has_distance=True
                )
            return out
        finally:
            topk.unpersist()

    # ------------------------------------------------------------------ get

    def get(
        self,
        *,
        response: list[str] | None = None,
        filter: str = "",
        skip: int = 0,
        limit: int = DEFAULT_GET_LIMIT,
        primary_keys: list | None = None,
        facets: list[dict] | None = None,
    ) -> dict:
        """Attribute scan / point reads (reference §3.3): PK-list route,
        else filtered scan in insertion (_row_id) order with
        skip/limit.

        This is the API-parity JSON route — it MATERIALIZES the page on
        the driver (like the reference returns JSON), sized for point
        reads and pages. Bulk consumers must stay distributed: use
        ``df()`` (full snapshot incl. time travel) or ``search_df``
        and keep the result a DataFrame."""
        extra_bounds = None
        if primary_keys:
            pk_field = self.schema.primary_key
            if pk_field is None:
                raise VectorDBError(
                    "DB_UNEXPECTED_ERROR", f"Primary key not found: {self.schema.name}"
                )
            self._check_pk_keys(primary_keys)
            extra_bounds = self._pk_list_bounds(primary_keys)
        rows = serving.get(
            self, parse_filter(filter, self.field_map()), primary_keys, skip, limit
        )
        if rows is not None:
            reply = self._served_reply(rows, response, False, facets, has_distance=False)
            if reply is not None:
                return reply
        df = self.scan_df(filter, extra_bounds=extra_bounds)
        if primary_keys:
            df = df.where(F.col(pk_field.name).isin(primary_keys))
        df = df.orderBy("_row_id")
        if skip:
            df = df.offset(skip)
        df = df.limit(limit)
        df = df.cache()
        try:
            records = self._project(df, response, with_distance=False)
            out: dict = {"result": records}
            if facets:
                from vectordb_spark.operators.facets import compute_facets, parse_facets

                specs = parse_facets(facets, self.field_map())
                out["facets"] = compute_facets(
                    df, specs, self.field_map(), has_distance=False
                )
            return out
        finally:
            df.unpersist()

    # ------------------------------------------------------------- projection

    def _served_reply(
        self, rows, response, with_distance: bool, facets, *, has_distance: bool
    ) -> dict | None:
        """The query/get reply over the serving tier's result rows (an
        Arrow table, ``_distance`` included when ``has_distance``): the
        same records and facets the Spark path returns, raising the
        same errors in the same order. None when a facet needs Spark."""
        fields, want_distance = self._response_fields(response, with_distance)
        want_distance = want_distance and has_distance
        cols = [f.name for f in fields] + (["_distance"] if want_distance else [])
        out: dict = {
            "result": _records(rows.select(cols).to_pylist(), fields, want_distance)
        }
        if facets:
            from vectordb_spark.operators.facets import fold_facets, parse_facets

            specs = parse_facets(facets, self.field_map())
            try:
                out["facets"] = fold_facets(
                    rows, specs, self.field_map(), has_distance=has_distance
                )
            except ArrowUnsupported:
                return None
        return out

    def _response_fields(
        self, response: list[str] | None, with_distance: bool
    ) -> tuple[list[FieldSchema], bool]:
        """The projected fields and whether @distance is wanted; an
        unknown name is INVALID_PAYLOAD."""
        if response:
            fields = []
            for name in response:
                if name == "@distance":
                    continue
                f = self.schema.get(name)
                if f is None:
                    raise VectorDBError("INVALID_PAYLOAD", f"Unknown field {name}.")
                fields.append(f)
            want_distance = with_distance or "@distance" in response
        else:
            fields = self.schema.projectable_fields()
            want_distance = with_distance
        return fields, want_distance

    def _project(
        self, df: DataFrame, response: list[str] | None, *, with_distance: bool
    ) -> list[dict]:
        fields, want_distance = self._response_fields(response, with_distance)
        want_distance = want_distance and "_distance" in df.columns
        cols = [f.name for f in fields] + (["_distance"] if want_distance else [])
        return _records(df.select(*cols).collect(), fields, want_distance)

    # ------------------------------------------------------------- indexes
    # Every index family is a writer (rows → one index dir, shared by
    # build and refresh) plus a scorer; segmented_index.SegmentedIndex
    # owns the lifecycle around them — versioned and delta dirs, the
    # manifest entry, the locked CAS commit, the segment-pruned tail
    # and the dead-id semi-join.

    def rebuild(
        self,
        field: str,
        *,
        index_type: str = "IVF",
        k: int = 16,
        seed: int = 42,
        train: str = "kmeans",
        rounds: int = 2,
        train_mod: int | None = None,
        train_keep: int | None = None,
    ) -> dict:
        """Batch ANN index (re)build — the reference's background
        rebuild (X3, table_mvp.cpp:94-203) as an explicit job. Writes a
        new index version: the vector column + _row_id reorganized into
        a parquet dir PARTITIONED BY cluster (at scale, probing is
        partition pruning on this table), plus centroids in the
        manifest. Readers pick up the new version on next query — the
        double-buffer swap without mutexes."""
        f = self.schema.get(field)
        if f is None or not f.field_type.is_dense_vector:
            raise VectorDBError(
                "INVALID_PAYLOAD", f"Field {field} is not a dense vector field."
            )
        itype = index_type.upper()
        if itype not in ("IVF", "IVF_SQ8", "IVF_PQ"):
            raise VectorDBError(
                "NOT_IMPLEMENTED_ERROR", f"Index type {index_type} not supported."
            )
        metric = f.metric or "EUCLIDEAN"
        if itype == "IVF_PQ" and metric == "DOT_PRODUCT":
            # ADC approximates L2; COSINE is stored normalized (L2
            # order == cosine order) but raw dot has no such bridge
            raise VectorDBError(
                "NOT_IMPLEMENTED_ERROR",
                "IVF_PQ ranks candidates by L2 ADC; use IVF or IVF_SQ8 "
                "for DOT_PRODUCT fields.",
            )
        from vectordb_spark.operators.ann import IVFIndex

        if train not in ("kmeans", "lloyd"):
            raise VectorDBError(
                "INVALID_PAYLOAD", f"Unknown trainer {train!r}; use kmeans|lloyd."
            )
        if (train_mod is not None or train_keep is not None) and train != "lloyd":
            raise VectorDBError(
                "INVALID_PAYLOAD",
                "train_mod/train_keep apply to the lloyd trainer only "
                "(the kmeans path already samples internally).",
            )
        lloyd = train == "lloyd"
        idx = IVFIndex(k=k, seed=seed, metric=metric)

        def write(df: DataFrame, name: str, info: dict) -> None:
            df = df.select("_row_id", field)
            if lloyd:
                # deterministic seeded-Lloyd trainer: same Lloyd
                # iterations as kmeans but bit-replayable (integer-grid
                # means, fold distances) — the trained path a SQL
                # oracle can audit, persisted in the manifest exactly
                # like the MLlib path
                assigned = idx.build_lloyd(
                    df, field, rounds=rounds,
                    train_mod=train_mod, train_keep=train_keep,
                )
            else:
                assigned = idx.build(df, field)
            info["centroids"] = idx.centroids
            if itype == "IVF_PQ":
                # coarse quantizer (_cluster) for pruning + fine
                # quantizer (PQ codes, 4 bytes/row at M=8×K=16) for
                # ranking, RESIDUAL-encoded (vec − assigned centroid):
                # raw-vector codes collapse inside tight clusters —
                # every member shares a code and ADC cannot rank within
                # the blob (SCALING.md "residual encoding is
                # load-bearing": 3,125-way ADC ties, recall 0; residual
                # 0.91 at the same budget)
                from vectordb_spark.operators.pq import ResidualPQIndex

                # M must divide the dimension (each subspace = dim/M
                # contiguous components); largest of 8/4/2/1 that does
                m_sub = next(
                    m for m in (8, 4, 2, 1) if (f.dimension or 0) % m == 0
                )
                pqi = ResidualPQIndex(m=m_sub, seed=seed)
                if lloyd:
                    # the bit-replayable trainer for BOTH tiers: a SQL
                    # oracle can audit the full trained IVF_PQ
                    # lifecycle (queries/ann.py table_ivfpq_trained_search)
                    pqi.fit_residual_lloyd(
                        idx, assigned, field, rounds=rounds, id_col="_row_id",
                        train_mod=train_mod, train_keep=train_keep,
                    )
                else:
                    pqi.fit_residual(idx, assigned, field, id_col="_row_id")
                info["pq_codebook"] = pqi.codebook
            info["cluster_sizes"] = {
                str(c): n for c, n in (idx.cluster_sizes or {}).items()
            }
            # separation statistics → the exact-fallback planner rule
            # applies to persisted-index searches too (None = +inf)
            info["mean_intra_radius"] = idx.mean_intra_radius
            info["mean_nn_centroid_dist"] = (
                None
                if idx.mean_nn_centroid_dist is None
                or math.isinf(idx.mean_nn_centroid_dist)
                else idx.mean_nn_centroid_dist
            )
            self._ivf.save(
                self._ivf_encode(assigned, field, info), name, info,
                _ivf_postings(info, field),
            )
            return None  # the reply's indexedRecords is the watermark

        return self._ivf.build(field, write, {
            "type": itype,
            "k": k,
            "seed": seed,
            "train": train,
            "rounds": rounds if lloyd else None,
            # sampled-trainer hash filter (None = full-corpus training);
            # recorded so a rebuilt-from-manifest audit can replay the
            # exact training subset
            "train_mod": train_mod if lloyd else None,
            "train_keep": train_keep if lloyd else None,
            "metric": metric,
            "pq_codebook": None,
            # residual-encoded codes (build ≥ r7); absent/False in
            # older manifests → the raw-code search path still serves
            "pq_residual": itype == "IVF_PQ",
            # arithmetic convention the residual grid was encoded
            # under — refresh_index refuses to mix conventions
            "pq_residual_convention": (
                _PQ_RESIDUAL_CONVENTION if itype == "IVF_PQ" else None
            ),
        })

    @staticmethod
    def _ivf_encode(assigned: DataFrame, field: str, info: dict) -> DataFrame:
        """The stored columns of one IVF dir, from rows already carrying
        ``_cluster`` — shared by build and refresh, so delta dirs encode
        exactly like the main dir:
        - IVF_SQ8: int8 codes + per-row scale + exact squared norm, NOT
          the float vectors: the probe-scan reads 1 byte/dim instead of
          4; exact distances come from re-joining the base table for
          the (small) re-rank candidate set only.
        - IVF_PQ: M sub-codes against the stored codebook, residual to
          the stored centroids (or the raw encoding of a pre-residual
          manifest); float vectors are touched only for re-ranking.
        - IVF: the float vector itself."""
        itype = info.get("type")
        if itype == "IVF_SQ8":
            from vectordb_spark.functions.distance import dot_product
            from vectordb_spark.operators.quant import (
                quant_scale_exprs,
                quantize_exprs,
            )

            scale_s, _ = quant_scale_exprs(field)
            qz_s, _ = quantize_exprs(field, "_scale")
            return (
                assigned.withColumn("_scale", F.expr(scale_s))
                .withColumn("_q", F.expr(qz_s).cast("array<tinyint>"))
                .withColumn("_norm2", dot_product(F.col(field), F.col(field)))
                .select("_row_id", "_scale", "_q", "_norm2", "_cluster")
            )
        if itype == "IVF_PQ":
            from vectordb_spark.operators.pq import PQIndex, ResidualPQIndex

            if info.get("pq_residual"):
                rpqi = ResidualPQIndex(m=len(info["pq_codebook"]))
                rpqi.codebook = info["pq_codebook"]
                rpqi.coarse_centroids = info["centroids"]
                assigned = rpqi.codes_residual(assigned, field)
            else:  # pre-residual manifest: keep its raw encoding
                pqi = PQIndex(m=len(info["pq_codebook"]))
                pqi.codebook = info["pq_codebook"]
                assigned = pqi.codes(assigned, field)
            return assigned.select("_row_id", "_pq_codes", "_cluster")
        return assigned.select("_row_id", field, "_cluster")

    def _residual_probe_matches(
        self, info: dict, field: str, sample: int = 256
    ) -> bool:
        """Convention probe for UNTAGGED residual IVF_PQ manifests:
        re-encode up to ``sample`` already-indexed live rows under the
        CURRENT residual convention (their stored ``_cluster`` pins the
        original coarse assignment) and compare byte-for-byte with the
        stored codes. True ⇒ the base was encoded under the current
        convention and refresh may extend the index; False (any mismatch,
        or no index row still live to verify against) ⇒ ambiguity
        stands and the caller rejects. One bounded read — the cost of
        never guessing about persisted bytes.

        The sample must be SPREAD, not the first row-group (ADVICE
        r10): a bare ``.limit`` returns one segment/cluster's rows,
        and a convention that differs only on rare inputs (grid
        half-boundary rounding, clamping at extremes — exactly the
        class a convention tag guards against) can agree byte-for-byte
        on that correlated slice while other stored codes differ. So:
        an index at or under ``full_check_max`` rows is verified IN
        FULL (codes are 4-byte rows — 64k of them is a trivial read);
        a larger one samples ``sample`` rows by smallest
        ``xxhash64(_row_id)``, a uniform spread across clusters and
        segments. Adoption on the sampled path is still probabilistic
        — a convention divergence confined to rows outside the spread
        sample would be missed — which is why the tag this probe
        writes is the one-time bridge for pre-tag manifests, not the
        ongoing integrity mechanism (new builds persist the tag at
        build time)."""
        from vectordb_spark.operators.pq import ResidualPQIndex

        full_check_max = 65536
        stored = self.spark.read.schema(_ivf_postings(info, field)).parquet(
            self._ivf.path(info["dir"])
        ).select(
            "_row_id",
            F.col("_pq_codes").cast("array<int>").alias("_stored"),
            F.col("_cluster").cast("int").alias("_cluster"),
        )
        n_index = sum(int(v) for v in (info.get("cluster_sizes") or {}).values())
        if n_index > full_check_max:
            stored = stored.orderBy(
                F.xxhash64(F.col("_row_id")).asc(), F.col("_row_id").asc()
            ).limit(sample)
        live = self.df().select("_row_id", field)
        joined = stored.join(live, "_row_id")
        rpqi = ResidualPQIndex(m=len(info["pq_codebook"]))
        rpqi.codebook = info["pq_codebook"]
        rpqi.coarse_centroids = info["centroids"]
        recoded = rpqi.codes_residual(joined, field, out_col="_now")
        n_checked, n_equal = recoded.agg(
            F.count(F.lit(1)),
            F.sum(
                (F.col("_now").cast("array<int>") == F.col("_stored"))
                .cast("int")
            ),
        ).first()
        return int(n_checked or 0) > 0 and int(n_equal or 0) == int(n_checked)

    def refresh_index(self, field: str) -> dict:
        """Incremental ANN-index refresh: rows inserted since the last
        build/refresh self-assign to the STORED centroids (codegen
        argmin — k inline distances, no refit, no shuffle), get their
        stored codes (SQ8 quantization / PQ encoding against the stored
        codebook — both stateless given the manifest), and land in a
        new immutable delta dir partitioned by ``_cluster``; the
        manifest extends cluster sizes in the same commit. A growing
        table keeps probe-pruned searches without per-query tail scans
        and without re-running KMeans — centroids and the
        separation-planner statistics stay build-time until a full
        ``rebuild`` (the reference rebuilds from scratch each cycle,
        table_mvp.cpp:94-203)."""

        def write(tail: DataFrame, name: str, info: dict) -> int:
            assigned = tail.select("_row_id", field).withColumn(
                "_cluster", _nearest_centroid(field, info["centroids"])
            )
            if info.get("type") == "IVF_PQ" and info.get("pq_residual"):
                # Mixing residual-arithmetic conventions inside one
                # index silently skews recall (delta codes land in
                # different grid cells than the base codebook was
                # trained on) — refuse and demand a full rebuild.
                # An UNTAGGED manifest (built before the tag existed)
                # is ambiguous, not necessarily wrong: probe it by
                # re-encoding a sample of already-indexed rows under
                # the current convention and comparing to their STORED
                # codes — bytes don't lie. Match ⇒ adopt the tag (it
                # persists with this refresh's manifest commit);
                # mismatch or nothing verifiable ⇒ reject as before.
                conv = info.get("pq_residual_convention")
                if conv is None and self._residual_probe_matches(info, field):
                    conv = _PQ_RESIDUAL_CONVENTION
                    info["pq_residual_convention"] = conv
                if conv != _PQ_RESIDUAL_CONVENTION:
                    raise VectorDBError(
                        "INDEX_CONVENTION_MISMATCH",
                        f"IVF_PQ index on {field!r} was built under "
                        f"residual convention {conv!r} but this engine "
                        f"encodes {_PQ_RESIDUAL_CONVENTION!r}; delta "
                        "codes would not be comparable to the stored "
                        "base codes. Run rebuild() to re-encode.",
                    )
            # one compute: write + sizes
            assigned = self._ivf_encode(assigned, field, info).localCheckpoint()
            self._ivf.save(assigned, name, info, _ivf_postings(info, field))
            delta_sizes = {
                str(r["_cluster"]): int(r["n"])
                for r in assigned.groupBy("_cluster")
                .agg(F.count(F.lit(1)).alias("n"))
                .collect()
            }
            sizes = dict(info.get("cluster_sizes") or {})
            for c, n in delta_sizes.items():
                sizes[c] = int(sizes.get(c, 0)) + n
            info["cluster_sizes"] = sizes
            return sum(delta_sizes.values())

        return self._ivf.refresh(field, write)

    def search_indexed_df(
        self,
        query_vector,
        *,
        query_field: str | None = None,
        limit: int,
        nprobe: int | None = None,
        filter: str = "",
    ) -> DataFrame:
        """ANN search via the IVF index + brute-forced unindexed tail —
        the reference's hybrid indexed+tail search (T5,
        vec_search_executor.cpp:885-914): graph/index over rows present
        at build time, exact scan over rows inserted since, merged
        top-K. Index candidates come from the probed cluster partitions
        only; ``nprobe=None`` auto-plans the probe list from stored
        cluster sizes (probe until ~32·limit candidates or 25% of the
        table), an int pins it."""
        f = self._resolve_query_field(query_field, None)
        meta = self._load_meta()
        info = self._ivf.entry(meta, f.name)
        if info is None:
            return self.search_df(
                query_vector, query_field=f.name, limit=limit, filter=filter
            )
        idx = _ivf_from_info(info)
        q = _normalize_dense_query(query_vector, f)
        if nprobe is None:
            # the separation planner rule (operators/ann.py): when the
            # build-time stats say probing can't carry recall, answer
            # exactly — same fallback the operator-level search applies.
            # An IVF_PQ index keeps its stored-code advantage instead:
            # rank ALL clusters by ADC over the 4-byte codes + exact
            # re-rank (clusters=None drops the probe filter below)
            if idx.separation_ratio < idx.SEPARATION_EXACT_FALLBACK:
                if info.get("type") != "IVF_PQ":
                    return self.search_df(
                        query_vector, query_field=f.name, limit=limit, filter=filter
                    )
                clusters = None
            else:
                clusters = idx.plan_probes(q, limit)
        else:
            clusters = idx.probe_clusters(q, nprobe)
        # probe pruning (PartitionFilters on _cluster) applies per dir,
        # then the candidate streams union
        probed = self._ivf.read(
            info,
            _ivf_postings(info, f.name),
            None if clusters is None
            else (lambda d: d.where(F.col("_cluster").isin(clusters))),
            probe=clusters,
        )
        base = self.df()
        if info.get("type") == "IVF_SQ8":
            # the index may hold ids for rows deleted/upserted since the
            # build; drop them BEFORE the refine cut, or a delete-heavy
            # table would fill the candidate budget with dead ids
            probed = self._ivf.live(probed, info, meta, base)
            # quantized probe-scan: rank the probed codes by the int8
            # approximation, keep refine·limit candidate ids — the scan
            # reads codes (1 B/dim), never float vectors; exact
            # distances happen below on the candidate join only
            from vectordb_spark.operators.quant import (
                int_dot_exprs,
                quantize_vector,
            )

            q_codes, q_scale = quantize_vector(q)
            dot_s, _ = int_dot_exprs("_q", q_codes)
            approx_dot = F.expr(dot_s) * F.col("_scale") * F.lit(q_scale)
            metric = info["metric"]
            if metric == "EUCLIDEAN":
                qnorm2 = float(sum(float(x) * float(x) for x in q))
                approx_dist = F.col("_norm2") - 2.0 * approx_dot + F.lit(qnorm2)
            elif metric == "COSINE":  # ingest-normalized: cos ≡ dot
                approx_dist = F.lit(1.0) - approx_dot
            else:  # DOT_PRODUCT: distance = -dot
                approx_dist = -approx_dot
            refine = max(4 * limit, 50)
            probed = (
                probed.withColumn("_approx", approx_dist)
                .orderBy(F.col("_approx").asc(), F.col("_row_id").asc())
                .limit(refine)
            )
        elif info.get("type") == "IVF_PQ":
            # ADC over stored codes (M integer table lookups/row) ranks
            # the probed — or, in the fallback, ALL — rows; exact
            # re-rank happens on the candidate join below. Same
            # dead-id discipline as SQ8.
            from vectordb_spark.operators.pq import (
                adc_from_codes_expr,
                adc_table,
                quantize_query,
            )

            probed = self._ivf.live(probed, info, meta, base)
            refine = max(4 * limit, 64)
            if clusters is None:
                # whole-index ADC fallback (unclusterable corpus):
                # refine scales to 2% of the indexed rows — a fixed
                # budget collapses recall when 4-bit ADC ranks
                # distance-concentrated data (see operators/ann.py)
                refine = max(refine, 16 * limit, self._ivf.watermark(info) // 50)
            if info.get("pq_residual"):
                # per-cluster ADC: each probed cell ranks its codes
                # against ITS residual query (q − centroid_c); residual
                # ADC values approximate the same true L2 across cells,
                # so one global refine cut stays rank-correct
                cents = info["centroids"]
                cl_list = (
                    clusters if clusters is not None
                    else list(range(len(cents)))
                )
                approx = F.lit(None).cast("long")
                for c in cl_list:
                    res_q = [
                        float(a) - float(b) for a, b in zip(q, cents[c])
                    ]
                    tab = adc_table(
                        info["pq_codebook"], quantize_query(res_q)
                    )
                    approx = F.when(
                        F.col("_cluster") == int(c),
                        F.expr(adc_from_codes_expr("_pq_codes", tab)),
                    ).otherwise(approx)
            else:  # pre-residual manifest: one global table
                table = adc_table(info["pq_codebook"], quantize_query(q))
                approx = F.expr(adc_from_codes_expr("_pq_codes", table))
            probed = (
                probed.withColumn("_approx", approx)
                .orderBy(F.col("_approx").asc(), F.col("_row_id").asc())
                .limit(refine)
            )
        cand_ids = probed.select("_row_id")
        candidates = base.join(cand_ids, "_row_id", "left_semi")
        tail = self._ivf.tail(meta, info)
        if tail is not None:
            candidates = candidates.unionByName(tail).dropDuplicates(["_row_id"])
        qcol = F.array(*[F.lit(float(x)) for x in q])
        dist = distance_for_metric(info["metric"], F.col(f.name), qcol)
        return _rank_by_distance(
            candidates, dist, parse_filter(filter, self.field_map()), limit
        )

    def search_clustered_df(
        self,
        query_vector,
        *,
        query_field: str | None = None,
        limit: int,
        nprobe: int | None = None,
        filter: str = "",
    ) -> DataFrame:
        """Probe search over a cluster-compacted BASE table
        (``compact(cluster_by=...)``): the probe list is a
        partition-pruning predicate on the base scan itself
        (PartitionFilters on ``_cluster`` — whole directories skipped
        at file-listing time), with no index dir and no candidate
        join-back. Segments appended since the clustered compact carry
        write-time assignments (``_write_segment_observed``), so there is no
        unindexed tail to merge either. Falls back to exact search when
        the table has no cluster layout for the field, or when the
        stored separation statistics reject probing (same planner rule
        as ``search_indexed_df``)."""
        f = self._resolve_query_field(query_field, None)
        meta = self._load_meta()
        idx = self._cluster_layout_index(meta)
        if idx is None or meta.get("cluster_layout", {}).get("field") != f.name:
            return self.search_df(
                query_vector, query_field=f.name, limit=limit, filter=filter
            )
        q = _normalize_dense_query(query_vector, f)
        if nprobe is None:
            if idx.separation_ratio < idx.SEPARATION_EXACT_FALLBACK:
                return self.search_df(
                    query_vector, query_field=f.name, limit=limit, filter=filter
                )
            clusters = idx.plan_probes(q, limit)
        else:
            clusters = idx.probe_clusters(q, nprobe)
        out = self.df().where(
            F.col("_cluster").isin([int(c) for c in clusters])
        )
        ast = parse_filter(filter, self.field_map())
        qcol = F.array(*[F.lit(float(x)) for x in q])
        dist = distance_for_metric(idx.metric, F.col(f.name), qcol)
        return _rank_by_distance(out, dist, ast, limit).drop("_cluster")

    def rebuild_text_index(self, field: str, *, buckets: int = 64) -> dict:
        """Batch (re)build of a persisted INVERTED INDEX over a STRING
        field — the lexical sibling of ``rebuild`` (same versioned-dir
        double-buffer swap, X3/table_mvp.cpp:94-203): posting rows
        (token, _row_id, tf, dl) land in a parquet dir PARTITIONED BY
        ``_tb = pmod(xxhash64(token), buckets)``, so a query's terms
        prune to |terms|/buckets of the index at file-listing time —
        the lexical analog of IVF probe pruning. Corpus stats (N docs,
        Σ doc lengths) are recorded in the manifest; rows inserted
        after the build form the unindexed tail of hybrid indexed+tail
        search, the same T5 discipline as the vector index.

        Whitespace tokenization matches the query-layer BM25
        (queries/fusion.py) so indexed search reproduces the corpus
        scan bit-for-bit. At 100 TB you'd raise ``buckets`` (and write
        more files per bucket — the salted shuffle key); 64 keeps
        local test layouts small."""
        f = self.schema.get(field)
        if f is None or f.field_type not in (FieldType.STRING,):
            raise VectorDBError(
                "INVALID_PAYLOAD", f"Field {field} is not a STRING field."
            )
        return self._text.build(
            field,
            functools.partial(self._write_text_postings, field),
            {"buckets": buckets},
        )

    @staticmethod
    def _text_postings(
        df: DataFrame, field: str, terms: list[str] | None = None
    ) -> DataFrame:
        """(_row_id, _dl, _token, _tf, _pos) from raw text in one
        explode → groupBy pass; ``terms`` keeps only the query terms
        (the unindexed-tail scoring path). Postings are POSITIONAL
        (sorted 1-based ``_pos`` array per (doc, token)) so phrase
        queries resolve from the index alone — the Lucene
        positions-in-postings layout."""
        words = F.split(F.col(field), " ", -1)
        exploded = df.select(
            "_row_id",
            F.size(words).cast("long").alias("_dl"),
            F.posexplode(words).alias("_p0", "_token"),
        )
        if terms is not None:
            exploded = exploded.where(F.col("_token").isin(*terms))
        return exploded.groupBy("_row_id", "_dl", "_token").agg(
            F.count(F.lit(1)).alias("_tf"),
            F.sort_array(F.collect_list(F.col("_p0") + 1)).alias("_pos"),
        )

    def _write_text_postings(
        self, field: str, df: DataFrame, name: str, info: dict
    ) -> int:
        """Text-index writer (build and refresh): ``df``'s positional
        postings as one bucket-partitioned dir; the entry's corpus stats
        (N docs, Σ doc lengths) grow by ``df``'s. Returns its doc
        count."""
        buckets = int(info["buckets"])
        postings = self._text_postings(df, field).withColumn(
            "_tb", F.pmod(F.xxhash64("_token"), F.lit(buckets)).cast("int")
        )
        n_docs, sum_dl = df.select(
            F.count(F.lit(1)), F.sum(F.size(F.split(F.col(field), " ", -1))).cast("long")
        ).first()
        self._text.save_bucketed(postings, name, info, _TEXT_POSTINGS)
        info["n_docs"] = int(info.get("n_docs", 0)) + int(n_docs or 0)
        info["sum_dl"] = int(info.get("sum_dl", 0)) + int(sum_dl or 0)
        return int(n_docs or 0)

    def refresh_text_index(self, field: str) -> dict:
        """Incremental index refresh: postings for ONLY the unindexed
        tail (rows inserted since the last build/refresh) land in a new
        immutable DELTA dir alongside the main index — same bucket
        partitioning, so query-term pruning applies per dir — and the
        manifest extends (N, Σdl) in the same commit. A growing table
        never pays a full rebuild just to keep search off the live-tail
        scan path."""
        return self._text.refresh(
            field, functools.partial(self._write_text_postings, field)
        )

    def _fetch_top(self, base: DataFrame, ranked: DataFrame) -> DataFrame:
        """Two-phase fetch (the doc-store point-read a real lexical
        engine does): collect the ≤limit (id, score, terms) rows of the
        ``ranked`` plan — which on a clean index touches ONLY the pruned
        postings — and re-read ``base`` with a pushed-down _row_id IN
        filter so parquet row-group stats prune the fetch. Without this
        the final join scans the whole base to materialize k rows,
        wiping out the posting pruning's advantage (measured: the fetch
        scan alone cost as much as the entire corpus-scan BM25)."""
        top = ranked.collect()
        if not top:
            return (
                base.withColumn("_score", F.lit(0).cast("long"))
                .withColumn("_terms", F.lit(0).cast("long"))
                .limit(0)
            )
        hits = self.spark.createDataFrame(
            [(r["_row_id"], r["_score"], r["_terms"]) for r in top],
            "_row_id long, _score long, _terms long",
        )
        return (
            base.where(F.col("_row_id").isin([r["_row_id"] for r in top]))
            .join(F.broadcast(hits), "_row_id")
            .orderBy(F.col("_score").desc(), F.col("_row_id"))
        )

    def search_text_df(
        self,
        query_text: str,
        *,
        query_field: str | None = None,
        limit: int = 10,
        filter: str = "",
        phrase: bool = False,
    ) -> DataFrame:
        """BM25 search through the persisted inverted index, merged
        with a direct scan of the unindexed tail (rows inserted since
        the build — T5's hybrid indexed+tail shape). The index scan
        prunes to the query terms' hash buckets (PartitionFilters on
        ``_tb``) and pushes the term filter into the posting scan; per-
        term document frequencies come from the pruned postings + tail
        (exact), while the corpus stats (N, Σdl) ride from the manifest
        plus a tail aggregate — one composed plan, no driver actions.
        Scores are the quantized-grid BM25 of functions.text_rank, so
        indexed results hash-match the corpus-scan query exactly.
        Returns base-table rows (``filter`` applied as a pre-filter
        semi-join on candidates) with ``_score`` / ``_terms``.

        ``phrase=True`` treats the query as an EXACT PHRASE: the
        positional postings resolve adjacency (a start-position chain
        intersected term by term, the Lucene exact-phrase algorithm),
        the phrase acts as one pseudo-term (tf = overlapping phrase
        occurrences, df = docs containing the phrase), and ranking is
        the same quantized BM25 — all from the pruned index, the raw
        text is never re-read."""
        from vectordb_spark.functions.text_rank import bm25_sq_expr

        meta = self._load_meta()
        tidx = self._text.entries(meta)
        field = query_field or next(iter(tidx), None)
        info = tidx.get(field) if field else None
        if info is None:
            raise self._text.missing(field)
        seq_terms = [t for t in query_text.split(" ") if t]
        terms = sorted(set(seq_terms))
        if not terms:
            raise VectorDBError("INVALID_PAYLOAD", "Empty query text.")
        spark = self.spark
        buckets = int(info["buckets"])
        # term → bucket via the driver-side XXH64 mirror of the JVM
        # xxhash64 the build used (functions/hashing.py) — no Spark
        # job for a handful of strings
        from vectordb_spark.functions.hashing import pmod_bucket

        tbs = sorted({pmod_bucket(t, buckets) for t in terms})
        idx = self._text.read(
            info,
            _TEXT_POSTINGS,
            lambda d: d.where(
                F.col("_tb").isin(tbs) & F.col("_token").isin(*terms)
            ).select(
                "_row_id", "_dl", "_token", "_tf",
                *(["_pos"] if phrase else []),
            ),
            probe=tbs,
        )
        base = self.df()
        tail = self._text.tail(meta, info)
        # dead-id discipline (same as the SQ8/PQ vector paths): drop
        # postings of rows deleted since the build before df counting
        # and the top-k cut. Corpus stats (N, Σdl) stay build-time
        # until rebuild — the Lucene convention for deleted docs
        # (slightly stale idf, never wrong candidates). The clean-index
        # fast path (no deletes, no tail) touches only the pruned
        # postings + the top-k row fetch.
        postings = self._text.live(idx, info, meta, base)
        if tail is not None:
            tail_postings = self._text_postings(tail, field, terms)
            if not phrase:
                tail_postings = tail_postings.drop("_pos")
            postings = postings.unionByName(tail_postings)
        # candidate pre-filter (reference semantics: filter before rank)
        ast = parse_filter(filter, self.field_map())
        if ast is not None:
            allowed = base.where(to_spark_column(ast)).select("_row_id")
            postings = postings.join(allowed, "_row_id", "left_semi")
        if phrase:
            # Lucene exact-phrase over positional postings: pivot the
            # query terms' position lists per doc, intersect the
            # start-position chain term by term (start p is valid iff
            # term_i sits at p+i for every i; overlapping matches
            # count), and collapse the phrase into ONE pseudo-term
            # whose tf is the surviving start count. df/ranking then
            # flow through the ordinary BM25 machinery unchanged.
            perdoc = (
                postings.groupBy("_row_id", "_dl")
                .agg(
                    F.map_from_entries(
                        F.collect_list(F.struct("_token", "_pos"))
                    ).alias("_m"),
                    F.count(F.lit(1)).alias("_nt"),
                )
                .where(F.col("_nt") == len(terms))  # has every term
            )
            starts = F.col("_m").getItem(seq_terms[0])
            for t in seq_terms[1:]:
                starts = F.array_intersect(
                    F.transform(starts, lambda p: p + 1),
                    F.col("_m").getItem(t),
                )
            postings = (
                perdoc.withColumn("_ptf", F.size(starts))
                .where(F.col("_ptf") > 0)
                .select(
                    "_row_id",
                    "_dl",
                    F.lit(" ".join(seq_terms)).alias("_token"),
                    F.col("_ptf").cast("long").alias("_tf"),
                )
            )
        dfreq = postings.groupBy("_token").agg(
            F.countDistinct("_row_id").alias("_df")
        )
        if tail is not None:
            words = F.split(F.col(field), " ", -1)
            stats = (
                tail.select(
                    F.count(F.lit(1)).alias("_tn"),
                    F.coalesce(
                        F.sum(F.size(words)).cast("long"), F.lit(0)
                    ).alias("_ts"),
                )
                .select(
                    (F.col("_tn") + F.lit(int(info["n_docs"]))).alias("_n"),
                    (F.col("_ts") + F.lit(int(info["sum_dl"]))).alias("_s"),
                )
            )
        else:
            stats = spark.createDataFrame(
                [(int(info["n_docs"]), int(info["sum_dl"]))], "_n long, _s long"
            )
        scored = (
            postings.join(F.broadcast(dfreq), "_token")
            .crossJoin(F.broadcast(stats))
            .select(
                "_row_id",
                F.expr(bm25_sq_expr("_tf", "_df", "_dl", "_n", "_s")).alias(
                    "_sq"
                ),
            )
            .groupBy("_row_id")
            .agg(
                F.sum("_sq").cast("long").alias("_score"),
                F.count(F.lit(1)).alias("_terms"),
            )
            .orderBy(F.col("_score").desc(), F.col("_row_id"))
            .limit(limit)
        )
        if limit <= self._TEXT_FETCH_COLLECT_MAX:
            return self._fetch_top(base, scored)
        # large limits (bulk consumers / the oracle gate's re-cut) keep
        # ONE composed plan — no driver materialization of a big top-k
        return (
            base.join(F.broadcast(scored), "_row_id")
            .orderBy(F.col("_score").desc(), F.col("_row_id"))
        )

    def rebuild_sparse_index(self, field: str, *, buckets: int = 64) -> dict:
        """Inverted index over a SPARSE vector field (the SPLADE-style
        retrieval layout): one posting row per nonzero (doc, dim),
        hive-partitioned by ``_db = dim % buckets`` so a query's
        nonzero dims prune the posting scan at file-listing time, plus
        a norms sidecar (_row_id, _norm2 — 16 B/row) that completes
        the candidate set for metrics where docs sharing NO dims can
        still rank (L2: small-norm docs; dot/cosine: the zero-overlap
        tie class). Searches are EXACT — the index only prunes; final
        scores come from the canonical sparse distance expression over
        the candidate rows (search_sparse_indexed_df)."""
        f = self.schema.get(field)
        if f is None or not f.field_type.is_sparse_vector:
            raise VectorDBError(
                "INVALID_PAYLOAD", f"Field {field} is not a sparse vector field."
            )
        return self._sparse.build(
            field,
            functools.partial(self._write_sparse_postings, field),
            {"buckets": buckets},
        )

    def refresh_sparse_index(self, field: str) -> dict:
        """Incremental sparse-index refresh (the sparse twin of
        ``refresh_text_index``): postings and norms for ONLY the
        unindexed tail land in new immutable DELTA dirs beside the main
        index — same ``_db`` bucket partitioning, so query-dim pruning
        applies per dir. A growing table never pays a full posting
        rebuild to keep search off the live-tail scan path."""
        return self._sparse.refresh(
            field, functools.partial(self._write_sparse_postings, field)
        )

    def _write_sparse_postings(
        self, field: str, df: DataFrame, name: str, info: dict
    ) -> int:
        """Sparse-index writer (build and refresh): one posting row per
        nonzero (doc, dim) as a bucket-partitioned dir, plus the norms
        sidecar. Returns the sidecar's row count, observed during its
        write."""
        from vectordb_spark.functions.distance import sparse_norm_sq

        buckets = int(info["buckets"])
        v = F.col(field)
        postings = (
            df.select(
                "_row_id",
                F.explode(
                    F.arrays_zip(v.getField("indices"), v.getField("values"))
                ).alias("_z"),
            )
            .select(
                "_row_id",
                F.col("_z.indices").cast("long").alias("_dim"),
                F.col("_z.values").cast("double").alias("_val"),
            )
            .withColumn("_db", F.pmod(F.col("_dim"), F.lit(buckets)).cast("int"))
        )
        self._sparse.save_bucketed(postings, name, info, _SPARSE_POSTINGS)
        return self._sparse.save(
            df.select("_row_id", sparse_norm_sq(v).alias("_norm2")),
            self._sparse.sidecar(name),
            info,
            _SPARSE_NORMS,
            partitioned=False,
        )

    def search_sparse_indexed_df(
        self,
        query_vector,
        *,
        query_field: str | None = None,
        limit: int,
        filter: str = "",
    ) -> DataFrame:
        """EXACT sparse KNN through the inverted index. Candidates =
        (rows sharing ≥ 1 nonzero query dim — complete for any score
        contribution, read from the dim-pruned postings) ∪ (the top
        ``limit`` VOID rows that share nothing: for EUCLIDEAN the
        smallest ||x||² from the norms sidecar — a void doc scores
        ||x||²+||q||², so no doc outside this set can enter the top-k;
        for DOT/COSINE every void doc ties at 0 / 1.0, so the first
        ``limit`` by row-id tie-break suffice). The final ranking
        re-scores candidates with the canonical sparse distance — the
        index prunes, never approximates. Tail rows (inserted since
        the build) join both candidate streams via direct scans;
        dead ids drop via a semi-join when a delete has committed since
        the build."""
        f = self._resolve_query_field(query_field, None)
        if not f.field_type.is_sparse_vector:
            raise VectorDBError(
                "INVALID_PAYLOAD", f"Field {f.name} is not a sparse vector field."
            )
        meta = self._load_meta()
        info = self._sparse.entry(meta, f.name)
        if info is None:
            return self.search_df(
                query_vector, query_field=f.name, limit=limit, filter=filter
            )
        q = _normalize_sparse_query(query_vector, f)
        dims = [int(i) for i in q["indices"]]
        buckets = int(info["buckets"])
        dbs = sorted({d % buckets for d in dims})
        base = self.df()
        ast = parse_filter(filter, self.field_map())
        idx_ids = self._sparse.read(
            info,
            _SPARSE_POSTINGS,
            lambda d: d.where(
                F.col("_db").isin(dbs) & F.col("_dim").isin(dims)
            ).select("_row_id"),
            probe=dbs,
        )
        norms = self._sparse.read(info, _SPARSE_NORMS, sidecar=True)
        idx_ids = self._sparse.live(idx_ids, info, meta, base)
        norms = self._sparse.live(norms, info, meta, base)
        tail = self._sparse.tail(meta, info)
        if tail is not None:
            from vectordb_spark.functions.distance import sparse_norm_sq

            v = F.col(f.name)
            tail_ids = tail.select(
                "_row_id", F.explode(v.getField("indices")).alias("_dim")
            ).where(F.col("_dim").cast("long").isin(dims)).select("_row_id")
            idx_ids = idx_ids.unionByName(tail_ids)
            norms = norms.unionByName(
                tail.select("_row_id", sparse_norm_sq(v).alias("_norm2"))
            )
        if ast is not None:
            allowed = base.where(to_spark_column(ast)).select("_row_id")
            idx_ids = idx_ids.join(allowed, "_row_id", "left_semi")
            norms = norms.join(allowed, "_row_id", "left_semi")
        sharing = idx_ids.distinct()
        void = norms.join(sharing, "_row_id", "left_anti")
        metric = (f.metric or "EUCLIDEAN").upper()
        if metric == "EUCLIDEAN":
            void = void.orderBy(F.col("_norm2").asc(), F.col("_row_id").asc())
        else:  # DOT_PRODUCT / COSINE: void docs tie; row-id order decides
            void = void.orderBy(F.col("_row_id").asc())
        cands = sharing.unionByName(
            void.limit(limit).select("_row_id")
        ).distinct()
        qcol = F.struct(
            F.array(*[F.lit(int(i)) for i in q["indices"]]).alias("indices"),
            F.array(*[F.lit(float(x)) for x in q["values"]])
            .cast("array<float>")
            .alias("values"),
        )
        scored = base.join(cands, "_row_id", "left_semi").withColumn(
            "_distance",
            sparse_distance_for_metric(f.metric or "EUCLIDEAN", F.col(f.name), qcol),
        )
        if ast is not None:
            scored = scored.where(to_spark_column(ast))
        return scored.orderBy(
            F.col("_distance").asc(), F.col("_row_id").asc()
        ).limit(limit)

    def search_text_multi_df(
        self,
        query_text: str,
        field_weights: dict[str, int],
        *,
        limit: int = 10,
        filter: str = "",
    ) -> DataFrame:
        """Weighted multi-field lexical search (the practical BM25F
        variant: per-field BM25 scores linearly combined — each field
        keeps its own length normalization and document frequencies,
        then INTEGER weights scale the quantized scores, so the
        combination stays exact BIGINT arithmetic). Every named field
        must carry a text index; a doc ranks by
        Σ_field weight · bm25_field(doc). Candidate docs match in ≥ 1
        field (absent fields contribute 0) — the multi-field search
        shape of Lucene's query-time field boosts."""
        if not field_weights:
            raise VectorDBError("INVALID_PAYLOAD", "field_weights is empty.")
        for w in field_weights.values():
            if not isinstance(w, int) or w <= 0:
                raise VectorDBError(
                    "INVALID_PAYLOAD",
                    "Field weights must be positive integers (the exact-"
                    "arithmetic discipline: integer-scaled BIGINT scores).",
                )
        parts = None
        for field, w in field_weights.items():
            p = self.search_text_df(
                query_text,
                query_field=field,
                limit=1 << 30,  # composed plan; the cut happens on the sum
                filter=filter,
            ).select(
                "_row_id",
                (F.col("_score") * F.lit(int(w))).alias("_ws"),
                F.col("_terms").alias("_t"),
            )
            parts = p if parts is None else parts.unionByName(p)
        combined = parts.groupBy("_row_id").agg(
            F.sum("_ws").cast("long").alias("_score"),
            F.sum("_t").cast("long").alias("_terms"),
        )
        return self._fetch_top(
            self.df(),
            combined.orderBy(F.col("_score").desc(), F.col("_row_id")).limit(limit),
        )

    def insert_prepare(self, primary_keys: list | None = None) -> dict:
        """Reference S2 (table_segment_mvp.cpp:816-876): capacity,
        record count, and 32-bit-packed PK-existence bitmasks."""
        meta = self._load_meta()
        record_number = self._count(meta)
        masks: list[int] = []
        if primary_keys:
            pk_field = self.schema.primary_key
            if pk_field is None:
                raise VectorDBError(
                    "DB_UNEXPECTED_ERROR", f"Primary key not found: {self.schema.name}"
                )
            existing = {
                r[0]
                for r in self.df()
                .where(F.col(pk_field.name).isin(primary_keys))
                .select(pk_field.name)
                .collect()
            }
            mask = 0
            for i, pk in enumerate(primary_keys):
                if pk in existing:
                    mask |= 1 << (i % 32)
                if i % 32 == 31:
                    masks.append(mask)
                    mask = 0
            if len(primary_keys) % 32 != 0:
                masks.append(mask)
        return {
            "capacity": self._capacity(meta),
            "recordNumber": record_number,
            "masks": masks,
        }

    def statistics(self) -> dict:
        """Reference S11 (db_server.cpp:105-119)."""
        return {"totalRecords": self._count(self._load_meta())}


_INT_BITS = {FieldType.INT1: 8, FieldType.INT2: 16, FieldType.INT4: 32, FieldType.INT8: 64}


def _coerce(kind, v, f: FieldSchema):
    """``kind(v)`` (int or float) for field ``f``; a value that does not
    convert is INVALID_RECORD, as every other malformed value is."""
    try:
        return kind(v)
    except (TypeError, ValueError, OverflowError):
        raise VectorDBError(
            "INVALID_RECORD", f"Field {f.name} must hold {kind.__name__} values."
        ) from None


class _SkipRecord(Exception):
    pass


def _records(rows, fields: list[FieldSchema], with_distance: bool) -> list[dict]:
    """Reference P1 (table_mvp.cpp:462-594): default = all non-index
    fields; JSON strings projected back as objects; sparse/geo as
    wire-format dicts; @distance appended when requested. ``rows`` are
    Spark Rows or the serving tier's dicts — both index by name."""
    out = []
    for r in rows:
        rec: dict[str, Any] = {}
        for f in fields:
            v = r[f.name]
            if f.field_type == FieldType.JSON:
                rec[f.name] = json.loads(v) if isinstance(v, str) else v
            elif f.field_type.is_sparse_vector:
                rec[f.name] = {
                    "indices": list(v["indices"]),
                    "values": [float(x) for x in v["values"]],
                }
            elif f.field_type == FieldType.GEO_POINT:
                rec[f.name] = {"latitude": v["latitude"], "longitude": v["longitude"]}
            elif f.field_type.is_dense_vector:
                rec[f.name] = [float(x) for x in v]
            else:
                rec[f.name] = v
        if with_distance:
            rec["@distance"] = float(r["_distance"])
        out.append(rec)
    return out


def _row_ids_in(ids: np.ndarray):
    """``_row_id IN ids`` as an InSet, whose generated code references
    one hash set: a short list would stay an ``In`` with every id
    compiled in as a literal (a codegen compile for each new tombstone),
    so it is padded with negative ids, which no row holds, past the
    optimizer's In-to-InSet threshold. One SQL string keeps the build
    to one JVM call however many ids there are."""
    threshold = int(
        SparkSession.active().conf.get("spark.sql.optimizer.inSetConversionThreshold")
    )
    pad = [-1 - i for i in range(threshold + 1 - len(ids))]
    return F.expr(f"_row_id IN ({', '.join(f'{int(i)}L' for i in [*ids, *pad])})")


def _rank_by_distance(df: DataFrame, dist, ast, limit: int) -> DataFrame:
    """The dense ranking tail of every KNN path: the filter runs before
    the distance unless it references @distance (then after), and the
    top ``limit`` rows by (distance, _row_id) come back with
    ``_distance``."""
    post = ast is not None and references_distance(ast)
    if ast is not None and not post:
        df = df.where(to_spark_column(ast))
    df = df.withColumn("_distance", dist)
    if post:
        df = df.where(to_spark_column(ast))
    return df.orderBy(F.col("_distance").asc(), F.col("_row_id").asc()).limit(limit)


def _nearest_centroid(field: str, centroids: list[list[float]]):
    """Nearest stored centroid as a codegen Column — k inline distance
    expressions + array argmin, no shuffle, no UDF."""
    from vectordb_spark.functions.distance import l2_squared, vector_literal

    dists = F.array(
        *[l2_squared(F.col(field), vector_literal(c)) for c in centroids]
    )
    return (F.array_position(dists, F.array_min(dists)) - 1).cast("int")


# The declared postings schemas: SegmentedIndex.save refuses a dir that
# would store other columns, and every read hands them to Spark.
_TEXT_POSTINGS = _postings_schema(
    ("_row_id", T.LongType()),
    ("_dl", T.LongType()),
    ("_token", T.StringType()),
    ("_tf", T.LongType()),
    ("_pos", T.ArrayType(T.IntegerType())),
    ("_tb", T.IntegerType()),
)
_SPARSE_POSTINGS = _postings_schema(
    ("_row_id", T.LongType()),
    ("_dim", T.LongType()),
    ("_val", T.DoubleType()),
    ("_db", T.IntegerType()),
)
_SPARSE_NORMS = _postings_schema(("_row_id", T.LongType()), ("_norm2", T.DoubleType()))


def _ivf_postings(info: dict, field: str) -> T.StructType:
    """The columns ``Table._ivf_encode`` stores for the entry's index
    type, then the ``_cluster`` partition column."""
    stored = {
        "IVF_SQ8": [
            ("_scale", T.DoubleType()),
            ("_q", T.ArrayType(T.ByteType())),
            ("_norm2", T.DoubleType()),
        ],
        "IVF_PQ": [("_pq_codes", T.ArrayType(T.LongType()))],
    }.get(info.get("type"), [(field, T.ArrayType(T.FloatType()))])
    return _postings_schema(
        ("_row_id", T.LongType()), *stored, ("_cluster", T.IntegerType())
    )


def _ivf_from_info(info: dict):
    """The coarse quantizer a manifest entry persisted (an IVF index or
    the clustered layout), with its probe-planning statistics."""
    from vectordb_spark.operators.ann import IVFIndex

    idx = IVFIndex(k=info["k"], seed=info["seed"], metric=info["metric"])
    idx.centroids = info["centroids"]
    idx.cluster_sizes = {
        int(c): int(n) for c, n in (info.get("cluster_sizes") or {}).items()
    }
    idx.mean_intra_radius = info.get("mean_intra_radius")
    nn = info.get("mean_nn_centroid_dist")
    idx.mean_nn_centroid_dist = float("inf") if nn is None else float(nn)
    return idx


def _validate_sparse(v, dimension: int) -> Row:
    """Sparse insert validation (reference table_segment_mvp.cpp:511-553):
    indices strictly increasing, non-negative, < dimension; length
    mismatch → skip record (not an error)."""
    if not isinstance(v, dict) or "indices" not in v or "values" not in v:
        raise _SkipRecord()
    idx, vals = list(v["indices"]), list(v["values"])
    if len(idx) != len(vals):
        raise _SkipRecord()
    prev = -1
    for i in idx:
        i = int(i)
        if i < 0 or i <= prev or i >= dimension:
            raise _SkipRecord()
        prev = i
    return Row(indices=[int(i) for i in idx], values=[float(x) for x in vals])


def _normalize_dense_query(query_vector, f: FieldSchema) -> list[float]:
    q = [float(x) for x in query_vector]
    if len(q) != f.dimension:
        raise VectorDBError(
            "INVALID_PAYLOAD",
            f"Query vector dimension {len(q)} != field dimension {f.dimension}.",
        )
    if f.metric == "COSINE":
        n = math.sqrt(sum(x * x for x in q))
        if n > 0:
            q = [x / n for x in q]
    return q


def _normalize_sparse_query(query_vector, f: FieldSchema) -> dict:
    if not isinstance(query_vector, dict):
        raise VectorDBError("INVALID_PAYLOAD", "Sparse query vector must be a dict.")
    idx = [int(i) for i in query_vector["indices"]]
    vals = [float(x) for x in query_vector["values"]]
    if len(idx) != len(vals):
        raise VectorDBError("INVALID_PAYLOAD", "indices/values length mismatch.")
    if f.metric == "COSINE":
        n = math.sqrt(sum(x * x for x in vals))
        if n > 0:
            vals = [x / n for x in vals]
    return {"indices": idx, "values": vals}
