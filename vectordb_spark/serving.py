"""Driver-resident serving tier for the REST read routes.

``Table.query`` (knn, filtered knn) and ``Table.get`` answer from
in-memory Arrow copies of the live segments instead of building a
Spark plan over parquet — the reference's in-memory segment with a
brute-force scan (SURVEY.md §1.1). At serving sizes a Spark request
costs hundreds of milliseconds of planning and job scheduling, while
the scan itself takes a few. Everything else — ``search_df``,
``scan_df``, the indexes and every DataFrame surface — stays on Spark.

Results are bit-identical to the Spark path:

- distances are the same double-precision left fold from +0.0 that
  ``functions/distance.py`` compiles (``acc + d*d`` with
  ``d = x_j - q_j``; ``-Σ x_j q_j``; ``1.0 - Σ x_j q_j``): both sides
  widen float32 to double exactly, add in the same order, and neither
  fuses a multiply-add;
- rows rank by ``(distance, _row_id)``, as ``_rank_by_distance`` does;
- filters evaluate through ``expr.compile.to_arrow``, which declines
  (``ArrowUnsupported``) whatever it cannot reproduce exactly;
- facets fold on the driver over the result rows
  (``operators.facets.fold_facets``).

A request returns ``None`` — the caller then runs the unchanged Spark
path — for a partitioned table, a table with a sparse vector field, a
table whose live rows would decode to more than ``CACHE_BYTES``
(``_decoded_bytes``), a segment whose columns are not the declared
types or whose vector column holds a NULL, a NULL element or an
off-width row, and any filter or facet the pyarrow target declines.

Cache invalidation: segment dirs are immutable once committed, so an
entry is keyed by the table's real path, the segment dir name and that
dir's data-file names. The file names matter because a dir name alone
can be reused for different rows (``add_1`` after a drop and re-create,
an overwrite retry), while Spark names every part file with a per-write
UUID. Each request lists the live dirs of the manifest it just read and
drops the table's entries for dirs no longer in it; ``CACHE_BYTES``
caps the cache (least recently used first out).
"""

from __future__ import annotations

import os
import threading
from collections import OrderedDict
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

from vectordb_spark.expr.compile import (
    DISTANCE_COL,
    ArrowUnsupported,
    references_distance,
    to_arrow,
)
from vectordb_spark.schema import FieldType, TableSchema

# Decoded bytes the process keeps across requests. A table whose live
# rows would decode to more than this goes to Spark, which streams it,
# instead of being decoded onto the driver for every request.
CACHE_BYTES = 256 << 20
# Rows per block of the distance fold: keeps a block's double-precision
# terms in the CPU cache while the fold walks its columns.
_FOLD_BLOCK = 2048

_SCALAR_TYPES = {
    FieldType.INT1: pa.int8(),
    FieldType.INT2: pa.int16(),
    FieldType.INT4: pa.int32(),
    FieldType.INT8: pa.int64(),
    FieldType.FLOAT: pa.float32(),
    FieldType.DOUBLE: pa.float64(),
    FieldType.BOOL: pa.bool_(),
    FieldType.STRING: pa.string(),
    FieldType.JSON: pa.string(),
}
_GEO_FIELDS = [("latitude", pa.float64()), ("longitude", pa.float64())]


@dataclass(frozen=True)
class Segment:
    """One decoded segment dir. ``rows`` is None when the dir cannot be
    served (undeclared column types, bad vectors)."""

    rows: pa.Table | None
    row_ids: np.ndarray | None = None
    # dense field -> (rows × dim) float32 view of the Arrow buffer
    vectors: dict | None = None

    @property
    def nbytes(self) -> int:
        return 0 if self.rows is None else self.rows.nbytes


class SegmentCache:
    """Thread-safe LRU of decoded segments bounded by decoded bytes."""

    def __init__(self, max_bytes: int):
        self.max_bytes = max_bytes
        self._lock = threading.Lock()
        self._entries: OrderedDict[tuple, Segment] = OrderedDict()
        self._bytes = 0

    def get(self, key: tuple) -> Segment | None:
        with self._lock:
            seg = self._entries.get(key)
            if seg is not None:
                self._entries.move_to_end(key)
            return seg

    def put(self, key: tuple, seg: Segment) -> Segment:
        """Insert ``seg`` (a concurrent reader's entry for the same key
        wins) and evict the least recently used entries over the cap."""
        with self._lock:
            if key in self._entries:
                return self._entries[key]
            self._entries[key] = seg
            self._bytes += seg.nbytes
            while self._bytes > self.max_bytes and len(self._entries) > 1:
                _k, old = self._entries.popitem(last=False)
                self._bytes -= old.nbytes
            return seg

    def retain(self, root: str, live: set[tuple]) -> None:
        """Drop the entries of table ``root`` not in ``live``."""
        with self._lock:
            for key in [k for k in self._entries if k[0] == root and k not in live]:
                self._bytes -= self._entries.pop(key).nbytes

    def keys(self) -> list[tuple]:
        with self._lock:
            return list(self._entries)


CACHE = SegmentCache(CACHE_BYTES)


def _arrow_schema(schema: TableSchema) -> pa.Schema:
    """The in-memory schema of a served segment: the declared fields in
    order, then ``_row_id``."""
    fields = []
    for f in schema.fields:
        if f.field_type.is_dense_vector:
            t = pa.list_(pa.float32())
        elif f.field_type == FieldType.GEO_POINT:
            t = pa.struct(_GEO_FIELDS)
        else:
            t = _SCALAR_TYPES[f.field_type]
        fields.append(pa.field(f.name, t))
    fields.append(pa.field("_row_id", pa.int64()))
    return pa.schema(fields)


def _declared(actual: pa.DataType, want: pa.DataType) -> bool:
    if pa.types.is_list(want):
        return pa.types.is_list(actual) and actual.value_type == want.value_type
    if pa.types.is_struct(want):
        return pa.types.is_struct(actual) and [
            (f.name, f.type) for f in actual
        ] == [(f.name, f.type) for f in want]
    return actual == want


def _read_segment(seg_dir: str, files: tuple[str, ...], schema: TableSchema) -> Segment:
    # imported on first use: pyarrow.parquet loads pyarrow.fs and its
    # cloud filesystems, which a process that never serves a REST read
    # (a batch job, the ingest path) has no use for
    import pyarrow.parquet as pq

    parts = [pq.ParquetFile(os.path.join(seg_dir, f)).read() for f in files]
    target = _arrow_schema(schema)
    columns = []
    for want in target:
        for part in parts:
            idx = part.schema.get_field_index(want.name)
            if idx < 0 or not _declared(part.schema.field(idx).type, want.type):
                return Segment(None)
        # the cast only renames list items and relaxes nullability
        columns.append(
            pa.chunked_array(
                [c.cast(want.type) for p in parts for c in p.column(want.name).chunks],
                want.type,
            )
        )
    rows = pa.Table.from_arrays(columns, schema=target).combine_chunks()
    vectors = {}
    for f in schema.fields:
        if not f.field_type.is_dense_vector:
            continue
        col = rows.column(f.name)
        arr = col.chunk(0) if col.num_chunks == 1 else col.combine_chunks()
        if arr.null_count or rows.num_rows and (
            pc.min_max(pc.list_value_length(arr)).as_py()
            != {"min": f.dimension, "max": f.dimension}
        ):
            return Segment(None)
        flat = arr.flatten()
        if flat.null_count:
            return Segment(None)
        vectors[f.name] = flat.to_numpy().reshape(len(arr), f.dimension)
    row_ids = rows.column("_row_id")
    if row_ids.null_count:
        return Segment(None)
    return Segment(rows, row_ids.to_numpy(), vectors)


def _decoded_bytes(schema: TableSchema, meta: dict) -> int:
    """Estimated decoded size of the manifest's live rows: a dense
    vector takes ``4 × dim`` bytes plus its list offset per row, every
    other column (and ``_row_id``) 8 — or the segments' parquet bytes
    when larger, which is where long strings show."""
    width = 8 + sum(
        4 * f.dimension + 4 if f.field_type.is_dense_vector else 8
        for f in schema.fields
    )
    on_disk = sum(meta.get("segment_bytes", {}).get(n, 0) for n in meta["files"])
    return max(meta["row_count"] * width, on_disk)


def _snapshot(table) -> list[Segment] | None:
    """The live segments of ``table``'s current manifest, decoded, or
    None when the tier does not serve it."""
    if table.partition_by or any(
        f.field_type.is_sparse_vector for f in table.schema.fields
    ):
        return None
    meta = table._load_meta()
    if (
        meta.get("row_count") is None
        or _decoded_bytes(table.schema, meta) > CACHE.max_bytes
    ):
        return None
    root = os.path.realpath(table.path)
    keys = []
    try:
        for name in meta["files"]:
            names = os.listdir(os.path.join(root, name))
            keys.append(
                (root, name, tuple(sorted(n for n in names if not n.startswith(("_", ".")))))
            )
        CACHE.retain(root, set(keys))
        segs = []
        for key in keys:
            seg = CACHE.get(key)
            if seg is None:
                seg = CACHE.put(
                    key, _read_segment(os.path.join(root, key[1]), key[2], table.schema)
                )
            if seg.rows is None:
                return None
            segs.append(seg)
    except FileNotFoundError:
        # a segment vacuumed after the manifest was read: Spark reports it
        return None
    return segs


def fold_distances(metric: str, vectors: np.ndarray, q: np.ndarray) -> np.ndarray:
    """Dense distances of ``vectors`` (rows × dim, float32) to ``q``
    (float64): the left fold ``functions/distance.py`` compiles,
    element by element in double, column 0 first, from +0.0."""
    out = np.empty(len(vectors))
    for s in range(0, len(vectors), _FOLD_BLOCK):
        terms = vectors[s : s + _FOLD_BLOCK].T.astype(np.float64)
        if metric == "EUCLIDEAN":
            terms -= q[:, None]
            terms *= terms
        else:
            terms *= q[:, None]
        acc = out[s : s + _FOLD_BLOCK]
        acc[:] = 0.0
        for term in terms:
            acc += term
    if metric == "EUCLIDEAN":
        return out
    if metric == "DOT_PRODUCT":
        return -out
    return 1.0 - out


def _mask(ast, rows: pa.Table) -> np.ndarray:
    return pc.fill_null(to_arrow(ast, rows), False).to_numpy(zero_copy_only=False)


def _gather(schema: pa.Schema, segs: list[Segment], seg: np.ndarray, idx: np.ndarray) -> pa.Table:
    """Row ``idx[i]`` of segment ``seg[i]``, for every i, in order."""
    parts, where = [], []
    for k in np.unique(seg):
        at = np.flatnonzero(seg == k)
        parts.append(segs[k].rows.take(idx[at]))
        where.append(at)
    if not parts:
        return schema.empty_table()
    return pa.concat_tables(parts).take(np.argsort(np.concatenate(where)))


def _concat(picks: list[tuple], dtypes: tuple) -> list[np.ndarray]:
    if not picks:
        return [np.empty(0, dtype=t) for t in dtypes]
    return [np.concatenate(c) for c in zip(*picks)]


def query(table, field, q: list[float], ast, limit: int) -> pa.Table | None:
    """The top ``limit`` rows of a dense knn over ``field`` by
    ``(distance, _row_id)``, with their distances in ``_distance``;
    ``ast`` filters before scoring, or after it when it reads
    ``@distance``. None: answer through Spark."""
    if not isinstance(limit, int) or limit < 0:
        return None
    segs = _snapshot(table)
    if segs is None:
        return None
    post = references_distance(ast)
    qv = np.asarray(q, dtype=np.float64)
    picks = []
    try:
        for k, s in enumerate(segs):
            vectors = s.vectors[field.name]
            idx = np.arange(s.rows.num_rows)
            if ast is not None and not post:
                idx = np.flatnonzero(_mask(ast, s.rows))
                vectors = vectors[idx]
            d = fold_distances(field.metric, vectors, qv)
            if post:
                keep = _mask(ast, s.rows.append_column(DISTANCE_COL, pa.array(d)))
                idx, d = idx[keep], d[keep]
            picks.append((d, s.row_ids[idx], np.full(len(idx), k), idx))
    except ArrowUnsupported:
        return None
    d, rid, seg, idx = _concat(picks, (np.float64, np.int64, np.int64, np.int64))
    order = np.lexsort((rid, d))[:limit]
    rows = _gather(_arrow_schema(table.schema), segs, seg[order], idx[order])
    return rows.append_column(DISTANCE_COL, pa.array(d[order], pa.float64()))


def _pk_value_set(pk, keys: list) -> pa.Array | None:
    """The PK list as an Arrow value set Spark's ``isin`` would match
    identically, or None (mixed or out-of-range types go to Spark)."""
    if pk.field_type.is_int and all(
        isinstance(k, int) and not isinstance(k, bool) and -(2**63) <= k < 2**63
        for k in keys
    ):
        return pa.array(keys, pa.int64())
    if pk.field_type.is_string and all(isinstance(k, str) for k in keys):
        return pa.array(keys, pa.string())
    return None


def get(table, ast, primary_keys: list | None, skip: int, limit: int) -> pa.Table | None:
    """Rows passing ``ast`` (and in ``primary_keys``, when given) in
    ``_row_id`` order, ``skip`` rows skipped, at most ``limit`` kept.
    None: answer through Spark."""
    if (
        not all(isinstance(v, int) and v >= 0 for v in (skip, limit))
        or references_distance(ast)
    ):
        return None
    keys = None
    if primary_keys:
        pk = table.schema.primary_key
        keys = _pk_value_set(pk, primary_keys)
        if keys is None:
            return None
    segs = _snapshot(table)
    if segs is None:
        return None
    picks = []
    try:
        for k, s in enumerate(segs):
            keep = np.ones(s.rows.num_rows, dtype=bool)
            if ast is not None:
                keep &= _mask(ast, s.rows)
            if keys is not None:
                col = pc.cast(s.rows.column(pk.name), keys.type)
                keep &= pc.is_in(col, value_set=keys).to_numpy(zero_copy_only=False)
            idx = np.flatnonzero(keep)
            picks.append((s.row_ids[idx], np.full(len(idx), k), idx))
    except ArrowUnsupported:
        return None
    rid, seg, idx = _concat(picks, (np.int64, np.int64, np.int64))
    order = np.argsort(rid, kind="stable")[skip : skip + limit]
    return _gather(_arrow_schema(table.schema), segs, seg[order], idx[order])
