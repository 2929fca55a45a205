"""Driver-resident serving tier for the REST routes.

``Table.query`` (knn, filtered knn) and ``Table.get`` answer from
in-memory Arrow copies of the live segments instead of building a
Spark plan over parquet — the reference's in-memory segment with a
brute-force scan (SURVEY.md §1.1). At serving sizes a Spark request
costs hundreds of milliseconds of planning and job scheduling, while
the scan itself takes a few. The row-path writes — ``Table.insert``
(with its point upsert) and ``Table.delete`` — commit from the same
copies: the reference's insert appends to the in-memory segment
(table_segment_mvp.cpp:455-814). Everything else — ``insert_df``,
``search_df``, ``scan_df``, the indexes, compaction and every
DataFrame surface — stays on Spark.

One eligibility rule, ``servable``, decides for reads and writes
alike: an unpartitioned table without sparse vector fields, within
``CACHE_BYTES``, whose segments hold the declared types
(``_snapshot``). A write on such a table checks PK conflicts against
the range-pruned candidates' cached key columns, writes each new
segment as one zstd parquet file with ``pyarrow`` (``write_segment``),
records the same manifest stats Spark's write would, commits through
the unchanged ``Table._commit``, and then seeds the cache with what it
wrote (``seed``), so the next request decodes nothing. A delete writes
no segment: it matches the live rows of the candidates' cached columns
(``rows_matching``), commits their ``_row_id``s as tombstone files
through the same ``Table._tombstone`` the Spark delete uses, and seeds
the new dead-row masks, so the decoded segments (and their norms) stay
cached across it. A delete filter or key list the pyarrow target cannot
match exactly sends the whole mutation to Spark before anything is
written. The stored rows are the
Spark path's to the bit: FLOAT values round to float32 as Spark's cast
does, and COSINE vectors are normalized with ``l2_normalize``'s fold.

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

A knn does not fold every row. Each decoded segment keeps, per dense
field, float64 upper bounds ν ≥ ‖x‖ of its rows (``_norms``; 8 bytes a
row, counted in ``Segment.nbytes``), or None when the field holds a
non-finite element. A query first runs one float32 matvec
``X @ float32(q)`` and turns it into approximate distances with a
rigorous per-row error bound that covers any summation order (FMA
included), the rounding of q to float32, float32 and double underflow
(gradual, as IEEE 754 specifies), the fold's own rounding and the
bound's double arithmetic (``_candidates``). Only the rows whose lower
bound is at most the ``limit``-th smallest upper bound can rank, and
only they go through the fold — so every reported distance is still
the fold's, and the ranking is the full fold's to the bit. The full fold runs instead when
``limit`` ≥ the rows in the segment (or in its filtered rows), when
those rows number at most ``_PREFILTER_MIN_ROWS`` (the measured size
below which the prefilter costs more than the fold it saves), when the
filter reads ``@distance`` (it filters after scoring), when the segment
has no norms, and when any approximate distance or bound is not finite
(``float32(q)`` overflows, say).

Rows a tombstone deletes stay in the decoded segment, marked by its
dead-row mask (``Segment.dead``). Reads skip them: ``rows_matching``
starts from the live rows, and a knn gives them +inf upper bounds in
``_candidates`` (so they neither set τ nor stay candidates) and drops
them after a full fold, rather than gathering the live rows of the
matrix first.

A request returns ``None`` — the caller then runs the unchanged Spark
path — for a partitioned table, a table with a sparse vector field, a
table whose segments would decode to more than ``CACHE_BYTES``
(``_decoded_bytes``, which counts every physical row, deleted ones
included), a segment whose columns are not the declared
types or whose vector column holds a NULL, a NULL element or an
off-width row, and any filter or facet the pyarrow target declines.

Cache invalidation: segment dirs are immutable once committed, so an
entry is keyed by the table's real path, the segment dir name and that
dir's data-file names. The file names matter because a dir name alone
can be reused for different rows (``add_1`` after a drop and re-create,
an overwrite retry), while Spark names every part file with a per-write
UUID. A dead-row mask is keyed by the table's real path and its
tombstone file, whose name is new with every delete that touches the
segment. Each request lists the live dirs and tombstone files of the
manifest it just read and drops the table's entries for those no longer
in it; ``CACHE_BYTES`` caps the cache (least recently used first out).
"""

from __future__ import annotations

import dataclasses
import math
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

# Decoded bytes the process keeps across requests. A table whose segments
# would decode to more than this goes to Spark, which streams it,
# instead of being decoded onto the driver for every request.
CACHE_BYTES = 256 << 20
# Rows per block of the distance fold: keeps a block's double-precision
# terms in the CPU cache while the fold walks its columns.
_FOLD_BLOCK = 2048
# A knn folds a segment (or its filtered rows) of at most this many rows
# whole, without the prefilter (``_candidates``): its ~20 numpy calls
# cost more than the fold they save. Measured on clustered 64-d rows,
# limit 10, one thread (numpy 1.26.4, 4-vCPU x86 host; EUCLIDEAN, with
# DOT_PRODUCT within a few µs): 20 rows fold in 32 µs against 59 µs with
# the prefilter, 200 rows in 59 against 74 µs, 250 rows in 65 against
# 64 µs, 400 rows in 88 against 64 µs.
_PREFILTER_MIN_ROWS = 200
# Unit roundoffs of double and float32 arithmetic, and the smallest
# subnormal double (the prefilter's error bound, ``_candidates``).
_U64 = 2.0**-53
_U32 = 2.0**-24
_TINY64 = 2.0**-1074

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
    # dense field -> per-row float64 upper bounds on ‖x‖ (``_norms``),
    # or None when the field's matrix holds a non-finite element
    norms: dict | None = None
    # which rows the manifest's tombstone for the dir deletes (cached
    # apart from the decoded rows, by tombstone file), or None
    dead: np.ndarray | None = None

    @property
    def nbytes(self) -> int:
        if self.rows is None:
            return 0
        norms = sum(n.nbytes for n in self.norms.values() if n is not None)
        return self.rows.nbytes + norms

    def alive(self) -> np.ndarray:
        """A fresh mask of the rows no tombstone deletes."""
        if self.dead is None:
            return np.ones(self.rows.num_rows, dtype=bool)
        return ~self.dead


class SegmentCache:
    """Thread-safe LRU of decoded segments and dead-row masks, bounded
    by their bytes."""

    def __init__(self, max_bytes: int):
        self.max_bytes = max_bytes
        self._lock = threading.Lock()
        self._entries: OrderedDict[tuple, Segment] = OrderedDict()
        self._bytes = 0

    def get(self, key: tuple):
        with self._lock:
            seg = self._entries.get(key)
            if seg is not None:
                self._entries.move_to_end(key)
            return seg

    def put(self, key: tuple, seg):
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
    return _segment(pa.Table.from_arrays(columns, schema=target), schema)


def _segment(rows: pa.Table, schema: TableSchema) -> Segment:
    """The served form of ``rows`` (in ``_arrow_schema`` order): one
    chunk per column, a float32 matrix view per dense field and the
    ``_row_id`` array — or an unservable Segment for a NULL, off-width
    or NULL-element vector or a NULL ``_row_id``."""
    rows = rows.combine_chunks()
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
    norms = {name: _norms(v) for name, v in vectors.items()}
    return Segment(rows, row_ids.to_numpy(), vectors, norms)


def _norms(vectors: np.ndarray) -> np.ndarray | None:
    """Upper bounds ν_i ≥ ‖x_i‖ of the float32 rows, or None when an
    element is not finite. The squares are exact in double and their
    sum (in any order) is within γ_{d-1} of ‖x‖², so the inflation by
    (1 + (d+2)·2⁻⁵³) covers that, the square root's rounding and its
    own."""
    sq = np.empty(len(vectors))
    for s in range(0, len(vectors), _FOLD_BLOCK):
        block = vectors[s : s + _FOLD_BLOCK].astype(np.float64)
        np.einsum("ij,ij->i", block, block, out=sq[s : s + _FOLD_BLOCK])
    if not np.isfinite(sq).all():
        return None
    nu = np.sqrt(sq, out=sq)
    nu *= 1.0 + (vectors.shape[1] + 2) * _U64
    return nu


def _decoded_bytes(schema: TableSchema, meta: dict) -> int:
    """Estimated decoded size of the manifest's segments: per physical
    row (live rows plus the rows tombstones delete, which stay decoded),
    a dense vector takes ``4 × dim`` bytes plus its list offset and its
    cached norm, every other column (and ``_row_id``) 8 — or the
    segments' parquet bytes when larger, which is where long strings
    show."""
    width = 8 + sum(
        4 * f.dimension + 12 if f.field_type.is_dense_vector else 8
        for f in schema.fields
    )
    rows = meta["row_count"] + sum(
        e["rows"] for e in (meta.get("tombstones") or {}).values()
    )
    on_disk = sum(meta.get("segment_bytes", {}).get(n, 0) for n in meta["files"])
    return max(rows * width, on_disk)


def servable(table, meta: dict) -> bool:
    """The tier's one layout rule, shared by the reads and the row-path
    writes: an unpartitioned table without sparse vector fields whose
    manifest counts its rows and whose live rows decode to at most
    ``CACHE_BYTES``. (Its segments must also hold the declared types,
    which only reading them shows: ``_snapshot``.)"""
    return (
        not table.partition_by
        and not any(f.field_type.is_sparse_vector for f in table.schema.fields)
        and meta.get("row_count") is not None
        and _decoded_bytes(table.schema, meta) <= CACHE.max_bytes
    )


def _snapshot(table, meta: dict | None = None) -> dict[str, Segment] | None:
    """The live segments of ``meta`` (default: ``table``'s current
    manifest), decoded, by dir name, each with the dead-row mask of its
    tombstone — or None when the tier does not serve the table."""
    if meta is None:
        meta = table._load_meta()
    if not servable(table, meta):
        return None
    root = os.path.realpath(table.path)
    tombs = {f: (root, e["file"]) for f, e in (meta.get("tombstones") or {}).items()}
    keys = []
    try:
        for name in meta["files"]:
            names = os.listdir(os.path.join(root, name))
            keys.append(
                (root, name, tuple(sorted(n for n in names if not n.startswith(("_", ".")))))
            )
        CACHE.retain(root, set(keys) | set(tombs.values()))
        segs = {}
        for key in keys:
            seg = CACHE.get(key)
            if seg is None:
                seg = CACHE.put(
                    key, _read_segment(os.path.join(root, key[1]), key[2], table.schema)
                )
            if seg.rows is None:
                return None
            tomb = tombs.get(key[1])
            if tomb is not None:
                dead = CACHE.get(tomb)
                if dead is None:
                    ids = np.load(os.path.join(*tomb))
                    dead = CACHE.put(tomb, np.isin(seg.row_ids, ids))
                seg = dataclasses.replace(seg, dead=dead)
            segs[key[1]] = seg
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


def _norm_bound(v: np.ndarray) -> float:
    """An upper bound on ‖v‖ for a float64 vector: room for the rounding
    of its sum of squares and for squares that underflow."""
    d = len(v)
    return math.sqrt(float(v @ v) + d * _TINY64) * (1.0 + (d + 4) * 2.0 * _U64)


def _candidates(
    metric: str, vectors: np.ndarray, norms: np.ndarray | None, q: np.ndarray,
    idx: np.ndarray, limit: int, dead: np.ndarray | None = None,
) -> np.ndarray:
    """The rows of ``idx`` (positions in ``vectors``) whose folded
    distance can rank among the ``limit`` smallest of ``idx``'s live
    rows: all of ``idx`` when there is no certified bound to prune with.
    ``dead`` (aligned with ``idx``) marks deleted rows; they get +inf
    upper bounds, so they neither set τ nor stay candidates, and
    ``idx`` is never gathered down to the live rows first.

    One float32 matvec ``c = X @ float32(q)`` gives approximate distances
    ``a`` (EUCLIDEAN ν² − 2c + ‖q‖², DOT_PRODUCT −c, COSINE 1 − c) and
    ``e`` bounds ``|a − fold_distances|`` for each row, whatever the
    matvec's summation order (FMA included):

    - ``c`` against x·q: γ_d(2⁻²⁴)·ν·Q for the matvec, (2⁻²⁴·Q + d·2⁻¹⁵⁰)·ν
      for rounding q to float32 (subnormal float32 included) and d·2⁻¹⁴⁸
      for float32 underflow, where Q bounds both ‖q‖ and ‖float32(q)‖;
      EUCLIDEAN counts it twice;
    - the fold's own rounding, the double arithmetic of ``a`` (and ν² over
      ‖x‖²), and of ``a ± e``: 8·γ_{d+4}(2⁻⁵³)·(ν+Q)² for EUCLIDEAN,
      4·γ_{d+4}(2⁻⁵³)·νQ for DOT_PRODUCT and 4·γ_{d+4}(2⁻⁵³)·(νQ+1) for
      COSINE, plus 4d·2⁻¹⁰⁷⁴ for subnormal doubles.

    τ is the ``limit``-th smallest ``a + e``; a row with ``a − e > τ`` has
    ``limit`` rows strictly nearer, so it cannot rank. Ties at τ stay."""
    if norms is None or limit >= len(idx):
        return idx
    if limit == 0:
        return idx[:0]
    d = vectors.shape[1]
    x, nu = (vectors, norms) if len(idx) == len(vectors) else (vectors[idx], norms[idx])
    with np.errstate(all="ignore"):
        q32 = q.astype(np.float32)
        # numpy's own kernel: at 20k-150k × 64 it measured faster than
        # BLAS sgemv, whose worker thread also raised a serving
        # process's peak RSS by ~20 MB
        c = np.einsum("ij,j->i", x, q32).astype(np.float64)
        bound = max(_norm_bound(q), _norm_bound(q32.astype(np.float64)))
        g32 = d * _U32 / (1.0 - d * _U32)
        g64 = (d + 4) * _U64 / (1.0 - (d + 4) * _U64)
        # every bound term is a polynomial in ν: err = (e2·ν + e1)·ν + e0
        e1 = (g32 + _U32) * bound + d * 2.0**-150
        e0 = d * 2.0**-148 + 4 * d * _TINY64
        if metric == "EUCLIDEAN":
            a = nu * nu
            a -= 2.0 * c
            a += float(q @ q)
            e2, e1, e0 = 8.0 * g64, 2.0 * e1 + 16.0 * g64 * bound, 2.0 * e0 + 8.0 * g64 * bound**2
        elif metric == "DOT_PRODUCT":
            a = np.negative(c, out=c)
            e2, e1 = 0.0, e1 + 4.0 * g64 * bound
        else:
            a = np.subtract(1.0, c, out=c)
            e2, e1, e0 = 0.0, e1 + 4.0 * g64 * bound, e0 + 4.0 * g64
        err = nu * e2
        err += e1
        err *= nu
        err += e0
        hi = a + err
        lo = np.subtract(a, err, out=err)
    if not (np.isfinite(hi).all() and np.isfinite(lo).all()):
        return idx
    if dead is not None:
        hi[dead] = np.inf
    tau = np.partition(hi, limit - 1)[limit - 1]
    keep = lo <= tau
    if dead is not None:
        keep &= ~dead
    return idx[keep]


def _mask(ast, rows: pa.Table) -> np.ndarray:
    return pc.fill_null(to_arrow(ast, rows), False).to_numpy(zero_copy_only=False)


def rows_matching(
    seg: Segment, ast, pk: str | None = None, keys: pa.Array | None = None
) -> np.ndarray:
    """Which live rows of ``seg`` pass ``ast`` and, when ``keys`` (a
    ``pk_value_set``) is given, hold a ``pk`` in it: the row predicate
    of ``get``, of a delete and of the row-path writes' key lookups. A
    NULL result does not match."""
    keep = seg.alive()
    if ast is not None:
        keep &= _mask(ast, seg.rows)
    if keys is not None:
        keep &= pk_in(seg.rows, pk, keys)
    return keep


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
    segs = list(segs.values())
    post = references_distance(ast)
    qv = np.asarray(q, dtype=np.float64)
    picks = []
    try:
        for k, s in enumerate(segs):
            vectors = s.vectors[field.name]
            idx = np.arange(s.rows.num_rows)
            # dead rows stay in ``idx`` (no gather of the whole matrix):
            # the prefilter passes none of them, and the fold's
            # fallbacks drop them after folding
            dead = s.dead
            if not post:
                if ast is not None:
                    idx = np.flatnonzero(rows_matching(s, ast))
                    dead = None
                if len(idx) > _PREFILTER_MIN_ROWS:
                    idx = _candidates(
                        field.metric, vectors, s.norms[field.name], qv, idx, limit, dead
                    )
            if len(idx) < len(vectors):
                vectors = vectors[idx]
            d = fold_distances(field.metric, vectors, qv)
            keep = None if dead is None else ~dead[idx]
            if post:
                hit = _mask(ast, s.rows.append_column(DISTANCE_COL, pa.array(d)))
                keep = hit if keep is None else keep & hit
            if keep is not None:
                idx, d = idx[keep], d[keep]
            picks.append((d, s.row_ids[idx], np.full(len(idx), k), idx))
    except ArrowUnsupported:
        return None
    d, rid, seg, idx = _concat(picks, (np.float64, np.int64, np.int64, np.int64))
    order = np.lexsort((rid, d))[:limit]
    rows = _gather(_arrow_schema(table.schema), segs, seg[order], idx[order])
    return rows.append_column(DISTANCE_COL, pa.array(d[order], pa.float64()))


def pk_value_set(pk, keys: list) -> pa.Array | None:
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


def pk_in(rows: pa.Table, pk: str, keys: pa.Array) -> np.ndarray:
    """Which rows' ``pk`` is in ``keys`` (a ``pk_value_set``); a NULL
    key matches nothing."""
    col = pc.cast(rows.column(pk), keys.type)
    return pc.fill_null(pc.is_in(col, value_set=keys), False).to_numpy(zero_copy_only=False)


def get(table, ast, primary_keys: list | None, skip: int, limit: int) -> pa.Table | None:
    """Rows passing ``ast`` (and in ``primary_keys``, when given) in
    ``_row_id`` order, ``skip`` rows skipped, at most ``limit`` kept.
    None: answer through Spark."""
    if (
        not all(isinstance(v, int) and v >= 0 for v in (skip, limit))
        or references_distance(ast)
    ):
        return None
    pk = keys = None
    if primary_keys:
        field = table.schema.primary_key
        keys = pk_value_set(field, primary_keys)
        if keys is None:
            return None
        pk = field.name
    segs = _snapshot(table)
    if segs is None:
        return None
    segs = list(segs.values())
    picks = []
    try:
        for k, s in enumerate(segs):
            idx = np.flatnonzero(rows_matching(s, ast, pk, keys))
            picks.append((s.row_ids[idx], np.full(len(idx), k), idx))
    except ArrowUnsupported:
        return None
    rid, seg, idx = _concat(picks, (np.int64, np.int64, np.int64))
    order = np.argsort(rid, kind="stable")[skip : skip + limit]
    return _gather(_arrow_schema(table.schema), segs, seg[order], idx[order])


# ------------------------------------------------------- row-path writes


def _l2_normalize(vectors: np.ndarray) -> np.ndarray:
    """``functions.distance.l2_normalize`` over float32 rows: the norm
    is the square root of the left fold from +0.0 of the squares in
    double, each element is divided by it in double (and kept as is
    when the norm is 0.0), and the result rounds to float32."""
    x = vectors.astype(np.float64)
    acc = np.zeros(len(x))
    for col in x.T:
        acc += col * col
    norm = np.sqrt(acc)[:, None]
    with np.errstate(all="ignore"):
        out = np.divide(x, norm, out=x.copy(), where=norm != 0.0)
    return out.astype(np.float32)


def arrow_rows(schema: TableSchema, rows: list[tuple]) -> pa.Table | None:
    """``Table.insert``'s validated row tuples (the declared fields, then
    ``_row_id``) as one Arrow table in ``_arrow_schema`` order, holding
    what the Spark path stores: FLOAT values and vector elements rounded
    to float32, COSINE vectors normalized at ingest. None when a value
    does not fit the declared type (a lone surrogate in a string, an
    embedder vector of another width): the Spark path stores those as
    it always has."""
    target = _arrow_schema(schema)
    columns = list(zip(*rows)) if rows else [()] * len(target)
    arrays = []
    try:
        for f, vals, want in zip(schema.fields, columns, target):
            if f.field_type.is_dense_vector:
                with np.errstate(over="ignore"):
                    v = np.array(vals, dtype=np.float64).astype(np.float32)
                v = v.reshape(len(vals), f.dimension)
                if f.metric == "COSINE":
                    v = _l2_normalize(v)
                offsets = np.arange(0, v.size + 1, f.dimension, dtype=np.int32)
                arr = pa.ListArray.from_arrays(
                    pa.array(offsets), pa.array(v.ravel()), type=want.type
                )
            elif f.field_type == FieldType.GEO_POINT:
                arr = pa.StructArray.from_arrays(
                    [pa.array([g[i] for g in vals], pa.float64()) for i in range(2)],
                    fields=list(want.type),
                )
            elif f.field_type == FieldType.FLOAT:
                with np.errstate(over="ignore"):
                    arr = pa.array(np.array(vals, dtype=np.float64).astype(np.float32))
            else:
                arr = pa.array(list(vals), want.type)
            arrays.append(arr)
    except (pa.ArrowException, UnicodeEncodeError, ValueError):
        return None
    arrays.append(pa.array(list(columns[-1]), pa.int64()))  # _row_id
    return pa.Table.from_arrays(arrays, schema=target)


def write_segment(root: str, name: str, rows: pa.Table) -> str:
    """Write ``rows`` as segment dir ``name`` of the table at ``root``:
    one zstd part file (the session's codec) whose name carries a
    per-write UUID, as Spark's part names do, which is returned. The
    file goes into a fresh staging dir that is then renamed into place,
    replacing whatever an earlier failed attempt left under ``name``
    (Spark's overwrite), so a retried write never leaves two part
    files."""
    import shutil
    import uuid

    import pyarrow.parquet as pq

    part = f"part-{uuid.uuid4()}.zstd.parquet"
    # the staging prefix vacuum reclaims after a crash
    stage = os.path.join(root, f"cowstage_{name}_{uuid.uuid4().hex}")
    os.makedirs(stage)
    try:
        # vector elements seldom repeat: a dictionary attempt over them
        # doubles the write time and then falls back anyway
        dictionary = [f.name for f in rows.schema if not pa.types.is_list(f.type)]
        pq.write_table(
            rows, os.path.join(stage, part), compression="zstd", use_dictionary=dictionary
        )
        final = os.path.join(root, name)
        shutil.rmtree(final, ignore_errors=True)
        os.rename(stage, final)
    finally:
        shutil.rmtree(stage, ignore_errors=True)
    return part


def seed(
    table, written: dict[str, tuple[str, pa.Table]] | None = None,
    masks: dict[str, np.ndarray] | None = None,
) -> None:
    """Enter committed segments (dir name -> (part file, rows)) and
    dead-row masks (tombstone file -> mask) into the cache under the
    keys the next ``_snapshot`` looks up, so the request after a write
    does not decode what the write had in hand."""
    root = os.path.realpath(table.path)
    for name, (part, rows) in (written or {}).items():
        CACHE.put((root, name, (part,)), _segment(rows, table.schema))
    for name, dead in (masks or {}).items():
        CACHE.put((root, name), dead)
