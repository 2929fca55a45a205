"""The segmented-index lifecycle shared by every persisted index family
(IVF vector, inverted text, sparse postings) — the Lucene segment-commit
discipline with the table manifest as the segments file.

An index over one field is a manifest entry plus immutable parquet dirs:
a versioned main dir written by a full (re)build and zero or more delta
dirs, each written by a refresh over the rows inserted since the last
build/refresh. The entry records the dirs, the ``_row_id`` watermark
below which every row is indexed (``indexed_up_to``), the table's
``mutation_seq`` at build time and, per dir, the non-empty values of its
partition column (``leaves``: IVF ``_cluster``, text ``_tb``, sparse
``_db``), observed during the write. Readers union the main and delta
dirs, drop dead ids with a semi-join only when a delete/upsert has
committed since the build, and merge the segment-pruned unindexed tail.
Index work is paid a little at a time as the tail grows (the Progressive
Indexes pattern); a rebuild writes the next version and leaves the old
dirs for ``vacuum``.

Reads run no Spark job of their own. Each family declares its postings
schema next to its writer; ``save`` refuses a dir whose columns differ
from it, and ``read`` hands it to Spark, so no parquet footer is
inferred. A search passes the leaves it probes, and ``read`` opens only
those of them the entry records (with ``basePath``, so the partition
column still comes from the path) — the Lucene rule: the commit names
its files and nobody lists a directory. A dir whose entry has no leaf
list, or whose probed leaves would pass Spark's parallel-discovery
threshold, is read whole and pruned by the partition filter.

``SegmentedIndex`` owns all of that; an index family supplies only a
writer (rows → one dir) and a scorer (dirs → candidates), both in
``table.py``. Every build and refresh runs under the table's writer lock
and commits through the manifest compare-and-swap.
"""

from __future__ import annotations

import os
from dataclasses import dataclass
from functools import reduce
from typing import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType

from vectordb_spark.schema import VectorDBError


@dataclass(frozen=True)
class IndexFamily:
    key: str  # manifest key: {field: entry}
    prefix: str  # versioned main dir: <prefix><field>_v<version>
    missing: str  # refresh/search error when the field has no entry
    leaf: str  # integer partition column of every postings dir
    # per-dir sidecar written next to the main and each delta dir
    sidecar: str | None = None


IVF = IndexFamily(
    "indexes", "index_", "No index on field {}; call rebuild first.", "_cluster"
)
TEXT = IndexFamily(
    "text_indexes",
    "textindex_",
    "No text index on field {}; call rebuild_text_index first.",
    "_tb",
)
SPARSE = IndexFamily(
    "sparse_indexes",
    "sparseindex_",
    "No sparse index on field {}; call rebuild_sparse_index first.",
    "_db",
    sidecar="_norms",
)
FAMILIES = (IVF, TEXT, SPARSE)
DIR_PREFIXES = tuple(f.prefix for f in FAMILIES)

# writer(rows, dir name, entry) -> record count; it writes one dir via
# SegmentedIndex.save/save_bucketed and folds its statistics into the
# entry. None means "every row id below the watermark" (the IVF reply).
Writer = Callable[[DataFrame, str, dict], "int | None"]


def column_types(fields) -> list[tuple[str, str]]:
    """(name, type) of each field, nullability aside: what a parquet
    file stores (Spark writes every column nullable)."""
    return [(f.name, f.dataType.simpleString()) for f in fields]


def postings_schema(*columns) -> StructType:
    """A declared postings schema from (name, Spark type) pairs."""
    return StructType([StructField(n, t) for n, t in columns])


def live_dirs(meta: dict) -> set[str]:
    """Every dir a current index entry references, over all families —
    what ``vacuum`` must keep; superseded versions are reclaimable."""
    out: set[str] = set()
    for fam in FAMILIES:
        for info in meta.get(fam.key, {}).values():
            out.add(info["dir"])
            out.update(info.get("deltas", []))
            if fam.sidecar:
                out.add(info["norms_dir"])
                out.update(info.get("norms_deltas", []))
    return out


class SegmentedIndex:
    def __init__(self, table, family: IndexFamily):
        self.table = table
        self.family = family

    # ------------------------------------------------------------ entry

    def entries(self, meta: dict) -> dict:
        return meta.get(self.family.key, {})

    def entry(self, meta: dict, field: str) -> dict | None:
        return self.entries(meta).get(field)

    def missing(self, field: str | None) -> VectorDBError:
        return VectorDBError(
            "NOT_IMPLEMENTED_ERROR",
            self.family.missing.format(field or "<none>"),
        )

    def watermark(self, info: dict) -> int:
        """Row ids below this are indexed (the IVF-PQ fallback sizes its
        refine budget from it)."""
        return int(info["indexed_up_to"])

    # ------------------------------------------------------------ write

    def path(self, name: str) -> str:
        return os.path.join(self.table.path, name)

    def save(
        self,
        df: DataFrame,
        name: str,
        info: dict,
        schema: StructType,
        *,
        partitioned: bool = True,
    ) -> int:
        """The one write mode for every index dir; returns the rows
        written. Overwrite, so a build or refresh that lost its commit
        (CONCURRENT_WRITE) can be retried: its orphan dir is referenced
        by no manifest and the retry reuses the name. ``df`` must hold
        exactly the columns of ``schema``, the family's declared
        postings schema that ``read`` hands to Spark. A partitioned
        dir's non-empty leaf values go into ``info["leaves"][name]``;
        the row count and the leaves are observed during the write job
        itself, so neither costs a read-back."""
        from pyspark.sql import Observation

        leaf = self.family.leaf if partitioned else None
        stored = column_types(f for f in df.schema.fields if f.name != leaf)
        declared = column_types(f for f in schema.fields if f.name != leaf)
        if stored != declared:
            raise VectorDBError(
                "INTERNAL",
                f"index dir {name} would store {stored}, not its declared "
                f"postings schema {declared}",
            )
        obs = Observation()
        metrics = [F.count(F.lit(1)).alias("n")]
        if leaf:
            metrics.append(F.collect_set(leaf).alias("leaves"))
        writer = df.observe(obs, *metrics).write.mode("overwrite")
        if leaf:
            writer = writer.partitionBy(leaf)
        writer.parquet(self.path(name))
        m = obs.get
        if leaf:
            info.setdefault("leaves", {})[name] = sorted(int(v) for v in m["leaves"])
        return int(m["n"])

    def save_bucketed(
        self, postings: DataFrame, name: str, info: dict, schema: StructType
    ) -> int:
        """Bucket-partitioned postings write (text and sparse). The
        shuffle key is (bucket, row-hash): plain ``bucket`` would funnel
        each bucket — and with zipfian tokens/dims the hot bucket holds a
        large corpus fraction — through ONE writer task. The salt splits
        every bucket across 4 writers (4 files per bucket dir) while
        partitionBy still lays out one directory per bucket for
        file-listing pruning."""
        bucket = self.family.leaf
        return self.save(
            postings.repartition(
                F.col(bucket), F.pmod(F.xxhash64("_row_id"), F.lit(4))
            ),
            name,
            info,
            schema,
        )

    def sidecar(self, name: str) -> str:
        return name + self.family.sidecar

    def build(self, field: str, write: Writer, config: dict) -> dict:
        """Full (re)build: ``write`` indexes the current snapshot into
        the next version's main dir; the fresh entry (``config`` plus
        the writer's statistics) commits in one CAS."""
        t = self.table
        with t.writer_lock():
            meta = t._load_meta()
            prev = self.entry(meta, field) or {}
            version = prev.get("version", 0) + 1
            name = f"{self.family.prefix}{field}_v{version}"
            info = dict(config)
            n = write(t._df_for_files(meta["files"], meta), name, info)
            info.update(
                version=version,
                dir=name,
                deltas=[],
                indexed_up_to=meta["next_row_id"],
                mutation_seq=int(meta.get("mutation_seq", 0)),
            )
            if self.family.sidecar:
                info.update(norms_dir=self.sidecar(name), norms_deltas=[])
            meta.setdefault(self.family.key, {})[field] = info
            t._save_meta(meta)
        return {
            "field": field,
            "version": version,
            "indexedRecords": meta["next_row_id"] if n is None else n,
        }

    def refresh(self, field: str, write: Writer) -> dict:
        """Incremental refresh: ``write`` indexes only the unindexed
        tail into a new immutable delta dir beside the main index, and
        the watermark advances in the same CAS commit. Deletes are not
        folded in: dead ids in older dirs stay handled by the
        mutation_seq semi-join until a rebuild resets the baseline
        (= Lucene merge)."""
        t = self.table
        with t.writer_lock():
            meta = t._load_meta()
            info = self.entry(meta, field)
            if info is None:
                raise self.missing(field)
            tail = self.tail(meta, info)
            if tail is None:
                return {
                    "field": field,
                    "version": info["version"],
                    "appendedRecords": 0,
                }
            deltas = list(info.get("deltas", []))
            name = f"{info['dir']}_delta{len(deltas) + 1}"
            n = write(tail, name, info)
            info["deltas"] = deltas + [name]
            if self.family.sidecar:
                info["norms_deltas"] = list(info.get("norms_deltas", [])) + [
                    self.sidecar(name)
                ]
            info["indexed_up_to"] = meta["next_row_id"]
            t._save_meta(meta)
        return {"field": field, "version": info["version"], "appendedRecords": n}

    # ------------------------------------------------------------- read

    def read(
        self,
        info: dict,
        schema: StructType,
        prune: Callable[[DataFrame], DataFrame] | None = None,
        *,
        probe: list[int] | None = None,
        sidecar: bool = False,
    ) -> DataFrame:
        """Main dir + deltas (or their sidecars), each read with the
        family's declared ``schema`` and ``prune`` applied per dir, then
        unioned — the Lucene multi-segment read. With ``probe`` (the
        leaf values a search needs) a dir whose entry records its
        leaves opens only the probed ones it holds, and a dir holding
        none of them is skipped."""
        if sidecar:
            names = [info["norms_dir"], *info.get("norms_deltas", [])]
        else:
            names = [info["dir"], *info.get("deltas", [])]
        spark = self.table.spark
        prune = prune or (lambda d: d)
        leaves = {} if sidecar or probe is None else info.get("leaves", {})
        wanted = {int(v) for v in probe or ()}
        # above this many paths Spark lists them in a parallel job
        max_paths = int(
            spark.conf.get("spark.sql.sources.parallelPartitionDiscovery.threshold")
        )
        parts = []
        for n in names:
            root = self.path(n)
            reader = spark.read.schema(schema)
            paths = [root]
            if n in leaves:
                hit = sorted(wanted.intersection(leaves[n]))
                if not hit:
                    continue
                if len(hit) <= max_paths:
                    reader = reader.option("basePath", root)
                    paths = [
                        os.path.join(root, f"{self.family.leaf}={v}") for v in hit
                    ]
            parts.append(prune(reader.parquet(*paths)))
        if not parts:
            return prune(spark.createDataFrame([], schema))
        return reduce(DataFrame.unionByName, parts)

    def live(
        self, df: DataFrame, info: dict, meta: dict, base: DataFrame
    ) -> DataFrame:
        """Drop ids of rows deleted/upserted since the build. An
        unchanged manifest mutation_seq proves there are none, so the
        semi-join (a full base scan + shuffle per search) is skipped in
        the common no-deletes case."""
        if info.get("mutation_seq") == meta.get("mutation_seq", 0):
            return df
        return df.join(base.select("_row_id"), "_row_id", "left_semi")

    def tail(self, meta: dict, info: dict) -> DataFrame | None:
        """Rows inserted since the watermark (None when there are none),
        with SEGMENT PRUNING from the manifest's ``_row_id`` min/max
        (recorded at write time): segments wholly below the watermark
        never enter the plan, so a refresh or search reads the TAIL, not
        the table. Conservative: missing stats keep the segment, and the
        watermark filter is always applied to the surviving rows. Reads
        the caller's manifest snapshot, so the tail and the rest of its
        plan see the SAME version."""
        from vectordb_spark.expr.prune import segment_overlaps

        up_to = int(info["indexed_up_to"])
        if up_to >= int(meta["next_row_id"]):
            return None
        stats = meta.get("segment_stats") or {}
        bounds = {"_row_id": (float(up_to), None)}
        keep = [f for f in meta["files"] if segment_overlaps(stats.get(f), bounds)]
        return self.table._df_for_files(keep, meta).where(F.col("_row_id") >= up_to)
