"""The segmented-index lifecycle shared by every persisted index family
(IVF vector, inverted text, sparse postings) — the Lucene segment-commit
discipline with the table manifest as the segments file.

An index over one field is a manifest entry plus immutable parquet dirs:
a versioned main dir written by a full (re)build and zero or more delta
dirs, each written by a refresh over the rows inserted since the last
build/refresh. The entry records the dirs, the ``_row_id`` watermark
below which every row is indexed (``indexed_up_to``) and the table's
``mutation_seq`` at build time. Readers union the main and delta dirs
(each pruned on its own partition column), drop dead ids with a semi-join
only when a delete/upsert has committed since the build, and merge the
segment-pruned unindexed tail. Index work is paid a little at a time as
the tail grows (the Progressive Indexes pattern); a rebuild writes the
next version and leaves the old dirs for ``vacuum``.

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

from vectordb_spark.schema import VectorDBError


@dataclass(frozen=True)
class IndexFamily:
    key: str  # manifest key: {field: entry}
    prefix: str  # versioned main dir: <prefix><field>_v<version>
    missing: str  # refresh/search error when the field has no entry
    # per-dir sidecar written next to the main and each delta dir
    sidecar: str | None = None


IVF = IndexFamily(
    "indexes", "index_", "No index on field {}; call rebuild first."
)
TEXT = IndexFamily(
    "text_indexes",
    "textindex_",
    "No text index on field {}; call rebuild_text_index first.",
)
SPARSE = IndexFamily(
    "sparse_indexes",
    "sparseindex_",
    "No sparse index on field {}; call rebuild_sparse_index first.",
    sidecar="_norms",
)
FAMILIES = (IVF, TEXT, SPARSE)
DIR_PREFIXES = tuple(f.prefix for f in FAMILIES)

# writer(rows, dir name, entry) -> record count; it writes one dir via
# SegmentedIndex.save/save_bucketed and folds its statistics into the
# entry. None means "every row id below the watermark" (the IVF reply).
Writer = Callable[[DataFrame, str, dict], "int | None"]


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

    def save(self, df: DataFrame, name: str, partition_by: str | None = None) -> None:
        """The one write mode for every index dir. Overwrite, so a
        build or refresh that lost its commit (CONCURRENT_WRITE) can be
        retried: its orphan dir is referenced by no manifest and the
        retry reuses the name."""
        writer = df.write.mode("overwrite")
        if partition_by:
            writer = writer.partitionBy(partition_by)
        writer.parquet(self.path(name))

    def save_bucketed(self, postings: DataFrame, bucket: str, name: str) -> None:
        """Bucket-partitioned postings write (text and sparse). The
        shuffle key is (bucket, row-hash): plain ``bucket`` would funnel
        each bucket — and with zipfian tokens/dims the hot bucket holds a
        large corpus fraction — through ONE writer task. The salt splits
        every bucket across 4 writers (4 files per bucket dir) while
        partitionBy still lays out one directory per bucket for
        file-listing pruning."""
        self.save(
            postings.repartition(
                F.col(bucket), F.pmod(F.xxhash64("_row_id"), F.lit(4))
            ),
            name,
            partition_by=bucket,
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
            n = write(t._df_for_files(meta["files"]), name, info)
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
        prune: Callable[[DataFrame], DataFrame] | None = None,
        *,
        sidecar: bool = False,
    ) -> DataFrame:
        """Main dir + deltas (or their sidecars): each is its own
        partitioned root, read with ``prune`` applied per dir (so
        partition filters prune every dir independently), then unioned —
        the Lucene multi-segment read."""
        if sidecar:
            names = [info["norms_dir"], *info.get("norms_deltas", [])]
        else:
            names = [info["dir"], *info.get("deltas", [])]
        spark = self.table.spark
        return reduce(
            DataFrame.unionByName,
            [
                (prune or (lambda d: d))(spark.read.parquet(self.path(n)))
                for n in names
            ],
        )

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
        return self.table._df_for_files(keep).where(F.col("_row_id") >= up_to)
