"""Manifest-level segment skipping: per-segment integer min/max stats
recorded at write time (parquet footer metadata, no data scan) prune
whole segment dirs driver-side before Spark lists their files."""

from __future__ import annotations

import pytest

from vectordb_spark.schema import FieldSchema, FieldType, TableSchema
from vectordb_spark.table import Table


@pytest.fixture
def ranged(spark, tmp_path):
    """Three appended segments with disjoint id ranges 0-9 / 10-19 / 20-29."""
    schema = TableSchema(
        name="ranged",
        fields=[
            FieldSchema(name="id", field_type=FieldType.INT8, primary_key=True),
            FieldSchema(name="grp", field_type=FieldType.INT4),
            FieldSchema(
                name="vec", field_type=FieldType.VECTOR_FLOAT,
                dimension=2, metric="EUCLIDEAN",
            ),
        ],
    )
    t = Table(spark, schema, str(tmp_path / "ranged"))
    t._init_storage()
    for base in (0, 10, 20):
        t.insert(
            [
                {"id": base + i, "grp": base // 10, "vec": [float(i), 0.0]}
                for i in range(10)
            ]
        )
    return t


def _seg_files(t, df):
    segs = set()
    for f in df.inputFiles():
        rel = f.split(t.path, 1)[1].lstrip("/")
        segs.add(rel.split("/", 1)[0])
    return segs


def test_stats_recorded_per_segment(ranged):
    meta = ranged._load_meta()
    stats = meta["segment_stats"]
    assert set(stats) == set(meta["files"])
    los = sorted(st["id"][0] for st in stats.values())
    his = sorted(st["id"][1] for st in stats.values())
    assert los == [0, 10, 20] and his == [9, 19, 29]


def test_range_filter_prunes_segments(ranged):
    df = ranged.scan_df("id >= 25")
    assert len(_seg_files(ranged, df)) == 1
    assert sorted(r["id"] for r in df.collect()) == list(range(25, 30))
    # two-sided range hits only the middle segment
    df2 = ranged.scan_df("id >= 12 AND id < 18")
    assert len(_seg_files(ranged, df2)) == 1
    assert sorted(r["id"] for r in df2.collect()) == list(range(12, 18))


def test_unextractable_filter_scans_everything(ranged):
    # OR is not range-extractable → no pruning, still correct
    df = ranged.scan_df("id < 2 OR id >= 28")
    assert len(_seg_files(ranged, df)) == 3
    assert sorted(r["id"] for r in df.collect()) == [0, 1, 28, 29]
    # mixed conjunct: the extractable half still prunes
    df2 = ranged.scan_df("id >= 20 AND grp * 10 >= 0")
    assert len(_seg_files(ranged, df2)) == 1


def test_pk_point_lookup_prunes(ranged):
    out = ranged.get(primary_keys=[27, 29])
    assert [r["id"] for r in out["result"]] == [27, 29]
    df = ranged.scan_df(extra_bounds={"id": (27, 29)})
    assert len(_seg_files(ranged, df)) == 1


def test_legacy_manifest_without_stats_scans_all(ranged):
    meta = ranged._load_meta()
    meta.pop("segment_stats")
    ranged._save_meta(meta)
    df = ranged.scan_df("id >= 25")
    assert len(_seg_files(ranged, df)) == 3  # no stats → no pruning
    assert sorted(r["id"] for r in df.collect()) == list(range(25, 30))


def test_compact_then_prune_still_correct(ranged):
    ranged.compact()
    meta = ranged._load_meta()
    assert set(meta["segment_stats"]) >= set(meta["files"])
    df = ranged.scan_df("id >= 25")
    assert sorted(r["id"] for r in df.collect()) == list(range(25, 30))


def test_delete_keeps_stats_fresh(ranged):
    """Delete rewrites the base; stale per-segment stats must not
    resurrect pruned-away rows or drop surviving ones."""
    ranged.delete(primary_keys=[25, 26, 27, 28, 29])
    df = ranged.scan_df("id >= 20")
    assert sorted(r["id"] for r in df.collect()) == list(range(20, 25))


def test_pruning_on_partitioned_table(spark, tmp_path):
    """Segment skipping composes with hive partitioning: manifest
    stats prune whole segment dirs, PartitionFilters prune inside the
    survivors."""
    schema = TableSchema(
        name="pranged",
        fields=[
            FieldSchema(name="id", field_type=FieldType.INT8, primary_key=True),
            FieldSchema(name="shard", field_type=FieldType.INT4),
            FieldSchema(
                name="vec", field_type=FieldType.VECTOR_FLOAT,
                dimension=2, metric="EUCLIDEAN",
            ),
        ],
    )
    t = Table(spark, schema, str(tmp_path / "pranged"), partition_by="shard")
    t._init_storage()
    for base in (0, 10):
        t.insert(
            [
                {"id": base + i, "shard": i % 2, "vec": [0.0, 0.0]}
                for i in range(10)
            ]
        )
    meta = t._load_meta()
    assert all("id" in st for st in meta["segment_stats"].values())
    df = t.scan_df("id >= 15")
    assert len(_seg_files(t, df)) == 1
    assert sorted(r["id"] for r in df.collect()) == list(range(15, 20))


def test_refresh_tail_scan_prunes_pre_build_segments(spark, tmp_path):
    """r12: every index refresh derives its tail via the segmented-index
    tail, which prunes segments wholly below the indexed_up_to
    watermark using the manifest's _row_id min/max (recorded at write
    time) — a refresh reads the TAIL, not the table."""
    from vectordb_spark.schema import FieldSchema, FieldType, TableSchema
    from vectordb_spark.table import Table

    schema = TableSchema(
        name="tailprune",
        fields=[
            FieldSchema(name="id", field_type=FieldType.INT8, primary_key=True),
            FieldSchema(name="text", field_type=FieldType.STRING),
            FieldSchema(
                name="v", field_type=FieldType.VECTOR_FLOAT,
                dimension=2, metric="EUCLIDEAN",
            ),
        ],
    )
    t = Table(spark, schema, str(tmp_path / "tailprune"))
    t._init_storage()
    for s in range(3):
        t.insert(
            [
                {"id": s * 100 + i, "text": f"w{i} w{i+1}", "v": [0.0, 0.0]}
                for i in range(10)
            ]
        )
    meta = t._load_meta()
    # _row_id ranges recorded per segment
    assert all("_row_id" in meta["segment_stats"][f] for f in meta["files"])
    t.rebuild_text_index("text", buckets=4)
    pre_build = set(meta["files"])
    t.insert([{"id": 900 + i, "text": f"w{i}", "v": [0.0, 0.0]} for i in range(5)])
    meta = t._load_meta()
    tail = t._text.tail(meta, meta["text_indexes"]["text"])
    segs = _seg_files(t, tail)
    assert segs.isdisjoint(pre_build), segs
    assert tail.count() == 5
    # and the refresh built on it stays exact
    assert t.refresh_text_index("text")["appendedRecords"] == 5
