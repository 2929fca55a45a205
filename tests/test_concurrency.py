"""Concurrency: threads inserting and querying one table through the
REST server (the reference's engine/test/concurrency/test.py, plus
writer contention the reference doesn't cover). Asserts the manifest
never corrupts and every read is a complete committed snapshot."""

from __future__ import annotations

import json
import threading
import urllib.request

import pytest

from vectordb_spark.server import make_server

DIM = 4
N_WRITERS = 4
INSERTS_PER_WRITER = 4


@pytest.fixture(scope="module")
def base_url(spark, tmp_path_factory):
    srv = make_server(spark, str(tmp_path_factory.mktemp("cwh")), port=0)
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    yield f"http://127.0.0.1:{srv.server_address[1]}"
    srv.shutdown()


def _call(base, method, path, payload=None):
    req = urllib.request.Request(
        base + path,
        data=json.dumps(payload or {}).encode(),
        method=method,
        headers={"Content-Type": "application/json"},
    )
    try:
        with urllib.request.urlopen(req, timeout=120) as r:
            return r.status, json.loads(r.read())
    except urllib.error.HTTPError as e:
        return e.code, json.loads(e.read())


def test_concurrent_insert_query(base_url):
    code, _ = _call(base_url, "POST", "/api/load", {"name": "cdb"})
    assert code == 200
    code, _ = _call(
        base_url,
        "POST",
        "/api/cdb/schema/tables",
        {
            "name": "T",
            "fields": [
                {"name": "ID", "dataType": "INT", "primaryKey": True},
                {"name": "Doc", "dataType": "STRING"},
                {
                    "name": "Embedding",
                    "dataType": "VECTOR_FLOAT",
                    "dimensions": DIM,
                    "metricType": "EUCLIDEAN",
                },
            ],
        },
    )
    assert code == 200

    errors: list[str] = []
    snapshots: list[list[tuple[int, int]]] = []  # per reader: (n_rows, n_distinct)
    stop = threading.Event()

    def writer(w: int):
        for i in range(INSERTS_PER_WRITER):
            pk = w * 100 + i
            code, out = _call(
                base_url,
                "POST",
                "/api/cdb/data/insert",
                {
                    "table": "T",
                    "data": [
                        {
                            "ID": pk,
                            "Doc": f"doc-{pk}",
                            "Embedding": [float(pk), 0.0, 0.0, 0.0],
                        }
                    ],
                },
            )
            if code != 200:
                errors.append(f"insert {pk}: {code} {out}")

    def reader(slot: list[tuple[int, int]]):
        while not stop.is_set():
            code, out = _call(
                base_url, "POST", "/api/cdb/data/get", {"table": "T"}
            )
            if code != 200:
                errors.append(f"get: {code} {out}")
                continue
            ids = [r["ID"] for r in out["result"]]
            slot.append((len(ids), len(set(ids))))
            code, out = _call(
                base_url,
                "POST",
                "/api/cdb/data/query",
                {
                    "table": "T",
                    "queryField": "Embedding",
                    "queryVector": [0.35, 0.55, 0.47, 0.94],
                    "limit": 2,
                },
            )
            if code != 200:
                errors.append(f"query: {code} {out}")

    writers = [threading.Thread(target=writer, args=(w,)) for w in range(N_WRITERS)]
    readers = []
    for _ in range(3):
        slot: list[tuple[int, int]] = []
        snapshots.append(slot)
        readers.append(threading.Thread(target=reader, args=(slot,)))
    for t in readers + writers:
        t.start()
    for t in writers:
        t.join()
    stop.set()
    for t in readers:
        t.join()

    assert errors == []
    total = N_WRITERS * INSERTS_PER_WRITER
    # every snapshot a reader ever saw was complete: no duplicate PKs
    # (a torn manifest would double-count a segment), size within range,
    # and per-reader row counts never went backwards (commits are ordered)
    for slot in snapshots:
        for n, nd in slot:
            assert n == nd, f"duplicate PKs in a read snapshot: {slot}"
            assert 0 <= n <= total
        counts = [n for n, _ in slot]
        assert counts == sorted(counts), f"snapshot went backwards: {counts}"

    code, out = _call(base_url, "GET", "/api/cdb/statistics?table=T")
    assert code == 200 and out["result"] == {"totalRecords": total}
    # every inserted PK is present exactly once
    code, out = _call(base_url, "POST", "/api/cdb/data/get", {"table": "T"})
    ids = sorted(r["ID"] for r in out["result"])
    assert ids == sorted(w * 100 + i for w in range(N_WRITERS)
                         for i in range(INSERTS_PER_WRITER))


def test_concurrent_upsert_same_pk(base_url):
    # two threads hammering the same PK with upserts: the row must end
    # as exactly one of the competing values, never duplicated or torn
    code, _ = _call(base_url, "POST", "/api/load", {"name": "udb"})
    assert code == 200
    code, _ = _call(
        base_url,
        "POST",
        "/api/udb/schema/tables",
        {
            "name": "U",
            "fields": [
                {"name": "ID", "dataType": "INT", "primaryKey": True},
                {"name": "Doc", "dataType": "STRING"},
                {
                    "name": "Embedding",
                    "dataType": "VECTOR_FLOAT",
                    "dimensions": DIM,
                    "metricType": "EUCLIDEAN",
                },
            ],
        },
    )
    assert code == 200

    errors = []

    def upserter(tag: str):
        for i in range(3):
            code, out = _call(
                base_url,
                "POST",
                "/api/udb/data/insert",
                {
                    "table": "U",
                    "upsert": True,
                    "data": [
                        {
                            "ID": 7,
                            "Doc": f"{tag}-{i}",
                            "Embedding": [1.0, 0.0, 0.0, 0.0],
                        }
                    ],
                },
            )
            if code != 200:
                errors.append(f"{tag}-{i}: {code} {out}")

    ts = [threading.Thread(target=upserter, args=(tag,)) for tag in ("a", "b")]
    for t in ts:
        t.start()
    for t in ts:
        t.join()
    assert errors == []
    code, out = _call(
        base_url, "POST", "/api/udb/data/get", {"table": "U", "primaryKeys": [7]}
    )
    assert code == 200
    rows = out["result"]
    assert len(rows) == 1
    assert rows[0]["Doc"] in {f"{t}-{i}" for t in ("a", "b") for i in range(3)}


# ----------------------------------------------- cross-PROCESS writers

def _process_bump_worker(args):
    """Child-process mutation loop: read-modify-write the manifest
    under the table's cross-process writer lock. No SparkSession —
    this exercises exactly the lock + atomic-commit layer that two
    concurrent jobs writing one table share."""
    path, n_iters = args
    import sys
    import time

    sys.path.insert(0, "/root/repo")
    from vectordb_spark.schema import TableSchema, FieldSchema, FieldType
    from vectordb_spark.table import Table

    schema = TableSchema(
        name="locked",
        fields=[
            FieldSchema(name="ID", field_type=FieldType.INT8, primary_key=True),
            FieldSchema(
                name="Emb", field_type=FieldType.VECTOR_FLOAT,
                dimension=2, metric="EUCLIDEAN",
            ),
        ],
    )
    t = Table(None, schema, path)
    for _ in range(n_iters):
        with t.writer_lock():
            meta = t._load_meta()
            time.sleep(0.002)  # widen the load→save window: unlocked
            meta["next_row_id"] += 1  # interleavings WOULD lose updates
            meta["version"] += 1
            t._save_meta(meta)
    return True


def _process_cas_worker(args):
    """Child-process commit loop WITHOUT the writer lock — simulating a
    writer on a DIFFERENT host, where flock (advisory, host-local)
    gives no protection and only the manifest-version CAS inside
    _save_meta stands between the writers. Every worker's first commit
    waits at ``barrier`` until all workers hold the same loaded
    manifest, so the windows overlap however the host schedules them.
    Returns (wins, losses)."""
    path, n_iters, barrier = args
    import random
    import sys
    import time

    sys.path.insert(0, "/root/repo")
    from vectordb_spark.schema import (
        FieldSchema,
        FieldType,
        TableSchema,
        VectorDBError,
    )
    from vectordb_spark.table import Table

    schema = TableSchema(
        name="locked",
        fields=[
            FieldSchema(name="ID", field_type=FieldType.INT8, primary_key=True),
            FieldSchema(
                name="Emb", field_type=FieldType.VECTOR_FLOAT,
                dimension=2, metric="EUCLIDEAN",
            ),
        ],
    )
    t = Table(None, schema, path)
    wins = losses = 0
    for i in range(n_iters):
        base = t._load_meta()
        if i == 0:
            # all workers now hold the same manifest: at most one of
            # their first commits can win
            barrier.wait(timeout=120)
        time.sleep(random.random() * 0.01)  # widen the stale window
        base["version"] += 1
        base["next_row_id"] += 1
        try:
            t._save_meta(base)
            wins += 1
        except VectorDBError as e:
            assert e.code == "CONCURRENT_WRITE"
            losses += 1  # clean loss: retry from a fresh read next loop
    return wins, losses


def test_cross_host_stale_writer_loses_cleanly(tmp_path):
    # Two "hosts" (lock-free processes) race commits on one manifest.
    # The CAS in _save_meta must turn every stale commit into a
    # CONCURRENT_WRITE error instead of a silent lost update: the final
    # version equals exactly the number of wins, and history is intact.
    import multiprocessing as mp

    from vectordb_spark.schema import FieldSchema, FieldType, TableSchema
    from vectordb_spark.table import Table

    schema = TableSchema(
        name="locked",
        fields=[
            FieldSchema(name="ID", field_type=FieldType.INT8, primary_key=True),
            FieldSchema(
                name="Emb", field_type=FieldType.VECTOR_FLOAT,
                dimension=2, metric="EUCLIDEAN",
            ),
        ],
    )
    path = str(tmp_path / "cas")
    t = Table(None, schema, path)
    t._init_storage()

    n_procs, n_iters = 3, 20
    ctx = mp.get_context("spawn")
    with ctx.Manager() as manager, ctx.Pool(n_procs) as pool:
        barrier = manager.Barrier(n_procs)
        results = pool.map(
            _process_cas_worker, [(path, n_iters, barrier)] * n_procs
        )
    wins = sum(w for w, _ in results)
    losses = sum(l for _, l in results)
    assert wins + losses == n_procs * n_iters
    assert losses > 0  # the race actually happened
    meta = t._load_meta()
    # hard-link claims make the seq a true CAS: exactly one winner per
    # commit, so every win is exactly one bump — no lost updates even
    # in the microsecond claim window (unlike check-then-swap)
    assert meta["version"] == wins
    assert meta["next_row_id"] == wins
    assert meta["seq"] == wins + 1  # +1 for _init_storage's commit


def test_stale_commit_aborts_and_preserves_winner(tmp_path):
    # deterministic single-process replay of the cross-host scenario:
    # writer B loads at version 0, writer A commits version 1, B's
    # commit must abort with CONCURRENT_WRITE and leave A's manifest
    from vectordb_spark.schema import (
        FieldSchema,
        FieldType,
        TableSchema,
        VectorDBError,
    )
    from vectordb_spark.table import Table

    schema = TableSchema(
        name="locked",
        fields=[
            FieldSchema(name="ID", field_type=FieldType.INT8, primary_key=True),
            FieldSchema(
                name="Emb", field_type=FieldType.VECTOR_FLOAT,
                dimension=2, metric="EUCLIDEAN",
            ),
        ],
    )
    t = Table(None, schema, str(tmp_path / "st"))
    t._init_storage()
    stale = t._load_meta()  # writer B's view
    fresh = t._load_meta()
    fresh["version"], fresh["files"] = 1, ["add_1"]
    t._save_meta(fresh)  # writer A commits
    stale["version"], stale["files"] = 1, ["add_1b"]
    with pytest.raises(VectorDBError) as exc:
        t._save_meta(stale)
    assert exc.value.code == "CONCURRENT_WRITE"
    assert t._load_meta()["files"] == ["add_1"]  # A's commit survived


def test_cross_process_writer_lock_no_lost_updates(tmp_path):
    # N processes × M read-modify-write cycles on one manifest: with
    # the flock every increment lands (no lost update) and the final
    # manifest is valid JSON; without it the 2ms sleep inside the
    # critical section makes interleaved load→save cycles collide with
    # near-certainty.
    import multiprocessing as mp

    from vectordb_spark.schema import TableSchema, FieldSchema, FieldType
    from vectordb_spark.table import Table

    schema = TableSchema(
        name="locked",
        fields=[
            FieldSchema(name="ID", field_type=FieldType.INT8, primary_key=True),
            FieldSchema(
                name="Emb", field_type=FieldType.VECTOR_FLOAT,
                dimension=2, metric="EUCLIDEAN",
            ),
        ],
    )
    path = str(tmp_path / "locked")
    t = Table(None, schema, path)
    t._init_storage()

    n_procs, n_iters = 4, 25
    ctx = mp.get_context("spawn")  # never fork the JVM-attached parent
    with ctx.Pool(n_procs) as pool:
        results = pool.map(_process_bump_worker, [(path, n_iters)] * n_procs)
    assert all(results)

    meta = t._load_meta()  # valid JSON → manifest never corrupted
    assert meta["next_row_id"] == n_procs * n_iters
    assert meta["version"] == n_procs * n_iters


def test_conflict_leaves_caller_seq_unbumped(tmp_path):
    # a CONCURRENT_WRITE loser's dict must NOT keep a bumped seq: a
    # retry loop that (wrongly) reuses the stale dict would otherwise
    # eventually claim a later seq and clobber the winning commit —
    # the exact lost update the CAS exists to prevent
    from vectordb_spark.schema import (
        FieldSchema,
        FieldType,
        TableSchema,
        VectorDBError,
    )
    from vectordb_spark.table import Table

    schema = TableSchema(
        name="seqt",
        fields=[
            FieldSchema(name="ID", field_type=FieldType.INT8, primary_key=True),
            FieldSchema(
                name="Emb", field_type=FieldType.VECTOR_FLOAT,
                dimension=2, metric="EUCLIDEAN",
            ),
        ],
    )
    t = Table(None, schema, str(tmp_path / "sq"))
    t._init_storage()
    stale = t._load_meta()
    fresh = t._load_meta()
    base_seq = int(stale.get("seq") or 0)
    fresh["version"], fresh["files"] = 1, ["a1"]
    t._save_meta(fresh)
    assert fresh["seq"] == base_seq + 1  # winner's dict advanced
    stale["version"], stale["files"] = 1, ["b1"]
    for _ in range(3):  # a buggy same-dict retry loop stays stuck
        with pytest.raises(VectorDBError):
            t._save_meta(stale)
        assert int(stale.get("seq") or 0) == base_seq  # never advances
    assert t._load_meta()["files"] == ["a1"]


def test_first_commit_crash_rolls_forward_on_reopen(tmp_path, spark):
    # crash between link(2) and the _meta.json replace on the FIRST
    # commit leaves only _meta.s1.json; reopen must treat the table as
    # existing (manifest partition_by wins, no CONCURRENT_WRITE from
    # _init_storage re-creating seq 1)
    import json
    import os

    from vectordb_spark.schema import FieldSchema, FieldType, TableSchema
    from vectordb_spark.table import Table

    schema = TableSchema(
        name="crash1",
        fields=[
            FieldSchema(name="ID", field_type=FieldType.INT8, primary_key=True),
            FieldSchema(name="etype", field_type=FieldType.STRING),
            FieldSchema(
                name="Emb", field_type=FieldType.VECTOR_FLOAT,
                dimension=2, metric="EUCLIDEAN",
            ),
        ],
    )
    path = str(tmp_path / "cr")
    os.makedirs(path)
    # simulate the torn first commit: seq token present, pointer absent
    meta = {
        "version": 0, "files": [], "next_row_id": 0, "row_count": 0,
        "capacity": 100, "index_sources": {}, "partition_by": "etype",
        "seq": 1,
    }
    with open(os.path.join(path, "_meta.s1.json"), "w") as f:
        json.dump(meta, f)

    t = Table(spark, schema, path, partition_by=None)
    assert t.partition_by == "etype"  # manifest won over the constructor
    t._init_storage()  # no CONCURRENT_WRITE: table recognized as existing
    t.insert([{"ID": 1, "etype": "a", "Emb": [0.0, 0.0]}])
    assert t.df().count() == 1


def test_gc_hole_cannot_resurrect_stale_commit(tmp_path):
    # Deterministic replay of the phantom-win race: a stale writer
    # whose claimed seq token was GC'd must NOT link into the hole and
    # count a win the chain never sees (wins = version + 1). Two
    # defenses are pinned here: (a) tokens younger than
    # SEQ_TOKEN_MIN_AGE_S survive GC even beyond the retention count,
    # (b) once a hole DOES exist (tokens aged out), the stale commit
    # aborts with CONCURRENT_WRITE via the tip check instead of
    # resurrecting the seq.
    import os
    import time as _time

    from vectordb_spark.schema import (
        FieldSchema,
        FieldType,
        TableSchema,
        VectorDBError,
    )
    from vectordb_spark.table import Table

    schema = TableSchema(
        name="locked",
        fields=[
            FieldSchema(name="ID", field_type=FieldType.INT8, primary_key=True),
            FieldSchema(
                name="Emb", field_type=FieldType.VECTOR_FLOAT,
                dimension=2, metric="EUCLIDEAN",
            ),
        ],
    )
    path = str(tmp_path / "gc")
    t = Table(None, schema, path)
    t._init_storage()  # seq 1
    stale = t._load_meta()  # stale writer's view: seq 1, targets seq 2

    for v in range(1, 7):  # chain advances to seq 7
        fresh = t._load_meta()
        fresh["version"] = v
        t._save_meta(fresh)

    # (a) recent tokens are never GC'd, whatever the retention count
    tokens = lambda: sorted(  # noqa: E731
        n for n in os.listdir(path)
        if n.startswith("_meta.s") and n.endswith(".json")
    )
    assert len(tokens()) == 7  # GC ran after every commit, deleted none

    # age every token past the GC floor and let the next commit GC
    old = _time.time() - 2 * Table.SEQ_TOKEN_MIN_AGE_S
    for n in tokens():
        os.utime(os.path.join(path, n), (old, old))
    fresh = t._load_meta()
    fresh["version"] = 7
    t._save_meta(fresh)  # seq 8; GC now removes s1..s4
    assert tokens()[0] == "_meta.s5.json"  # the hole at s2 exists

    # (b) the stale writer targeting the GC'd seq 2 must abort cleanly
    stale["version"] = 99
    with pytest.raises(VectorDBError) as exc:
        t._save_meta(stale)
    assert exc.value.code == "CONCURRENT_WRITE"
    final = t._load_meta()
    assert final["version"] == 7 and final["seq"] == 8


def test_index_refresh_waits_for_writer_lock(tmp_path, spark):
    # Every index build/refresh commits under the writer lock, like
    # the row mutations: a refresh on a second handle must WAIT while
    # another writer holds the lock (instead of racing it into a
    # CONCURRENT_WRITE), and finish once the lock is released.
    from vectordb_spark.catalog import Warehouse

    wh = Warehouse(spark, str(tmp_path / "wh"))
    t = wh.load_db("lockdb").create_table(
        {
            "name": "docs",
            "fields": [
                {"name": "ID", "dataType": "INT", "primaryKey": True},
                {"name": "Body", "dataType": "STRING"},
                {"name": "Vec", "dataType": "VECTOR_FLOAT",
                 "dimensions": 2, "metricType": "EUCLIDEAN"},
            ],
        }
    )
    row = lambda i: {"ID": i, "Body": f"w{i % 5} w{i % 3}", "Vec": [0.0, 1.0]}  # noqa: E731
    t.insert([row(i) for i in range(20)])
    t.rebuild_text_index("Body", buckets=4)
    t.insert([row(i) for i in range(20, 25)])
    other = wh.load_db("lockdb").table("docs")
    done = threading.Event()
    out: dict = {}

    def refresh():
        try:
            out["reply"] = other.refresh_text_index("Body")
        except Exception as exc:  # surfaced by the asserts below
            out["error"] = exc
        done.set()

    th = threading.Thread(target=refresh, daemon=True)
    with t.writer_lock():
        th.start()
        # an unlocked refresh finishes in a couple of seconds here
        assert not done.wait(8.0), out
    th.join(timeout=300)
    assert done.is_set()
    assert out.get("reply", out) == {
        "field": "Body", "version": 1, "appendedRecords": 5,
    }
