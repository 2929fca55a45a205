"""Product-quantization tests (operators/pq.py) — the reference's
index-agreement discipline (db_server.cpp:1606-1612) applied to PQ:
trained ADC + re-rank must track brute force, and the build must be
deterministic under a fixed seed."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from vectordb_spark.operators import pq as PQ
from vectordb_spark.operators.knn import knn

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def emb(spark):
    df = spark.read.parquet(f"{SF}/embeddings.parquet").cache()
    yield df
    df.unpersist()


@pytest.fixture(scope="module")
def qv(emb):
    return [float(x) for x in emb.where(F.col("vec_id") == 0).head()["embedding"]]


def _recall(approx_ids: set, exact_ids: set) -> float:
    return len(approx_ids & exact_ids) / len(exact_ids)


def test_trained_pq_recall_vs_exact(emb, qv):
    exact = {
        r.vec_id
        for r in knn(emb, "embedding", qv, 10, metric="EUCLIDEAN", id_col="vec_id").collect()
    }
    idx = PQ.PQIndex(seed=42).fit(emb, "embedding")
    got = {r.vec_id for r in idx.search(emb, "embedding", qv, 10, refine=64).collect()}
    # 64-d near-random vectors are PQ's hardest case; with a 64-wide
    # exact re-rank the trained codebook must still recover most of the
    # true top-10 (measured 0.8-1.0 on this data).
    assert _recall(got, exact) >= 0.6


def test_trained_pq_full_refine_is_exact(emb, qv):
    n = emb.count()
    exact = [
        r.vec_id
        for r in knn(emb, "embedding", qv, 10, metric="EUCLIDEAN", id_col="vec_id").collect()
    ]
    idx = PQ.PQIndex(seed=42).fit(emb, "embedding")
    got = [r.vec_id for r in idx.search(emb, "embedding", qv, 10, refine=n).collect()]
    # refine = table size → the re-rank sees every row → exact (the T8
    # brute-force-threshold property, same as IVF full-probe)
    assert got == exact


def test_pq_build_deterministic(emb, qv):
    cb1 = PQ.PQIndex(seed=7).fit(emb, "embedding").codebook
    cb2 = PQ.PQIndex(seed=7).fit(emb, "embedding").codebook
    assert cb1 == cb2


def test_seeded_codebook_shape():
    cb = PQ.seeded_codebook(64)
    assert len(cb) == PQ.M_SUBSPACES
    assert all(len(s) == PQ.K_CENTROIDS for s in cb)
    assert all(len(c) == 64 // PQ.M_SUBSPACES for s in cb for c in s)
    # import-time constant: same seed → same literals in plan + oracle
    assert cb == PQ.seeded_codebook(64)


def test_adc_table_matches_oracle_semantics():
    cb = PQ.seeded_codebook(64)
    q = list(range(-32, 32))
    table = PQ.adc_table(cb, q)
    sub = 64 // PQ.M_SUBSPACES
    # spot-check one entry against the definition
    mi, ki = 3, 5
    qs = q[mi * sub : (mi + 1) * sub]
    want = sum((a - b) * (a - b) for a, b in zip(qs, cb[mi][ki]))
    assert table[mi][ki] == want


def test_ivfpq_recall_and_pruning(emb, qv):
    from vectordb_spark.operators.ann import IVFIndex

    ivf = IVFIndex(k=8, seed=42)
    indexed = ivf.build(emb, "embedding").cache()
    try:
        pq = PQ.PQIndex(seed=42).fit(emb, "embedding")
        exact = {
            r.vec_id
            for r in knn(emb, "embedding", qv, 10, metric="EUCLIDEAN", id_col="vec_id").collect()
        }
        # full probe + full refine → exact (both pruning tiers disabled)
        n = emb.count()
        got_full = [
            r.vec_id
            for r in pq.search_ivfpq(
                ivf, indexed, "embedding", qv, 10, nprobe=8, refine=n
            ).collect()
        ]
        assert set(got_full) == exact
        # probed tier: candidates only from probed clusters, recall is
        # bounded by the coarse quantizer's (random 64-d data — honest
        # floor, same as IVF alone at this nprobe)
        got = {
            r.vec_id
            for r in pq.search_ivfpq(
                ivf, indexed, "embedding", qv, 10, nprobe=6, refine=256
            ).collect()
        }
        ivf_only = {
            r.vec_id
            for r in ivf.search(indexed, "embedding", qv, 10, nprobe=6, id_col="vec_id").collect()
        }
        # PQ under the same probe list cannot beat the probe ceiling;
        # with a generous refine it should match IVF's candidate recall
        assert len(got & exact) >= len(ivf_only & exact) - 2
    finally:
        indexed.unpersist()


def test_stored_codes_path_matches_inline(emb, qv):
    # codes() + search_codes() must equal search() (same codebook, same
    # refine): the stored-code column is a pure precomputation
    idx = PQ.PQIndex(seed=42).fit(emb, "embedding")
    with_codes = idx.codes(emb, "embedding").cache()
    try:
        a = [(r.vec_id, r._distance) for r in idx.search(emb, "embedding", qv, 10, refine=64).collect()]
        b = [(r.vec_id, r._distance) for r in idx.search_codes(with_codes, "embedding", "_pq_codes", qv, 10, refine=64).collect()]
        assert a == b
    finally:
        with_codes.unpersist()


def test_batch_knn_gemm_agrees_with_window_plan(emb, qv):
    # the GEMM partial-top-k scale path must agree with the
    # deterministic window plan (and thus with the per-query exact knn)
    from pyspark.sql import functions as F

    from vectordb_spark.operators.knn import batch_knn, batch_knn_gemm

    qids = [0, 7, 42]
    qrows = emb.where(F.col("vec_id").isin(qids)).select("vec_id", "embedding").collect()
    queries_df = emb.where(F.col("vec_id").isin(qids)).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    a = {
        (r.query_id, r.vec_id)
        for r in batch_knn(emb, "embedding", queries_df, 10, id_col="vec_id").collect()
    }
    qlist = [(r.vec_id, [float(x) for x in r.embedding]) for r in qrows]
    b = {
        (r.query_id, r.vec_id)
        for r in batch_knn_gemm(emb, "embedding", qlist, 10, id_col="vec_id").collect()
    }
    assert a == b


def test_fit_on_tiny_segment_and_custom_id_col(spark):
    # fewer rows than k centroids (tiny segment) must train, not raise;
    # and the sampling order column is a parameter, not hard-coded
    import vectordb_spark.operators.pq as PQ

    rows = [(i, [float(i) / 7.0] * 8) for i in range(5)]
    df = spark.createDataFrame(rows, "doc_id long, embedding array<double>")
    idx = PQ.PQIndex(m=2, k=16, seed=1).fit(df, "embedding", id_col="doc_id")
    got = idx.search(df, "embedding", [0.1] * 8, 3, id_col="doc_id").collect()
    assert [r.doc_id for r in got] == [1, 0, 2]


def test_batch_knn_gemm_id_tiebreak_at_k_boundary(spark):
    # duplicate vectors straddling the per-partition k boundary: the id
    # tie-break must participate in the truncation (lexsort), not only
    # in a post-sort — a distance-only partial top-k can drop the
    # smaller-id duplicate and diverge from knn()'s (distance, id) order
    from vectordb_spark.operators.knn import batch_knn_gemm

    # ids deliberately DESCENDING in insertion order so position order
    # (argsort fallback) disagrees with id order on ties; all vectors
    # equidistant from the query except one closer decoy
    rows = [(int(9 - i), [1.0, 0.0]) for i in range(9)] + [(100, [0.5, 0.0])]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    ).coalesce(1)
    got = [
        (r.vec_id, r._distance)
        for r in batch_knn_gemm(df, "embedding", [(0, [0.0, 0.0])], 5).collect()
    ]
    # decoy first, then the four SMALLEST ids among the nine tied rows
    assert [v for v, _ in got] == [100, 1, 2, 3, 4]


def test_residual_ivfpq_discriminates_inside_tight_blobs(spark):
    """Raw-vector PQ collapses inside a tight cluster — blob members
    quantize to a handful of shared codes, so ADC cannot rank within
    the blob; residual encoding re-centers each cluster at the origin
    and the same codebook budget spreads over the within-cluster
    geometry. Pinned via the MECHANISM (distinct codes per cluster)
    plus recall at an equal refine budget; the 1M-scale numbers live
    in SCALING.md."""
    import numpy as np
    from pyspark.sql import functions as F

    from vectordb_spark.operators.ann import IVFIndex

    n, dim, blobs = 20_000, 32, 8
    rng = np.random.RandomState(3)
    centers = rng.uniform(-0.5, 0.5, size=(blobs, dim))
    cent_sql = ", ".join(
        "array(" + ", ".join(f"CAST({v:.6f} AS FLOAT)" for v in c) + ")"
        for c in centers
    )
    df = (
        spark.range(n)
        .select(
            F.col("id").alias("vec_id"),
            F.expr(
                f"zip_with(element_at(array({cent_sql}), "
                f"CAST(id % {blobs} AS INT) + 1), "
                f"transform(sequence(1, {dim}), j -> "
                "CAST(sin(id * 32 + j) * 0.05 AS FLOAT)), "
                "(c, e) -> CAST(c + e AS FLOAT))"
            ).alias("embedding"),
        )
        .cache()
    )
    df.count()
    ivf = IVFIndex(k=blobs, seed=42)
    indexed = ivf.build(df, "embedding").cache()
    try:
        raw = PQ.PQIndex(seed=42).fit(df, "embedding")
        raw_coded = raw.codes(indexed, "embedding").cache()
        rpq = PQ.ResidualPQIndex(seed=42).fit_residual(ivf, indexed, "embedding")
        res_coded = rpq.codes_residual(indexed, "embedding").cache()

        # mechanism: distinct codes available for ranking within one
        # cluster — raw collapses, residual discriminates
        def distinct_codes(coded):
            return (
                coded.groupBy("_cluster")
                .agg(F.countDistinct("_pq_codes").alias("d"))
                .agg(F.min("d"), F.max("d"))
                .head()
            )
        raw_lo, raw_hi = distinct_codes(raw_coded)
        res_lo, res_hi = distinct_codes(res_coded)
        # raw PQ collapse: a ~2,500-member blob ranks through a few
        # dozen shared codes at most (measured: 16 under the id-order
        # training sample, 27 under the r10 hash-sample default —
        # either way orders of magnitude below residual's spread)
        assert raw_hi <= 32, (raw_lo, raw_hi)
        assert res_lo > raw_hi and res_hi >= 50, (
            (raw_lo, raw_hi), (res_lo, res_hi),
        )

        # consequence: at the same refine budget, residual recall
        # dominates raw recall (deterministic corpus + seeds)
        def recall(fn):
            hit = 0
            for qid in (123, 4567, 19999):
                q = [
                    float(x)
                    for x in df.where(f"vec_id = {qid}").head()["embedding"]
                ]
                exact = {
                    r.vec_id
                    for r in knn(
                        df, "embedding", q, 10,
                        metric="EUCLIDEAN", id_col="vec_id",
                    ).collect()
                }
                hit += len(fn(q) & exact)
            return hit / 30

        raw_recall = recall(
            lambda q: {
                r.vec_id
                for r in raw.search_ivfpq(
                    ivf, raw_coded, "embedding", q, 10, nprobe=2, refine=64
                ).collect()
            }
        )
        res_recall = recall(
            lambda q: {
                r.vec_id
                for r in rpq.search(
                    ivf, res_coded, "embedding", q, 10, nprobe=2, refine=64
                ).collect()
            }
        )
        # at this 20k scale the recall gap is inside the noise floor
        # (the decisive 1M numbers are SCALING.md's job) — pin only
        # no-regression here; the mechanism assert above is the teeth
        assert res_recall >= raw_recall, (raw_recall, res_recall)
        # full refine -> exact within the probed cells: the residual
        # path loses nothing to encoding (rerank is exact)
        full = recall(
            lambda q: {
                r.vec_id
                for r in rpq.search(
                    ivf, res_coded, "embedding", q, 10, nprobe=blobs,
                    refine=n,
                ).collect()
            }
        )
        assert full == 1.0
    finally:
        indexed.unpersist()
        df.unpersist()


def test_residual_search_empty_probe_returns_empty(spark):
    """nprobe=0 / degenerate probe list → empty result with the search
    schema, not a reduce() TypeError (ADVICE r7)."""
    from vectordb_spark.operators.ann import IVFIndex
    from vectordb_spark.operators.pq import ResidualPQIndex

    df = spark.createDataFrame(
        [(i, [float(i), float(-i)] * 2) for i in range(32)],
        "vec_id long, embedding array<float>",
    )
    ivf = IVFIndex(k=2, seed=3)
    assigned = ivf.build(df, "embedding")
    rpq = ResidualPQIndex(m=2, seed=3).fit_residual(
        ivf, assigned, "embedding", id_col="vec_id"
    )
    coded = rpq.codes_residual(assigned, "embedding")
    out = rpq.search(ivf, coded, "embedding", [0.0] * 4, 5, nprobe=0)
    assert out.count() == 0
    assert "_distance" in out.columns


def test_fit_residual_lloyd_deterministic_and_integer(spark):
    """Seeded-Lloyd fine trainer (the table_ivfpq_trained_search
    oracle's Spark twin): deterministic across runs, integer codebook
    on the QMUL grid, codewords move from the seed subvectors, and
    stored codes == argmin of the trained codebook."""
    import numpy as np

    from vectordb_spark.operators.ann import IVFIndex
    from vectordb_spark.operators.pq import ResidualPQIndex

    rng = np.random.default_rng(3)
    rows = [
        (int(i), [float(x) for x in rng.normal(size=8)]) for i in range(150)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    ivf = IVFIndex(k=3, seed=1)
    indexed = ivf.build_lloyd(df, "embedding", rounds=1, id_col="vec_id")

    a = ResidualPQIndex(m=2, k=4).fit_residual_lloyd(
        ivf, indexed, "embedding", rounds=2, id_col="vec_id"
    )
    b = ResidualPQIndex(m=2, k=4).fit_residual_lloyd(
        ivf, indexed, "embedding", rounds=2, id_col="vec_id"
    )
    assert a.codebook == b.codebook  # bit-identical
    assert all(
        isinstance(v, int)
        for mi in a.codebook for cw in mi for v in cw
    )
    # training moved at least one codeword off its seed
    coded = a.codes_residual(indexed, "embedding")
    got = {r["vec_id"]: list(r["_pq_codes"]) for r in coded.collect()}
    assert len({tuple(v) for v in got.values()}) > 1  # codes discriminate


def test_rebuild_ivfpq_lloyd_manifest_roundtrip(spark, tmp_path):
    """rebuild(IVF_PQ, train='lloyd') persists BOTH trained tiers; a
    FRESH Table serves ADC-from-stored-codes with exact re-rank and
    the top hit matches brute force within the probed cells."""
    import numpy as np

    from vectordb_spark.schema import FieldSchema, FieldType, TableSchema
    from vectordb_spark.table import Table

    rng = np.random.default_rng(13)
    schema = TableSchema(
        name="tq",
        fields=[
            FieldSchema(name="vec_id", field_type=FieldType.INT8, primary_key=True),
            FieldSchema(
                name="emb", field_type=FieldType.VECTOR_FLOAT,
                dimension=8, metric="EUCLIDEAN",
            ),
        ],
    )
    t = Table(spark, schema, str(tmp_path / "tq"))
    t._init_storage()
    rows = [
        (int(i), [float(x) for x in rng.normal(size=8)]) for i in range(160)
    ]
    t.insert_df(
        spark.createDataFrame(rows, "vec_id long, emb array<float>")
        .orderBy("vec_id").coalesce(1)
    )
    t.rebuild("emb", index_type="IVF_PQ", k=4, train="lloyd", rounds=2)

    t2 = Table(spark, schema, str(tmp_path / "tq"))
    info = t2._load_meta()["indexes"]["emb"]
    assert info["train"] == "lloyd" and info["type"] == "IVF_PQ"
    assert info["pq_residual"]
    assert len(info["pq_codebook"]) == 8  # m=8 divides dim=8
    # integer codebook (JSON round-trip keeps ints)
    assert all(
        float(v) == int(v)
        for mi in info["pq_codebook"] for cw in mi for v in cw
    )

    q = rows[7][1]
    got = [
        r["vec_id"] for r in t2.search_indexed_df(q, limit=3, nprobe=4).collect()
    ]
    # nprobe=4 of 4 probes everything; full refine budget (64 >= 160/4
    # per cell is not guaranteed, but the query IS a corpus point whose
    # own code distance is 0) — the self-hit must rank first
    assert got[0] == 7


def test_pq_fit_sample_modes(emb):
    """r10 sampling: on a corpus that fits inside train_size the two
    modes are byte-identical (the canonicalized-sample guarantee that
    kept every persisted codebook stable across the default flip);
    bogus modes are rejected."""
    import pytest as _pytest

    a = PQ.PQIndex(seed=5, sample_mode="hash").fit(emb, "embedding").codebook
    b = PQ.PQIndex(seed=5, sample_mode="id_order").fit(emb, "embedding").codebook
    assert a == b
    with _pytest.raises(ValueError):
        PQ.PQIndex(seed=5, sample_mode="bogus").fit(emb, "embedding")


def test_pq_fit_hash_sample_is_order_free(spark):
    """When the corpus EXCEEDS train_size, the hash sample picks the
    same training SET whatever order the corpus arrives in — the
    100 TB property the id-order convention lacked (a time-sorted
    corpus trained only on its oldest rows)."""
    import numpy as np

    rng = np.random.default_rng(9)
    rows = [
        (int(i), [float(x) for x in rng.normal(size=4)]) for i in range(600)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    fwd = PQ.PQIndex(m=2, k=4, seed=3, train_size=128).fit(
        df, "embedding", id_col="vec_id"
    )
    rev = PQ.PQIndex(m=2, k=4, seed=3, train_size=128).fit(
        df.orderBy(F.col("vec_id").desc()), "embedding", id_col="vec_id"
    )
    assert fwd.codebook == rev.codebook
    # id_order on the same reordered corpus trains on a different slice
    old = PQ.PQIndex(
        m=2, k=4, seed=3, train_size=128, sample_mode="id_order"
    ).fit(df, "embedding", id_col="vec_id")
    assert old.codebook != fwd.codebook


def test_fit_residual_lloyd_sampled_subset(spark):
    """Sampled fine-tier training (r10): train_mod/train_keep restrict
    seeds + round aggregates to the prime-mod hash subset; the codebook
    equals fit_residual_lloyd run on exactly that subset, and serving
    (codes_residual) still encodes every row."""
    import numpy as np

    from vectordb_spark.operators.ann import IVFIndex

    rng = np.random.default_rng(31)
    rows = [
        (int(i), [float(x) for x in rng.normal(size=8)]) for i in range(300)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    ivf = IVFIndex(k=2, seed=1)
    indexed = ivf.build_lloyd(df, "embedding", rounds=1, id_col="vec_id")
    mod, keep = 4, 1

    a = PQ.ResidualPQIndex(m=2, k=4, seed=3).fit_residual_lloyd(
        ivf, indexed, "embedding", rounds=2, id_col="vec_id",
        train_mod=mod, train_keep=keep,
    )
    # twin: hand-filter the corpus to the hash subset, train full
    sub = indexed.where(
        F.expr(IVFIndex.train_hash_sql("vec_id")) % mod < keep
    )
    b = PQ.ResidualPQIndex(m=2, k=4, seed=3).fit_residual_lloyd(
        ivf, sub, "embedding", rounds=2, id_col="vec_id"
    )
    assert a.codebook == b.codebook
    # differs from the full-corpus codebook; serving covers all rows
    c = PQ.ResidualPQIndex(m=2, k=4, seed=3).fit_residual_lloyd(
        ivf, indexed, "embedding", rounds=2, id_col="vec_id"
    )
    assert a.codebook != c.codebook
    assert a.codes_residual(indexed, "embedding").count() == len(rows)
    with pytest.raises(ValueError):
        PQ.ResidualPQIndex(m=2, k=4).fit_residual_lloyd(
            ivf, indexed, "embedding", id_col="vec_id", train_mod=4
        )


def test_encode_np_matches_expr_both_dims(spark):
    """r11: the Arrow-batched numpy encode produces the SAME 1-based
    codes as the literal-Column encode — at the narrow table dim AND
    at the wide (960-d class) dim where it is the measured winner —
    and PQIndex.codes(impl=...) routes to both without changing a
    value or the column type."""
    import numpy as np
    from pyspark.sql import functions as F

    rng = np.random.default_rng(41)
    for dim in (64, 320):
        rows = [
            (int(i), [float(x) for x in rng.uniform(-0.5, 0.5, size=dim)])
            for i in range(80)
        ]
        df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
        cb = PQ.seeded_codebook(dim)
        grid_s, _ = PQ.grid_exprs("embedding")
        expr_codes = {
            r["vec_id"]: list(r["c"])
            for r in df.withColumn("_g", F.expr(grid_s))
            .select(
                "vec_id", F.expr(PQ.encode_expr("_g", cb)).alias("c")
            )
            .collect()
        }
        np_df = df.select(
            "vec_id", PQ.encode_np_udf(cb)(F.col("embedding")).alias("c")
        )
        np_codes = {r["vec_id"]: list(r["c"]) for r in np_df.collect()}
        assert np_codes == expr_codes, f"dim={dim}"
        assert dict(np_df.dtypes)["c"] == "array<bigint>"

    # PQIndex.codes: the two impls agree end-to-end (auto picks np at
    # wide dims, expr below 256)
    idx = PQ.PQIndex(seed=11).fit(df, "embedding")
    a = {
        r["vec_id"]: list(r["_pq_codes"])
        for r in idx.codes(df, "embedding", impl="expr").select(
            "vec_id", "_pq_codes"
        ).collect()
    }
    b = {
        r["vec_id"]: list(r["_pq_codes"])
        for r in idx.codes(df, "embedding", impl="np").select(
            "vec_id", "_pq_codes"
        ).collect()
    }
    assert a == b


def test_pq_fit_hash_sample_string_ids_under_ansi(spark):
    """ADVICE r11: hash-mode sampling on STRING ids must not ride
    CAST(id AS BIGINT) — under ANSI (Spark 4 default posture) the cast
    errors, and with ANSI off it yields NULL (dropping every row and
    silently degrading to the id-order fallback). String ids route
    through xxhash64 instead, stay order-free, and survive ANSI."""
    import numpy as np

    rng = np.random.default_rng(21)
    rows = [
        (f"doc-{i:04d}", [float(x) for x in rng.normal(size=4)])
        for i in range(600)
    ]
    df = spark.createDataFrame(rows, "doc_id string, embedding array<float>")
    # the value in effect, so the shared session gets back what it had
    ansi0 = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "true")
    try:
        fwd = PQ.PQIndex(m=2, k=4, seed=3, train_size=128).fit(
            df, "embedding", id_col="doc_id"
        )
        rev = PQ.PQIndex(m=2, k=4, seed=3, train_size=128).fit(
            df.orderBy(F.col("doc_id").desc()), "embedding", id_col="doc_id"
        )
        assert fwd.codebook == rev.codebook
        # and it is NOT the id-order slice — the bias the mode exists
        # to avoid (the pre-fix NULL-hash path collapsed to exactly it)
        old = PQ.PQIndex(
            m=2, k=4, seed=3, train_size=128, sample_mode="id_order"
        ).fit(df, "embedding", id_col="doc_id")
        assert old.codebook != fwd.codebook
    finally:
        spark.conf.set("spark.sql.ansi.enabled", ansi0)
    assert spark.conf.get("spark.sql.ansi.enabled") == ansi0


def test_encode_arrow_map_passthrough_and_nulls(spark):
    """r12 optimization: encode_arrow_map (the mapInArrow encode that
    PQIndex.codes(impl="np") now routes through) must append codes
    bit-identical to encode_expr while passing every other column
    through aligned — the flatten/reshape path would silently
    misalign rows if it mishandled batch slicing — and must refuse
    NULL vectors rather than drop them (flatten() skips null slots)."""
    import numpy as np
    from pyspark.sql import functions as F

    import vectordb_spark.operators.pq as PQ

    dim = 320
    rng = np.random.default_rng(7)
    rows = [
        (int(i), f"lab{i % 3}", [float(x) for x in rng.uniform(-0.5, 0.5, size=dim)])
        for i in range(137)  # non-multiple of any batch size
    ]
    df = spark.createDataFrame(
        rows, "vec_id long, label string, embedding array<float>"
    )
    cb = PQ.seeded_codebook(dim)
    grid_s, _ = PQ.grid_exprs("embedding")
    want = {
        r["vec_id"]: (r["label"], list(r["c"]))
        for r in df.withColumn("_g", F.expr(grid_s))
        .select("vec_id", "label", F.expr(PQ.encode_expr("_g", cb)).alias("c"))
        .collect()
    }
    out = PQ.encode_arrow_map(df, "embedding", cb, "_pq_codes")
    assert out.columns == ["vec_id", "label", "embedding", "_pq_codes"]
    got = {
        r["vec_id"]: (r["label"], list(r["_pq_codes"]))
        for r in out.select("vec_id", "label", "_pq_codes").collect()
    }
    assert got == want

    nulled = df.withColumn(
        "embedding",
        F.when(F.col("vec_id") == 5, F.lit(None)).otherwise(F.col("embedding")),
    )
    import pytest

    # match the wrapped error text precisely (ADVICE r12): a different
    # failure that merely mentions NULLs must not satisfy this test
    with pytest.raises(Exception, match="encode_arrow_map: NULL vectors"):
        PQ.encode_arrow_map(nulled, "embedding", cb).collect()

    # compensating ragged rows: one vector one element short, the next
    # one element long — the batch total is still n*dim, so only the
    # per-row list lengths can catch the misalignment
    ragged = df.withColumn(
        "embedding",
        F.when(F.col("vec_id") == 5, F.slice("embedding", 1, dim - 1))
        .when(
            F.col("vec_id") == 6,
            F.concat("embedding", F.array(F.lit(0.0).cast("float"))),
        )
        .otherwise(F.col("embedding")),
    ).coalesce(1)
    with pytest.raises(Exception, match="ragged or wrong-dimension"):
        PQ.encode_arrow_map(ragged, "embedding", cb).collect()
