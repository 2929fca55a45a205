"""Product quantization (PQ) for embedding columns — the code-size tier
below SQ8 (operators/quant.py) in the vector-search storage hierarchy.

A D-dim float32 vector (256 bytes at D=64) becomes M sub-codes of
log2(K) bits each (M=8, K=16 → 4 bytes, a 64× compression); search runs
ADC (asymmetric distance computation): per subspace, the distance from
the query sub-vector to each of the K centroids is precomputed into an
M×K lookup table, and a row's approximate distance is the sum of M
table lookups selected by its codes. Candidates from the ADC ranking
are then re-ranked with the exact float distance — the same
quantized-scan → exact-re-rank shape as SQ8 (the standard IVF-PQ /
Faiss design; the reference itself stores raw float32 + SIMD kernels,
engine/db/index/space_l2.hpp, so PQ is a beyond-reference scale tier).

Determinism strategy (what makes the operator oracle-checkable): all
PQ-side arithmetic is INTEGER. Vectors and centroids are quantized onto
the same fixed grid (``q = floor(x·QMUL + 0.5)``), sub-code assignment
is an integer-L2 argmin with first-occurrence tie-break, and the ADC
table holds exact integer distances — so Spark and DuckDB compute
bit-identical candidate sets, and the float math is confined to the
final exact re-rank (sequential-fold L2, already bit-stable — see
plans/oracle.py). Two codebook sources:

- :func:`seeded_codebook` — data-independent pseudo-random centroids
  (registration-time constant → a full DuckDB oracle, like the LSH
  hyperplanes in operators/ann.py). Approximation quality is poor, but
  correctness of the ENCODE → ADC → RERANK machinery is exactly what
  the gate checks; recall comes from the re-rank candidate width.
- :class:`PQIndex` — real per-subspace Lloyd's k-means on a seeded
  sample (numpy, driver-side on ≤ ``train_size`` rows — an index BUILD
  is a batch job; at 100 TB the sample is still thousands of rows).
  Quality-tested by recall against brute force in tests/test_pq.py,
  mirroring the reference's pre/post-rebuild agreement discipline
  (engine/db/db_server.cpp:1606-1612).
"""

from __future__ import annotations

import random
from collections.abc import Sequence

# Fixed quantization grid: |x| ≤ ~0.6 for unit-ish embeddings → |q| ≤
# ~127. 200.0 is exactly representable in binary, so x*QMUL is one
# deterministic rounding in both engines.
QMUL = 200.0

M_SUBSPACES = 8
K_CENTROIDS = 16


def quantize_query(vec: Sequence[float]) -> list[int]:
    """Driver-side twin of the in-engine grid quantization."""
    import math

    return [int(math.floor(float(x) * QMUL + 0.5)) for x in vec]


def seeded_codebook(
    dim: int, m: int = M_SUBSPACES, k: int = K_CENTROIDS, seed: int = 2024
) -> list[list[list[int]]]:
    """Data-independent integer codebook: ``m`` subspaces × ``k``
    centroids × ``dim/m`` ints in [-100, 100]. Deterministic at import
    time → embeddable as literals in both the Spark plan and the DuckDB
    oracle."""
    rng = random.Random(seed)
    sub = dim // m
    return [
        [[rng.randint(-100, 100) for _ in range(sub)] for _ in range(k)]
        for _ in range(m)
    ]


def adc_table(codebook: list[list[list[int]]], q_ints: Sequence[int]) -> list[list[int]]:
    """M×K integer ADC lookup table: exact int L2 from each query
    sub-vector to each centroid."""
    m = len(codebook)
    sub = len(codebook[0][0])
    table = []
    for mi in range(m):
        qs = q_ints[mi * sub : (mi + 1) * sub]
        table.append(
            [sum((a - b) * (a - b) for a, b in zip(qs, c)) for c in codebook[mi]]
        )
    return table


def _spark_arr(vals: Sequence[int]) -> str:
    return "array(" + ", ".join(f"{v}L" for v in vals) + ")"


def _duck_arr(vals: Sequence[int]) -> str:
    return "[" + ", ".join(str(v) for v in vals) + "]::BIGINT[]"


def grid_exprs(vec_col: str) -> tuple[str, str]:
    """(spark, duck) expression quantizing a float list column onto the
    integer grid."""
    return (
        f"transform({vec_col}, x -> CAST(floor(CAST(x AS DOUBLE) * {QMUL} + 0.5) AS BIGINT))",
        f"list_transform({vec_col}, x -> (floor(CAST(x AS DOUBLE) * {QMUL} + 0.5))::BIGINT)",
    )


def _spark_int_l2(a: str, b: str) -> str:
    return (
        f"aggregate(zip_with({a}, {b}, (x, y) -> (x - y) * (x - y)), "
        f"CAST(0 AS BIGINT), (acc, v) -> acc + v)"
    )


def _duck_int_l2(a: str, b: str) -> str:
    return (
        f"list_reduce(list_transform(list_zip({a}, {b}), "
        f"p -> (p[1] - p[2]) * (p[1] - p[2])), (acc, v) -> acc + v)"
    )


def adc_exprs(
    q_col: str, codebook: list[list[list[int]]], table: list[list[int]]
) -> tuple[str, str]:
    """(spark, duck) expression for the integer ADC approximate distance
    of a grid-quantized vector column ``q_col``.

    Per subspace m: code = first-occurrence argmin over the k centroid
    int-L2 distances (``array_position`` of ``array_min`` — identical
    1-based first-match semantics as DuckDB ``list_position``), then the
    contribution is the code's entry in the query's precomputed ADC
    row. The sum over subspaces is the approximate distance; everything
    is 64-bit integer arithmetic."""
    m = len(codebook)
    sub = len(codebook[0][0])
    spark_terms, duck_terms = [], []
    for mi in range(m):
        s_sub = f"slice({q_col}, {mi * sub + 1}, {sub})"
        d_sub = f"{q_col}[{mi * sub + 1}:{mi * sub + sub}]"
        s_cb = "array(" + ", ".join(_spark_arr(c) for c in codebook[mi]) + ")"
        d_cb = "[" + ", ".join(_duck_arr(c) for c in codebook[mi]) + "]"
        s_dists = f"transform({s_cb}, c -> {_spark_int_l2('c', s_sub)})"
        d_dists = f"list_transform({d_cb}, c -> {_duck_int_l2('c', d_sub)})"
        s_code = f"array_position({s_dists}, array_min({s_dists}))"
        d_code = f"list_position({d_dists}, list_min({d_dists}))"
        spark_terms.append(f"element_at({_spark_arr(table[mi])}, CAST({s_code} AS INT))")
        duck_terms.append(f"({_duck_arr(table[mi])})[{d_code}]")
    return " + ".join(spark_terms), " + ".join(duck_terms)


def encode_expr(q_col: str, codebook: list[list[list[int]]]) -> str:
    """Spark expression producing the M-element code array for a
    grid-quantized vector column — the BUILD-time path: codes are
    computed once and stored (4 bytes/row), queries never touch the
    float column until re-rank."""
    m = len(codebook)
    sub = len(codebook[0][0])
    parts = []
    for mi in range(m):
        s_sub = f"slice({q_col}, {mi * sub + 1}, {sub})"
        s_cb = "array(" + ", ".join(_spark_arr(c) for c in codebook[mi]) + ")"
        s_dists = f"transform({s_cb}, c -> {_spark_int_l2('c', s_sub)})"
        parts.append(f"array_position({s_dists}, array_min({s_dists}))")
    return "array(" + ", ".join(parts) + ")"


def encode_np_udf(codebook: list[list[list[int]]]):
    """Arrow-batched encode: the SAME 1-based first-occurrence-argmin
    codes as :func:`encode_expr` (pinned in tests/test_pq.py), computed
    by one vectorized numpy broadcast per Arrow batch instead of
    interpreted per-row HOF lambdas. Exactness is unchanged — grid
    (floor(x·QMUL + 0.5)) and distances are int64 end-to-end.

    Measured decision (r11, warm, 2000×960-d): literal-Column encode
    5.2 s vs Arrow-numpy 1.9 s — Spark's higher-order functions run
    INTERPRETED (no codegen), so at wide dims the m·k·sub per-row
    lambda work dominates; a broadcast-codebook Column variant was
    also measured and LOST (17.6 s — generic lambdas without even
    constant folding). At 64-d the literal path wins (small per-row
    work, no Arrow hop) — :meth:`PQIndex.codes` auto-picks by dim."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import functions as F
    from pyspark.sql.types import ArrayType, LongType

    CB = np.asarray(codebook, dtype=np.int64)  # (m, k, sub)

    # Distances via the GEMM expansion |s−c|² = |s|² − 2·s·c + |c|²:
    # one BLAS matmul per subspace over (batch, sub)×(sub, k) instead
    # of the naive (batch, m, k, sub) broadcast temp — which at a 10k
    # Arrow batch of 960-d is a 10 GB int64 allocation (measured: the
    # broadcast form turned the 100k GIST build into 71 s of memory
    # thrash; the GEMM form keeps temps at (batch, k)). EXACT despite
    # float64: grid values are integers ≤ ~2^17, so every product
    # (≤ 2^34) and every ≤ sub-term partial sum (< 2^41) is an integer
    # below 2^53 — float64 adds/multiplies of such integers round
    # nothing, and the int64 round-trip is lossless.
    CBf = CB.astype(np.float64)
    c2 = (CB * CB).sum(axis=2)                     # (m, k) int64, exact

    def _encode(v):
        if len(v) == 0:
            return pd.Series([], dtype=object)
        X = np.stack(v.to_numpy()).astype(np.float64)
        codes = _encode_batch_np(X, CB, CBf, c2)
        return pd.Series(list(codes))

    # no pd.Series type hints: this module uses future-annotations
    # (stringified hints), which pyspark cannot resolve against the
    # function's locals — pass the eval type explicitly instead
    _encode.__annotations__ = {"v": pd.Series, "return": pd.Series}
    return F.pandas_udf(_encode, ArrayType(LongType()))


def _encode_batch_np(X, CB, CBf, c2):
    """Vectorized GEMM encode of one (n, dim) float64 batch → (n, m)
    int64 code matrix. Shared by the pandas-UDF and mapInArrow paths;
    bit-identical to :func:`encode_expr` (same argmin over the same
    exact-integer distances — see :func:`encode_np_udf`'s exactness
    note)."""
    import numpy as np

    m, _, sub = CB.shape
    G = np.floor(X * QMUL + 0.5)
    codes = np.empty((len(X), m), dtype=np.int64)
    for mi in range(m):
        S = G[:, mi * sub : (mi + 1) * sub]
        sc = S @ CBf[mi].T
        s2 = (S * S).sum(axis=1)
        d = (
            s2[:, None].astype(np.int64)
            - 2 * sc.astype(np.int64)
            + c2[mi][None, :]
        )
        codes[:, mi] = d.argmin(axis=1) + 1
    return codes


def encode_arrow_map(df, vec_col: str, codebook: list[list[list[int]]],
                     out_col: str = "_pq_codes"):
    """mapInArrow encode: appends ``out_col`` (array<bigint> codes)
    computing the SAME codes as :func:`encode_np_udf` / `encode_expr`,
    but moving vectors across the Python boundary as FLAT Arrow
    buffers instead of the pandas conversion (which materializes one
    numpy object per row and re-stacks them — measured r12 at
    100k×960-d warm: 4.1 s pandas-UDF vs 1.6 s mapInArrow for the
    identical noop-sunk plan, with the synth-only baseline at 1.8 s;
    guide §4.1/§4.2). All of ``df``'s columns pass through the
    boundary, so callers should project to the columns they need
    first — the build-time call sites carry (id, vector) only."""
    import numpy as np
    import pyarrow as pa
    from pyspark.sql import types as T

    CB = np.asarray(codebook, dtype=np.int64)
    m = CB.shape[0]
    CBf = CB.astype(np.float64)
    c2 = (CB * CB).sum(axis=2)
    schema = T.StructType(
        list(df.schema.fields)
        + [T.StructField(out_col, T.ArrayType(T.LongType()), False)]
    )
    names = [f.name for f in df.schema.fields] + [out_col]

    def _enc(batches):
        for b in batches:
            n = b.num_rows
            if n == 0:
                continue
            col = b.column(b.schema.get_field_index(vec_col))
            if col.null_count:
                raise ValueError(
                    f"encode_arrow_map: NULL vectors in {vec_col!r}"
                )
            # flatten() honors slice offsets; vectors are fixed-dim so
            # the flat buffer reshapes to (n, dim) with zero per-row
            # Python objects. dim comes from the codebook, and EVERY
            # row's list length is checked against it: a total-length
            # check alone passes a short vector followed by a long one
            # and misaligns every following row. ``offsets`` of a
            # sliced array are the slice's n+1 absolute offsets, so
            # their differences are the per-row lengths either way.
            dim = CB.shape[0] * CB.shape[2]
            lens = np.diff(col.offsets.to_numpy(zero_copy_only=False))
            if len(lens) != n or (lens != dim).any():
                raise ValueError(
                    f"encode_arrow_map: expected {n}x{dim} elements in "
                    f"{vec_col!r} — ragged or wrong-dimension vectors"
                )
            flat = (
                col.flatten()
                .to_numpy(zero_copy_only=False)
                .astype(np.float64, copy=False)
            )
            X = flat.reshape(n, dim)
            codes = _encode_batch_np(X, CB, CBf, c2)
            offs = pa.array(np.arange(0, (n + 1) * m, m, dtype=np.int32))
            codes_arr = pa.ListArray.from_arrays(
                offs, pa.array(codes.reshape(-1))
            )
            yield pa.RecordBatch.from_arrays(
                list(b.columns) + [codes_arr], names=names
            )

    return df.mapInArrow(_enc, schema)


def adc_from_codes_expr(codes_col: str, table: list[list[int]]) -> str:
    """Spark expression for the ADC distance over a STORED code array:
    M lookups + adds per row, no float math, no per-query encode."""
    return " + ".join(
        f"element_at({_spark_arr(table[mi])}, CAST(element_at({codes_col}, {mi + 1}) AS INT))"
        for mi in range(len(table))
    )


def adc_oracle_expr(
    q_col: str, qq_col: str, codebook: list[list[list[int]]]
) -> str:
    """DuckDB twin of :func:`adc_exprs` with the query's grid vector
    coming from a SQL column (``qq_col``, e.g. a CTE over the vec_id=0
    row) instead of a Python-precomputed table: per subspace, the
    contribution is the query-to-centroid int L2 of the centroid the
    DATA vector assigned to — the same integer ``table[m][code]`` the
    Spark side looks up."""
    m = len(codebook)
    sub = len(codebook[0][0])
    terms = []
    for mi in range(m):
        d_sub = f"{q_col}[{mi * sub + 1}:{mi * sub + sub}]"
        q_sub = f"{qq_col}[{mi * sub + 1}:{mi * sub + sub}]"
        d_cb = "[" + ", ".join(_duck_arr(c) for c in codebook[mi]) + "]"
        dd = f"list_transform({d_cb}, c -> {_duck_int_l2('c', d_sub)})"
        qd = f"list_transform({d_cb}, c -> {_duck_int_l2('c', q_sub)})"
        terms.append(f"({qd})[list_position({dd}, list_min({dd}))]")
    return " + ".join(terms)


class PQIndex:
    """Trained product-quantization index: per-subspace k-means
    codebooks (Lloyd's, seeded, on a driver-side sample), integer-grid
    encoded — the trained twin of :func:`seeded_codebook` with the same
    encode/ADC/re-rank machinery.

    Build is a batch job (like the reference's background graph rebuild,
    engine/db/table_mvp.cpp:94-203): sample → train → persist codes.
    ``codes(df)`` adds the M sub-codes as an array column that a table
    can store next to the embedding (4 bytes/row at M=8,K=16 vs 256 for
    the raw float32s — the column a 100 TB ADC scan actually reads).
    """

    def __init__(
        self,
        m: int = M_SUBSPACES,
        k: int = K_CENTROIDS,
        *,
        seed: int = 42,
        train_size: int = 2048,
        iters: int = 10,
        sample_mode: str = "hash",
    ) -> None:
        self.m, self.k, self.seed = m, k, seed
        self.train_size, self.iters = train_size, iters
        self.sample_mode = sample_mode
        self.codebook: list[list[list[int]]] | None = None

    def fit(self, df, vec_col: str, *, id_col: str = "vec_id") -> "PQIndex":
        """Train per-subspace codebooks on a ``train_size``-row sample.

        ``sample_mode="hash"`` (default) CHOOSES the ``train_size``-row
        subset by smallest seeded prime-mod hash of the id —
        deterministic for a fixed seed but free of corpus ordering, so
        a corpus sorted by time/source/quality (every real 100 TB
        corpus) still trains on a uniform slice rather than its oldest
        shard. The selection is MAP-ONLY (VERDICT r10 "what's wrong"
        #2): a threshold filter ``h(id) < ceil(P·2·train_size/n)``
        keeps ≈2×``train_size`` rows before anything is ordered, so
        the corpus-wide plan never sorts or TakeOrdered-carries the
        vector column — the residual top-``train_size`` cut sorts only
        the ~2·train_size filtered rows, driver-side. (The pre-r11
        form ran ``orderBy(xxhash64).limit`` over the full corpus: a
        per-partition top-N that carried every partition's top 2048
        wide vectors to the driver — the +2.1 s the r10 bench caught
        at 100k×960-d.) The hash is ``build_lloyd``'s overflow-free
        Mersenne-prime scheme (operators/ann.py TRAIN_HASH_* block)
        with the seed folded in additively, normalized to a
        non-negative residue so negative ids sample at the same
        ≈target/n rate as positive ones.
        ``sample_mode="id_order"`` keeps the pre-r10 first-rows-by-id
        convention. Either way the fetched sample is then
        CANONICALIZED to id order before numpy seeding, so the two
        modes are byte-identical whenever the corpus fits inside
        ``train_size`` (every pytest fixture), and the persisted
        codebook in the index manifest is what serving reads — already
        -built indexes are unaffected by the default flip (re-fit
        happens only inside full rebuilds, which version a fresh index
        directory)."""
        import numpy as np
        from pyspark.sql import functions as F

        if self.sample_mode == "hash":
            from vectordb_spark.operators.ann import IVFIndex

            P = IVFIndex.TRAIN_HASH_PRIME
            base = df.select(vec_col, id_col)
            n = base.count()
            if n > self.train_size:
                from pyspark.sql.types import IntegralType

                if isinstance(base.schema[id_col].dataType, IntegralType):
                    h_sql = (
                        f"({IVFIndex.train_hash_sql(f'CAST({id_col} AS BIGINT)')}"
                        f" + {self.seed % P}) % {P}"
                    )
                else:
                    # string/UUID ids: CAST AS BIGINT would yield NULL
                    # (dropping every row; ANSI mode errors instead —
                    # ADVICE r11). xxhash64 is deterministic across
                    # sessions; fold the seed additively and reduce to
                    # the same non-negative prime residue so the
                    # threshold filter stays map-only and uniform.
                    h_sql = (
                        f"pmod(xxhash64(CAST({id_col} AS STRING))"
                        f" + {self.seed % P}, {P})"
                    )
                target = min(n, 2 * self.train_size)
                thresh = -(-P * target // n)  # ceil(P·target/n)
                kept = (
                    base.withColumn("_h", F.expr(h_sql))
                    .where(F.col("_h") < F.lit(thresh))
                    .toPandas()
                )
                if len(kept) < self.train_size:
                    # pathologically clustered ids under-filled the
                    # 2× oversample — correctness fallback to the full
                    # ordered cut (never expected on real id sets)
                    kept = (
                        base.withColumn("_h", F.expr(h_sql))
                        .orderBy(F.col("_h").asc(), F.col(id_col).asc())
                        .limit(self.train_size)
                        .toPandas()
                    )
                sample = (
                    kept.sort_values(["_h", id_col], kind="mergesort")
                    .head(self.train_size)
                    .sort_values(id_col, kind="mergesort")[vec_col]
                )
            else:
                sample = (
                    base.toPandas().sort_values(id_col, kind="mergesort")[vec_col]
                )
        elif self.sample_mode == "id_order":
            sample = (
                df.select(vec_col, id_col)
                .orderBy(F.col(id_col).asc())
                .limit(self.train_size)
                .toPandas()
                .sort_values(id_col, kind="mergesort")[vec_col]
            )
        else:
            raise ValueError(f"unknown sample_mode {self.sample_mode!r}")
        X = np.array([np.asarray(v, dtype=np.float64) for v in sample])
        if len(X) == 0:
            raise ValueError("PQIndex.fit: no training rows")
        Xq = np.floor(X * QMUL + 0.5)  # train in the grid domain
        dim = Xq.shape[1]
        sub = dim // self.m
        rng = np.random.RandomState(self.seed)
        cb = []
        for mi in range(self.m):
            S = Xq[:, mi * sub : (mi + 1) * sub]
            # tiny segments: fewer rows than k would make a
            # no-replacement draw raise — seed with replacement then
            # (duplicate seeds collapse to duplicate centroids, which
            # ADC tolerates: the min over the table is unchanged)
            cent = S[
                rng.choice(len(S), size=self.k, replace=len(S) < self.k)
            ].copy()
            for _ in range(self.iters):
                d2 = ((S[:, None, :] - cent[None, :, :]) ** 2).sum(axis=2)
                assign = d2.argmin(axis=1)
                for ki in range(self.k):
                    mask = assign == ki
                    if mask.any():
                        cent[ki] = S[mask].mean(axis=0)
            cb.append([[int(round(v)) for v in c] for c in cent])
        self.codebook = cb
        return self

    def codes(
        self, df, vec_col: str, *, out_col: str = "_pq_codes",
        impl: str = "auto",
    ):
        """Append the stored-code column (build-time batch job).
        ``impl``: "expr" = literal-Column encode, "np" = Arrow-batched
        numpy encode (same codes bit-for-bit — see
        :func:`encode_np_udf`'s measured decision), "auto" = np at
        wide dims (≥ 256, where interpreted HOF lambdas dominate),
        expr below."""
        from pyspark.sql import functions as F

        assert self.codebook is not None, "fit() first"
        if impl == "auto":
            dim = len(self.codebook) * len(self.codebook[0][0])
            impl = "np" if dim >= 256 else "expr"
        if impl == "np":
            # mapInArrow over the flat vector buffers — same codes as
            # the pandas-UDF path bit-for-bit, ~2.6× faster at wide
            # dims (see encode_arrow_map); all current call sites pass
            # narrow (id, vector[, label]) frames
            return encode_arrow_map(df, vec_col, self.codebook, out_col)
        grid_s, _ = grid_exprs(vec_col)
        return df.withColumn("_pq_grid", F.expr(grid_s)).withColumn(
            out_col, F.expr(encode_expr("_pq_grid", self.codebook))
        ).drop("_pq_grid")

    def search_codes(
        self, df, vec_col: str, codes_col: str, query_vec, k: int, *, refine: int = 64, id_col: str = "vec_id"
    ):
        """ADC over stored codes → exact re-rank: the serving path once
        ``codes()`` ran at build time. The ranking pass reads only the
        4-byte code column; the float column is touched for ≤ refine
        rows."""
        from pyspark.sql import functions as F

        from vectordb_spark.functions.distance import l2_squared, vector_literal

        assert self.codebook is not None, "fit() first"
        table = adc_table(self.codebook, quantize_query(query_vec))
        approx = (
            df.withColumn("_pq_dist", F.expr(adc_from_codes_expr(codes_col, table)))
            .orderBy("_pq_dist", id_col)
            .limit(refine)
        )
        return (
            approx.withColumn(
                "_distance", l2_squared(F.col(vec_col), vector_literal(query_vec))
            )
            .orderBy("_distance", id_col)
            .limit(k)
            .drop("_pq_dist")
        )

    def search_ivfpq(
        self,
        ivf,
        indexed,
        vec_col: str,
        query_vec,
        k: int,
        *,
        nprobe: int = 4,
        refine: int = 64,
        id_col: str = "vec_id",
    ):
        """IVF-PQ composite: coarse quantizer prunes to ``nprobe``
        cluster partitions (at 100 TB: partition pruning on
        ``_cluster``), PQ-ADC ranks only the probed rows, exact re-rank
        finishes — the standard billion-scale ANN layout (coarse +
        fine quantizer). ``ivf`` is a built operators.ann.IVFIndex and
        ``indexed`` its build() output carrying ``_cluster``."""
        from pyspark.sql import functions as F

        clusters = ivf.probe_clusters(query_vec, nprobe)
        probed = indexed.where(F.col("_cluster").isin(clusters))
        if "_pq_codes" in indexed.columns:
            # serving path: rank from the stored 4-byte codes rather
            # than re-encoding the float column per query
            return self.search_codes(
                probed, vec_col, "_pq_codes", query_vec, k,
                refine=refine, id_col=id_col,
            ).drop("_cluster")
        return self.search(
            probed, vec_col, query_vec, k, refine=refine, id_col=id_col
        ).drop("_cluster")

    def search(self, df, vec_col: str, query_vec, k: int, *, refine: int = 64, id_col: str = "vec_id"):
        """ADC scan → exact re-rank, same two-pass TakeOrderedAndProject
        shape as SQ8 (queries/ann.py ann_sq8_rerank)."""
        from pyspark.sql import functions as F

        from vectordb_spark.functions.distance import l2_squared, vector_literal

        assert self.codebook is not None, "fit() first"
        q_ints = quantize_query(query_vec)
        table = adc_table(self.codebook, q_ints)
        grid_s, _ = grid_exprs(vec_col)
        adc_s, _ = adc_exprs("_pq_grid", self.codebook, table)
        approx = (
            df.withColumn("_pq_grid", F.expr(grid_s))
            .withColumn("_pq_dist", F.expr(adc_s))
            .orderBy("_pq_dist", id_col)
            .limit(refine)
        )
        return (
            approx.withColumn(
                "_distance", l2_squared(F.col(vec_col), vector_literal(query_vec))
            )
            .orderBy("_distance", id_col)
            .limit(k)
            .drop("_pq_grid", "_pq_dist")
        )


N_COARSE = 16


def seeded_coarse_centroids(
    dim: int, n: int = N_COARSE, seed: int = 77
) -> list[list[int]]:
    """Data-independent integer coarse centroids for the IVF tier of
    IVFPQ: ``n`` full-dimension int vectors on the same [-100, 100]
    grid as :func:`seeded_codebook`'s sub-centroids. Deterministic at
    import time → embeddable as literals in both engines (the trained
    k-means tier lives in operators/ann.py IVFIndex; this seeded tier
    exists so the full IVF→ADC→rerank cascade is oracle-replayable)."""
    rng = random.Random(seed)
    return [[rng.randint(-100, 100) for _ in range(dim)] for _ in range(n)]


def coarse_cell_exprs(
    q_col: str, centroids: list[list[int]]
) -> tuple[str, str]:
    """(spark, duck) expression assigning a grid-quantized vector
    column to its nearest coarse centroid (1-based cell id, exact
    integer L2, first-occurrence argmin — the same tie rule in both
    engines)."""
    s_cb = "array(" + ", ".join(_spark_arr(c) for c in centroids) + ")"
    d_cb = "[" + ", ".join(_duck_arr(c) for c in centroids) + "]"
    s_dists = f"transform({s_cb}, c -> {_spark_int_l2('c', q_col)})"
    d_dists = f"list_transform({d_cb}, c -> {_duck_int_l2('c', q_col)})"
    return (
        f"array_position({s_dists}, array_min({s_dists}))",
        f"list_position({d_dists}, list_min({d_dists}))",
    )


def coarse_probe_cells(
    q_ints: Sequence[int], centroids: list[list[int]], nprobe: int
) -> list[int]:
    """Driver-side twin: the ``nprobe`` nearest coarse cells to the
    grid-quantized query (1-based ids, ties by lower id) — the literal
    probe list both the Spark plan and the oracle embed."""
    dists = [
        (sum((a - b) * (a - b) for a, b in zip(q_ints, c)), i + 1)
        for i, c in enumerate(centroids)
    ]
    dists.sort()
    return sorted(cell for _, cell in dists[:nprobe])


# ------------------------------------------------ residual (IVF-PQ) tier

# Residual-arithmetic convention tag, persisted in the index manifest.
# "double-v2" = float32 inputs promoted to DOUBLE, one IEEE subtraction
# (the round-9 form below). The earlier unreleased form computed the
# subtraction in FLOAT, which lands some residuals in different integer
# grid cells — codes encoded under the two conventions are NOT
# interchangeable, so refresh_index refuses to append delta codes to a
# base built under a different tag (ADVICE r9: the mismatch is silent
# recall skew, not an error any gate would catch).
RESIDUAL_CONVENTION = "double-v2"


def residual_expr(vec_col: str, centroids: list[list[float]]) -> str:
    """Spark expression for the RESIDUAL of a vector against its
    assigned coarse centroid (``_cluster`` column, 0-based): the form
    every production IVFPQ encodes, because raw-vector PQ collapses
    inside a tight cluster — all members share one code and ADC cannot
    rank within the blob (measured: 1M x 64-blob corpus, 3,125 rows
    tied at the minimum ADC distance, recall@10 = 0 at refine=64).
    Encoding (vec - centroid) re-centers every cluster at the origin,
    so the grid + codebook spend their entire resolution on the
    within-cluster geometry that ranking actually needs.

    Arithmetic is DOUBLE (float32 input promoted exactly, one IEEE
    subtraction): the residual is a transient expression feeding the
    integer grid, so a float32 round-trip would buy nothing and cost
    bit-replayability — the DuckDB twin in queries/ann.py computes the
    same promote-subtract, which is what lets the trained-IVFPQ gate
    hash-match stored codes across engines."""
    cents = "array(" + ", ".join(
        "array(" + ", ".join(f"CAST({float(v)!r} AS DOUBLE)" for v in c) + ")"
        for c in centroids
    ) + ")"
    return (
        f"zip_with({vec_col}, element_at({cents}, CAST(_cluster AS INT) + 1), "
        "(x, c) -> CAST(x AS DOUBLE) - c)"
    )


class ResidualPQIndex(PQIndex):
    """IVF-PQ with residual encoding: fit/encode/search all operate on
    (vec - coarse_centroid[_cluster]). Requires a built
    operators.ann.IVFIndex; stores its centroids so the query side can
    form the per-cluster residual query and its per-cluster ADC table.

    Serving path (search): probe the ``nprobe`` nearest coarse cells;
    for EACH probed cell, rank its rows by ADC against that cell's
    residual query (q - centroid_c) and keep a local top-``refine``;
    union the probed candidates; exact re-rank on the float column.
    At 100 TB the per-cell branch is a partition-pruned scan of stored
    4-byte codes, and the union carries nprobe * refine rows."""

    def __init__(self, *args, **kwargs) -> None:
        super().__init__(*args, **kwargs)
        self.coarse_centroids: list[list[float]] | None = None

    def fit_residual(
        self, ivf, indexed, vec_col: str, *, id_col: str = "vec_id"
    ) -> "ResidualPQIndex":
        from pyspark.sql import functions as F

        assert ivf.centroids is not None, "IVFIndex.build() first"
        self.coarse_centroids = ivf.centroids
        res = indexed.withColumn(
            "_res", F.expr(residual_expr(vec_col, ivf.centroids))
        )
        super().fit(res, "_res", id_col=id_col)
        return self

    def fit_residual_lloyd(
        self, ivf, indexed, vec_col: str, *, rounds: int = 2,
        id_col: str = "_row_id",
        train_mod: int | None = None,
        train_keep: int | None = None,
    ) -> "ResidualPQIndex":
        """Oracle-replayable trained fine quantizer — the PQ twin of
        ``IVFIndex.build_lloyd``. Seeds are the residual-grid
        subvectors of the ``k`` smallest ``id_col`` rows; each round
        assigns every subvector to the argmin of the exact integer L2
        (first-occurrence tie-break, the same rule :func:`encode_expr`
        serves with) and recomputes per-codeword per-dimension means
        rounded half-up back onto the integer grid; codewords that
        lose all members keep their previous centroid. Everything
        after the one double-precision residual subtraction is 64-bit
        integer arithmetic, so DuckDB replays the whole trainer
        bit-exactly (queries/ann.py table_ivfpq_trained_search).

        Cost profile per round: one corpus scan fanning each row into
        M subvectors (a Column-level explode, no Python), M·K literal
        distance folds inside codegen, and one (M·K·sub)-sized shuffle
        for the means — the same shape as the coarse trainer, scaled
        by M. The collected codebook is M·K·sub ints of driver state.
        The numpy sample trainer (``fit_residual``) remains the
        quality-first default; this trainer exists so the TRAINED
        IVF_PQ lifecycle is driver-checkable end-to-end.

        ``train_mod``/``train_keep`` (both or neither) restrict seeds
        and the per-round aggregates to the same deterministic
        prime-mod hash subset as ``IVFIndex.build_lloyd`` — serving
        (``codes_residual``/ADC) always covers every row, and the
        filter is SQL-replayable int64 arithmetic."""
        from pyspark.sql import functions as F

        from vectordb_spark.operators.ann import IVFIndex

        assert ivf.centroids is not None, "IVFIndex.build() first"
        if (train_mod is None) != (train_keep is None):
            raise ValueError("set both train_mod and train_keep, or neither")
        self.coarse_centroids = ivf.centroids
        dim = len(ivf.centroids[0])
        assert dim % self.m == 0, f"m={self.m} must divide dim={dim}"
        sub = dim // self.m
        grid_s, _ = grid_exprs("_res")
        g = (
            indexed.withColumn(
                "_res", F.expr(residual_expr(vec_col, ivf.centroids))
            )
            .select(id_col, F.expr(grid_s).alias("_g"))
        )
        if train_mod is not None:
            g = g.where(
                F.expr(IVFIndex.train_hash_sql(f"CAST({id_col} AS BIGINT)"))
                % F.lit(train_mod)
                < F.lit(train_keep)
            )
        seed_rows = g.orderBy(id_col).limit(self.k).collect()
        assert len(seed_rows) == self.k, (
            f"need >= {self.k} rows to seed {self.k} codewords"
        )
        cb: list[list[list[int]]] = [
            [
                [int(v) for v in r["_g"][mi * sub : (mi + 1) * sub]]
                for r in seed_rows
            ]
            for mi in range(self.m)
        ]
        subs = F.array(
            *[F.slice("_g", mi * sub + 1, sub) for mi in range(self.m)]
        )
        ex_base = g.select(F.posexplode(subs).alias("_mi", "_sv"))
        import math as _math

        # the `sub`+1 sum aggregates are codebook-independent — build
        # the Column list once, not once per round (r13)
        aggs = [
            F.sum(F.element_at(F.col("_sv"), p + 1)).alias(f"s{p}")
            for p in range(sub)
        ]
        aggs.append(F.count(F.lit(1)).alias("n"))

        def _assign_code(cb_now):
            # Codebook as ONE 3-D array literal indexed by _mi (r13):
            # the previous form spliced all M·K codeword arrays into a
            # CASE-per-subspace SQL STRING, re-parsed, re-analyzed and
            # janino-recompiled every round (M·K value-bearing array()
            # trees, the int-L2 fold inlined twice per branch). A
            # nested F.lit is a references[] object in generated code,
            # so the expression shape — and the compiled plan — is
            # identical across rounds; element_at on the exploded _mi
            # replaces the CASE. Arithmetic is unchanged: the same
            # zip_with/aggregate integer L2 per codeword and the same
            # 1-based first-occurrence argmin, all exact 64-bit ops →
            # codes and trained codebooks are bit-identical (pinned by
            # tests/test_pq.py replay tests and the trained-IVF_PQ
            # gate oracle).
            cbl = F.lit([[[int(v) for v in code] for code in s] for s in cb_now])
            cb_mi = F.element_at(cbl, F.col("_mi") + 1)
            dists = F.transform(
                cb_mi,
                lambda c: F.aggregate(
                    F.zip_with(
                        c, F.col("_sv"), lambda x, y: (x - y) * (x - y)
                    ),
                    F.lit(0).cast("bigint"),
                    lambda acc, v: acc + v,
                ),
            )
            return F.array_position(dists, F.array_min(dists)).cast("int")

        for _ in range(rounds):
            # Means run as `sub` wide LONG aggregates over element_at
            # projections — NOT a second posexplode, which invited
            # Catalyst to re-evaluate the assignment per exploded value
            # (the same inlining the coarse trainer hit, operators/
            # ann.py build_lloyd round-9 note). Grid values are
            # |g| ≲ 1e3 at QMUL=200, so plain long sums are
            # overflow-safe; the half-up integer mean is computed
            # driver-side with the identical double arithmetic the old
            # JVM expression used (one correctly-rounded
            # float(sum)/n + 0.5, floor).
            rows = (
                ex_base.withColumn("_code", _assign_code(cb))
                .groupBy("_mi", "_code")
                .agg(*aggs)
                .collect()
            )
            means: dict[tuple[int, int], list[int]] = {}
            for r in rows:
                n = int(r["n"])
                means[(int(r["_mi"]), int(r["_code"]) - 1)] = [
                    int(_math.floor(float(int(r[f"s{p}"])) / n + 0.5))
                    for p in range(sub)
                ]
            cb = [
                [
                    means.get((mi, ki), cb[mi][ki])
                    for ki in range(self.k)
                ]
                for mi in range(self.m)
            ]
        self.codebook = cb
        return self

    def codes_residual(self, indexed, vec_col: str, *, out_col: str = "_pq_codes"):
        from pyspark.sql import functions as F

        assert self.coarse_centroids is not None, "fit_residual() first"
        res = indexed.withColumn(
            "_res", F.expr(residual_expr(vec_col, self.coarse_centroids))
        )
        grid_s, _ = grid_exprs("_res")
        return (
            res.withColumn("_pq_grid", F.expr(grid_s))
            .withColumn(out_col, F.expr(encode_expr("_pq_grid", self.codebook)))
            .drop("_res", "_pq_grid")
        )

    def search(
        self,
        ivf,
        coded,
        vec_col: str,
        query_vec,
        k: int,
        *,
        nprobe: int = 4,
        refine: int = 64,
        codes_col: str = "_pq_codes",
        id_col: str = "vec_id",
    ):
        from functools import reduce

        from pyspark.sql import functions as F

        from vectordb_spark.functions.distance import l2_squared, vector_literal

        assert self.coarse_centroids is not None, "fit_residual() first"
        probe = ivf.probe_clusters(query_vec, nprobe)
        if not probe:
            # degenerate index / nprobe=0: an empty result with the
            # search schema, not a reduce() TypeError
            return (
                coded.withColumn("_distance", F.lit(0.0))
                .where(F.lit(False))
                .limit(k)
            )
        branches = []
        for c in probe:
            cent = self.coarse_centroids[c]
            res_q = [float(q) - float(v) for q, v in zip(query_vec, cent)]
            table = adc_table(self.codebook, quantize_query(res_q))
            branches.append(
                coded.where(F.col("_cluster") == c)
                .withColumn(
                    "_pq_dist", F.expr(adc_from_codes_expr(codes_col, table))
                )
                .orderBy("_pq_dist", id_col)
                .limit(refine)
            )
        approx = reduce(lambda a, b: a.unionByName(b), branches)
        return (
            approx.withColumn(
                "_distance", l2_squared(F.col(vec_col), vector_literal(query_vec))
            )
            .orderBy("_distance", id_col)
            .limit(k)
            .drop("_pq_dist")
        )
