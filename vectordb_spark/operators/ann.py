"""Approximate nearest neighbor — the batch index path (SURVEY.md §2.6
T3-T5, §2.11 X1-X3 re-imagined for Spark).

The reference serves ANN from an NSG graph rebuilt by a background
thread (nsg.cpp, db_server.hpp:21). Graph traversal is a latency-serving
design; on Spark the scalable equivalents are:

- **IVF (KMeans)**: cluster once in batch (MLlib), store assignments as
  a partition column; at query time score only the ``nprobe`` clusters
  nearest to the query — a partition-pruned exact search. At 100 TB the
  assignment column becomes the physical partition key, so probing is
  partition pruning on the parquet scan.
- **LSH (random hyperplanes)**: deterministic sign-bit signatures on
  fixed projection vectors; bucket-equality join replaces distance
  ranking for candidate generation. Fully portable (oracle-checkable)
  since the projections are literals.

"Rebuild" (reference X3) = re-running the batch build and writing a new
index version; readers pick it up on next load — exactly the
double-buffer swap the reference does with executor pools, minus the
mutexes.

Both paths are validated by *agreement with exact brute force* (the
reference's own pre/post-rebuild test discipline, db_server.cpp:1606-12).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from vectordb_spark.functions.distance import (
    distance_for_metric,
    vector_literal,
)
from vectordb_spark.operators.knn import knn

# ------------------------------------------------------------------- LSH

_RNG = np.random.RandomState(42)
HYPERPLANES: list[list[float]] = [
    [float(x) for x in _RNG.standard_normal(64)] for _ in range(8)
]


def lsh_signature_exprs(vec_col: str) -> tuple[str, str]:
    """(spark_sql, duck_sql) for the 8-bit hyperplane-sign signature of
    an array<float> column. Projections are module-level literals →
    identical in both engines."""
    bits_s, bits_d = [], []
    for i, h in enumerate(HYPERPLANES):
        lit_s = "array(" + ", ".join(repr(x) for x in h) + ")"
        lit_d = "[" + ", ".join(repr(x) for x in h) + "]::DOUBLE[]"
        dot_s = (
            f"aggregate(zip_with({vec_col}, {lit_s}, "
            f"(x, y) -> CAST(x AS DOUBLE) * y), CAST(0.0 AS DOUBLE), (a, b) -> a + b)"
        )
        dot_d = (
            f"list_reduce(list_transform(list_zip({vec_col}, {lit_d}), "
            f"p -> CAST(p[1] AS DOUBLE) * p[2]), (a, b) -> a + b)"
        )
        bits_s.append(f"(CASE WHEN {dot_s} >= 0.0 THEN {1 << i} ELSE 0 END)")
        bits_d.append(f"(CASE WHEN {dot_d} >= 0.0 THEN {1 << i} ELSE 0 END)")
    return (" + ".join(bits_s), "(" + " + ".join(bits_d) + ")")


def lsh_signature_of(vec: list[float]) -> int:
    sig = 0
    for i, h in enumerate(HYPERPLANES):
        if float(np.dot(np.asarray(vec, dtype=np.float64), np.asarray(h))) >= 0.0:
            sig |= 1 << i
    return sig


def multiprobe_signatures(qsig: int, radius: int = 1, bits: int = 8) -> list[int]:
    """Multi-probe LSH probe list: every signature within hamming
    ``radius`` of the query's, nearest tier first. radius 1 → 9 of 256
    buckets (~3.5% expected scan); radius 2 → 37 (~14%) — the recall
    tier for corpora whose neighbors straddle two hyperplane
    boundaries. Still a bucket-equality (partition-pruning) predicate,
    never a distance scan."""
    from itertools import combinations

    probes = [qsig]
    for r in range(1, radius + 1):
        for flips in combinations(range(bits), r):
            s = qsig
            for b in flips:
                s ^= 1 << b
            probes.append(s)
    return probes


# ------------------------------------------------------------------- IVF


class IVFIndex:
    """KMeans-IVF index over an array<float> column.

    ``build`` is the batch "rebuild" job; ``search`` prunes to the
    nprobe nearest centroids then runs the exact KNN operator on the
    surviving fraction. Centroids live on the driver (k × dim floats —
    tiny); assignments live in the indexed DataFrame.
    """

    # auto-probe defaults: scan until ≥ CAND_PER_K·k candidates are
    # covered, but never more than MAX_SCAN_FRACTION of the table
    CAND_PER_K = 32
    MAX_SCAN_FRACTION = 0.25
    # Planner rule (reference parity in spirit: the reference
    # brute-forces below 512 vectors, vec_search_executor.hpp:28 — we
    # also brute-force when the index demonstrably can't help): if the
    # mean nearest-neighbor distance between centroids is smaller than
    # the mean intra-cluster radius, the "clusters" overlap so heavily
    # that probing loses neighbors — fall back to exact KNN. Measured:
    # 16 Gaussian blobs → ratio ≈ 4-8; uniform random 64-d → ≈ 0.4.
    SEPARATION_EXACT_FALLBACK = 1.0

    def __init__(self, k: int = 16, seed: int = 42, metric: str = "EUCLIDEAN"):
        self.k = k
        self.seed = seed
        self.metric = metric
        self.centroids: list[list[float]] | None = None
        self.cluster_sizes: dict[int, int] | None = None
        self.mean_intra_radius: float | None = None
        self.mean_nn_centroid_dist: float | None = None
        self.last_search_exact_fallback = False
        # which plan the last auto-probe search took:
        # "probe" | "exact" | "pq_adc"
        self.last_search_path: str | None = None
        self._pq = None
        self._pq_codes_col = "_pq_codes"
        self._pq_refine: int | None = None

    def attach_pq(self, pq_index, *, codes_col: str = "_pq_codes",
                  refine: int | None = None) -> "IVFIndex":
        """Attach a trained PQIndex (operators/pq.py) whose stored-code
        column rides next to the vectors. When the separation-ratio
        planner rejects probing (unclusterable corpus), the fallback
        then ranks with PQ-ADC over the 4-byte codes and exact-re-ranks
        ``refine`` rows — a full scan still, but over a 64× narrower
        column than raw float brute force. L2 only (COSINE is stored
        normalized, where L2 ORDER matches, but the reported distance
        would not — keep the raw exact fallback there)."""
        self._pq = pq_index
        self._pq_codes_col = codes_col
        self._pq_refine = refine
        return self

    # Coarse-quantizer training is SAMPLE-BOUNDED: KMeans iterations
    # over the full corpus would be O(iters · n · k · dim) — at 1M×960
    # that is ~10^12 flops for centroids a 50k sample estimates just as
    # well (the standard IVF discipline: FAISS trains its coarse
    # quantizer on ~64-256 points per centroid). ASSIGNMENT stays
    # full-data — one pass.
    TRAIN_PER_CENTROID = 256
    MIN_TRAIN_ROWS = 50_000

    def build(self, df: DataFrame, vec_col: str) -> DataFrame:
        """Fit KMeans (on a bounded sample above MIN_TRAIN_ROWS), then
        assign every row — return df + `_cluster` column. At scale,
        persist the result partitioned by `_cluster` so probing becomes
        partition pruning. Also records per-cluster sizes (k numbers on
        the driver) — the statistics auto-probe plans with."""
        from pyspark.ml.clustering import KMeans
        from pyspark.ml.functions import array_to_vector, vector_to_array

        vecs = df.withColumn("_features", array_to_vector(F.col(vec_col)))
        km = KMeans(k=self.k, seed=self.seed, featuresCol="_features",
                    predictionCol="_cluster")
        cap = max(self.MIN_TRAIN_ROWS, self.TRAIN_PER_CENTROID * self.k)
        n = df.count()
        fit_input = vecs.sample(cap / n, seed=self.seed) if n > cap else vecs
        model = km.fit(fit_input)
        self.centroids = [[float(x) for x in c] for c in model.clusterCenters()]
        out = model.transform(vecs).drop("_features")
        self._compute_build_stats(out, vec_col)
        return out

    # Oracle-replayable sampled-trainer hash: h(id) = ((id % P) · H)
    # % P with P = 2^31−1 (Mersenne prime) and H the Knuth multiplier;
    # the subset filter is h(id) % train_mod < train_keep.
    # Why this exact form:
    # * overflow-free for EVERY int64 id — (id % P) < 2^31 times H <
    #   2^32 stays under 2^63, so Spark ANSI mode never raises and
    #   DuckDB computes the identical value (a bare id·H overflows
    #   past id ≈ 3.5e9, exactly the 100 TB regime this exists for);
    # * genuinely mixing — multiplication modulo a PRIME scrambles
    #   residue classes, where (id·H) % m alone is a bijection on
    #   id % m (i.e. a stride sample in disguise: a corpus whose id
    #   low bits encode source/shard would bias it);
    # * plain int64 arithmetic, so a SQL oracle replays the subset
    #   bit-exactly with no RNG state (see train_hash_sql).
    TRAIN_HASH_MULT = 2654435761
    TRAIN_HASH_PRIME = 2147483647  # 2^31 − 1

    @classmethod
    def train_hash_sql(cls, id_expr: str) -> str:
        """The sampled-trainer hash as SQL text — the SAME string is
        valid Spark SQL (via F.expr) and DuckDB SQL, which is what
        keeps the engine filter and the gate oracles one definition.

        The residue is NORMALIZED non-negative (``(x % P + P) % P``):
        both engines' ``%`` is sign-carrying, so without the
        normalization a negative id hashed negative and
        ``h % mod < keep`` was then true for EVERY negative residue —
        ~100% sampling on negative-id rows instead of ~keep/mod.
        Positive ids are untouched (the inner residue is already in
        [0, P)), so every existing gate subset replays identically;
        and the normalized form equals Python's floor-mod, so the
        pytest replays match on all ids. Overflow-free as before:
        the intermediate after ``+ P`` stays below 2·P < 2^32."""
        p = cls.TRAIN_HASH_PRIME
        return (
            f"((((({id_expr}) % {p}) * "
            f"{cls.TRAIN_HASH_MULT}) % {p} + {p}) % {p})"
        )

    def build_lloyd(
        self,
        df: DataFrame,
        vec_col: str,
        *,
        rounds: int = 2,
        id_col: str = "_row_id",
        train_mod: int | None = None,
        train_keep: int | None = None,
    ) -> DataFrame:
        """Deterministic Lloyd training — the oracle-replayable twin of
        ``build``. Seeds are the vectors of the ``k`` smallest
        ``id_col`` values; each round assigns every row to the argmin
        of the sequential-fold squared L2 (ties to the lowest cluster
        id via first-position-of-min) and recomputes per-cluster
        per-dimension means on the 1e-12 half-up integer grid (decimal
        accumulation — partition order and engine cannot change a bit;
        the vec_kmeans_one_round discipline, iterated). Clusters that
        lose all members keep their previous centroid. Same cost
        profile per round as distributed Lloyd everywhere: one corpus
        scan with k codegen distance folds (centroids are broadcast
        literals), one k·dim-sized shuffle for the means; the k·dim
        means table collected per round is tiny driver state, exactly
        like ``build``'s MLlib centroids.

        ``train_mod``/``train_keep`` (both set or both None) switch on
        SAMPLED training — the answer to the measured 14× replayability
        premium of the full-corpus trainer (SCALING.md "Replayable
        seeded-Lloyd trainers"): seeds and the per-round mean
        aggregates run only over rows whose deterministic hash
        ``train_hash_sql(id) % train_mod`` falls below ``train_keep``
        (≈ keep/mod of the corpus, mixed across id structure — see the
        constant block above for why the hash is taken modulo a
        Mersenne prime); the FINAL assignment still covers every row.
        The filter is plain int64 arithmetic, so a SQL oracle replays
        the training subset bit-exactly — sampling costs nothing in
        auditability, unlike ``build``'s MLlib ``.sample()``."""
        from vectordb_spark.functions.distance import l2_squared

        k = self.k
        if (train_mod is None) != (train_keep is None):
            raise ValueError("set both train_mod and train_keep, or neither")
        if train_mod is not None:
            h = F.expr(self.train_hash_sql(f"CAST({id_col} AS BIGINT)"))
            train_df = df.where(h % F.lit(train_mod) < F.lit(train_keep))
        else:
            train_df = df
        seeds = [
            [float(x) for x in r[0]]
            for r in train_df.orderBy(id_col).select(vec_col).limit(k).collect()
        ]
        assert len(seeds) == k, f"need >= {k} rows to seed {k} clusters"
        dim = len(seeds[0])

        def _assign(cents) -> Column:
            # Centroids as ONE 2-D array literal (r13, guide §5 "very
            # large query plans"): the previous form built k fresh
            # CreateArray(dim double literals) trees per round, so every
            # Lloyd round re-analyzed and janino-recompiled a
            # value-bearing k·dim-leaf expression. A nested F.lit lands
            # in the generated code as a references[] object — the tree
            # shape (and the compiled plan) is identical for every
            # round, only the referenced array changes. Arithmetic is
            # unchanged: the same l2_squared zip_with/aggregate fold
            # runs per centroid element, so distances, the
            # first-position-of-min tie-break, and every trained
            # centroid are bit-identical (profiled in r13, see
            # OPTIMIZATION_r13.md; pinned by the trained-gate oracles
            # and tests/test_ann.py replay tests).
            cc = F.lit([[float(x) for x in c] for c in cents])
            dists = F.transform(cc, lambda c: l2_squared(F.col(vec_col), c))
            return (F.array_position(dists, F.array_min(dists)) - 1).cast("int")

        cents = seeds
        # Round cost model (rewritten round 9 after profiling at
        # 1M×64-d): the original posexplode form invited Catalyst to
        # collapse the assignment Project into the Generate, so the
        # k-fold argmin re-evaluated once per EXPLODED row — dim× the
        # work (measured: assign-only 3 s, assign+explode 55 s at 100k
        # rows) — and the n·dim-row DECIMAL(38,0) shuffle stacked more
        # on top. Now: NO explode — per-dimension sums run as 2·dim
        # wide LONG aggregates over element_at projections, with the
        # assignment evaluated exactly once per row as the grouping
        # key; the shuffle is k rows × (2·dim+1) longs. Exactness is
        # kept without decimal by splitting each 1e12-grid value into
        # (hi = g >> 20, lo = g − hi·2^20 ∈ [0, 2^20)) — arithmetic
        # shift = floor division, so the identity holds for negatives
        # — summing both as longs (|Σhi| ≤ n·|g|/2^20, Σlo < n·2^20:
        # no overflow for any realistic n·|x|), and rebuilding the
        # exact sum driver-side in Python ints before ONE double
        # rounding — the same correctly-rounded value the old
        # CAST(decimal AS DOUBLE) produced, so trained centroids (and
        # every oracle replay) are bit-unchanged.
        # the 2·dim+1 sum aggregates are centroid-independent — build
        # the Column list once, not once per round (r13)
        aggs = []
        for p in range(dim):
            e = F.element_at(F.col(vec_col), p + 1)
            g = F.floor(e.cast("double") * F.lit(1e12) + F.lit(0.5)).cast(
                "bigint"
            )
            hi = F.shiftright(g, 20)
            aggs.append(F.sum(hi).alias(f"h{p}"))
            aggs.append(F.sum(g - hi * F.lit(1 << 20)).alias(f"l{p}"))
        aggs.append(F.count(F.lit(1)).alias("n"))
        for _ in range(rounds):
            rows = (
                train_df.groupBy(_assign(cents).alias("_cluster"))
                .agg(*aggs)
                .collect()
            )
            means: dict[int, list[float]] = {}
            for r in rows:
                n = int(r["n"])
                means[int(r["_cluster"])] = [
                    (
                        float(int(r[f"h{p}"]) * (1 << 20) + int(r[f"l{p}"]))
                        / 1e12
                    )
                    / n
                    for p in range(dim)
                ]
            cents = [means.get(c, cents[c]) for c in range(k)]
        self.centroids = [[float(x) for x in c] for c in cents]
        out = df.withColumn("_cluster", _assign(cents))
        self._compute_build_stats(out, vec_col)
        return out

    def _compute_build_stats(self, indexed: DataFrame, vec_col: str) -> None:
        """Build-time statistics in ONE Spark action: per-cluster sizes
        (auto-probe planning) and the mean L2 radius of points around
        their centroid (exact-fallback planner rule) come from a single
        broadcast join + groupBy over the build output; mean nearest-
        neighbor distance between centroids is k² driver-side numpy."""
        from vectordb_spark.functions.distance import l2_squared

        cents = np.asarray(self.centroids, dtype=np.float64)
        if len(cents) > 1:
            d2 = ((cents[:, None, :] - cents[None, :, :]) ** 2).sum(axis=-1)
            np.fill_diagonal(d2, np.inf)
            self.mean_nn_centroid_dist = float(np.sqrt(d2.min(axis=1)).mean())
        else:
            self.mean_nn_centroid_dist = float("inf")
        spark = indexed.sparkSession
        cdf = spark.createDataFrame(
            [(i, [float(x) for x in c]) for i, c in enumerate(self.centroids)],
            "_cluster int, _centroid array<double>",
        )
        rows = (
            indexed.join(F.broadcast(cdf), "_cluster")
            .groupBy("_cluster")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.sqrt(l2_squared(F.col(vec_col), F.col("_centroid")))).alias("rs"),
            )
            .collect()
        )
        self.cluster_sizes = {int(r["_cluster"]): int(r["n"]) for r in rows}
        total = sum(r["n"] for r in rows)
        self.mean_intra_radius = (
            float(sum(r["rs"] for r in rows) / total) if total else 0.0
        )

    @property
    def separation_ratio(self) -> float:
        """nearest-centroid spacing / mean cluster radius: ≫ 1 on
        clusterable data, < 1 when the corpus has no cluster structure
        (IVF's adversarial regime)."""
        if not self.mean_intra_radius:
            return float("inf")
        return (self.mean_nn_centroid_dist or 0.0) / self.mean_intra_radius

    def probe_clusters(self, query_vector: list[float], nprobe: int) -> list[int]:
        """The ``nprobe`` clusters nearest the query, nearest first.
        Centroid ranking is by L2 — for COSINE the indexed vectors are
        stored normalized, so L2 order == cosine order."""
        assert self.centroids is not None, "build() first"
        q = np.asarray(query_vector, dtype=np.float64)
        cents = np.asarray(self.centroids, dtype=np.float64)
        d = ((cents - q) ** 2).sum(axis=1)
        return [int(i) for i in np.argsort(d, kind="stable")[:nprobe]]

    def plan_probes(
        self,
        query_vector: list[float],
        k: int,
        *,
        min_candidates: int | None = None,
        max_scan_fraction: float = MAX_SCAN_FRACTION,
    ) -> list[int]:
        """Auto-probe: walk clusters nearest-first until the candidate
        pool covers ``min_candidates`` (default CAND_PER_K·k) rows or
        the scan-fraction cap is hit, whichever comes first. Pure
        driver-side arithmetic over the k stored cluster sizes — no
        Spark job. This is the re-rank default: probe generously, let
        the exact KNN over the probed rows do the ranking."""
        order = self.probe_clusters(query_vector, len(self.centroids or []))
        if not self.cluster_sizes:
            return order[: max(1, min(4, len(order)))]
        total = sum(self.cluster_sizes.values())
        target = min(
            min_candidates if min_candidates is not None else self.CAND_PER_K * k,
            max(1, int(total * max_scan_fraction)),
        )
        probes, cum = [], 0
        for c in order:
            probes.append(c)
            cum += self.cluster_sizes.get(c, 0)
            if cum >= target:
                break
        return probes

    def search(
        self,
        indexed_df: DataFrame,
        vec_col: str,
        query_vector: list[float],
        k: int,
        *,
        nprobe: int | None = None,
        id_col: str | None = None,
    ) -> DataFrame:
        """ANN top-k: prune to probed clusters, exact-KNN re-rank the
        survivors. ``nprobe=None`` (default) auto-plans the probe list
        from cluster statistics — and falls back to EXACT search over
        the whole table when the build-time separation statistics say
        the clustering can't carry recall (separation_ratio below
        SEPARATION_EXACT_FALLBACK). An int ``nprobe`` pins the probe
        count (the reference-style fixed knob) and disables the
        fallback. With an attached PQ index (``attach_pq``) and its
        code column present, the fallback ranks via PQ-ADC over the
        stored 4-byte codes + exact re-rank instead of raw-float brute
        force — a full scan still, but over a 64× narrower column
        (SCALING.md has the measured row)."""
        self.last_search_exact_fallback = False
        self.last_search_path = "probe"
        if nprobe is None:
            if self.separation_ratio < self.SEPARATION_EXACT_FALLBACK:
                self.last_search_exact_fallback = True
                if (
                    self._pq is not None
                    and self.metric == "EUCLIDEAN"
                    and id_col is not None
                    and self._pq_codes_col in indexed_df.columns
                ):
                    self.last_search_path = "pq_adc"
                    # refine scales with the corpus: on the very
                    # distance-concentrated data that triggers this
                    # fallback, 4-bit ADC ranking is noisy and a fixed
                    # refine collapses recall (measured at 2M random
                    # 64-d rows: refine 1k/4k/16k/64k → recall
                    # 0.3/0.7/0.8/1.0). 2% of the indexed rows holds
                    # ~0.95+ while the ranking scan still reads 4-byte
                    # codes instead of 4·dim-byte floats
                    total = sum((self.cluster_sizes or {}).values())
                    refine = self._pq_refine or max(64, 16 * k, total // 50)
                    out = self._pq.search_codes(
                        indexed_df, vec_col, self._pq_codes_col,
                        query_vector, k, refine=refine, id_col=id_col,
                    )
                    return out.drop("_cluster") if "_cluster" in out.columns else out
                self.last_search_path = "exact"
                return knn(
                    indexed_df, vec_col, query_vector, k,
                    metric=self.metric, id_col=id_col,
                )
            clusters = self.plan_probes(query_vector, k)
        else:
            clusters = self.probe_clusters(query_vector, nprobe)
        pruned = indexed_df.where(F.col("_cluster").isin(clusters))
        return knn(
            pruned, vec_col, query_vector, k, metric=self.metric, id_col=id_col
        )


def recall_at_k(
    approx: DataFrame, exact: DataFrame, id_col: str, k: int
) -> float:
    """|approx ∩ exact| / k — the agreement metric for index tests."""
    a = {r[0] for r in approx.select(id_col).limit(k).collect()}
    e = {r[0] for r in exact.select(id_col).limit(k).collect()}
    return len(a & e) / float(k)
