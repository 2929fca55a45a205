"""Benchmark harness — driver contract.

Runs the headline queries at ``$SPARK_GRAFT_SF_DIR`` (default
/root/testdata/sf0.1) on ``local[$SPARK_GRAFT_CPUS]`` and prints ONE
JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.

Lifecycle gates (the trained-IVF tables, the city parity fixture, the
sparse index, the changefeed) run as memoized twins (``_TWINS``): each
builds its table once with the gate's own builder, the build time goes
to the separate "lifecycle" map, and the headline entry times only the
operation the gate serves.
"""

from __future__ import annotations

import json
import math
import os
import sys
import time
from functools import reduce

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F

from vectordb_spark import get_spark
from vectordb_spark.queries import all_queries
from vectordb_spark.queries.ann import EMB_GATES, _TRN_NPROBE, build_emb_gate_table
from vectordb_spark.queries.sparse import build_sparse_gate_table
from vectordb_spark.queries.streaming_gate import build_cdc_gate_table
from vectordb_spark.queries.vector import _CITY_FIELDS, build_city_gate_table

HEADLINE = [
    "s4_full_scan_filter",
    "p3_arith_filter",
    "t7_pagination",
    "a4_facet_group_sum",
    "a4_global_agg",
    "t1_knn_l2",
    "t1_knn_cosine",
    "t2_knn_prefilter",
    "t6_knn_postfilter_distance",
    "a5_facets_over_search",
    "dedup_exact_keep_first",
    "dedup_minhash_lsh",
    "dedup_simhash",
    "dedup_simhash_nearmiss",
    "dedup_token_jaccard",
    "dedup_embedding_cosine",
    "ann_lsh_bucketed",
    "text_token_count",
    "text_quality_score",
    "text_fingerprint",
    "p2_lang_arith",
    "tpch_q1_pricing_summary",
    "tpch_q3_top_orders",
    "tpch_q6_forecast_revenue",
    "fusion_rrf",
    "w1_tumbling_window",
    "w2_sessionize",
    "w3_topn_per_group",
    "w4_latest_per_key",
    "w5_running_total",
    "j2_star_join_revenue",
    "sparse_knn_tf_dot",
    "json_props_extract",
    # round-3 additions
    "ann_lsh_multiprobe2",
    "dedup_cluster_components",
    "sample_stratified",
    "source_cap_top_quality",
    "pack_sequences",
    "asof_join_latest_order",
    "decontam_ngram_overlap",
    # round-4 additions
    "ann_pq_adc",
    "ann_sq8_rerank",
    "rj_follow_on_events",
    "text_repetition_ngrams",
    "text_gopher_rules",
    "curate_end_to_end",
    "t9_knn_batch",
    "w7_sliding_window",
    "w8_rollup_grains",
    "dedup_keep_best",
    "sparse_knn_l2",
    "w9_ntile_length_deciles",
    "w10_interarrival_stats",
    "vec_centroid_per_label",
    "vec_kmeans_one_round",
    "text_fuzzy_match",
    "dedup_incremental_newdocs",
    "funnel_conversion",
    "cohort_retention",
    # round-5 additions — these two landed after the r4 list froze
    "a8_value_histogram",
    "text_bigram_familiarity",
    "dedup_substring_fingerprint",
    "geo_join_radius_pairs",
    "tpch_q5_local_supplier_volume",
    "media_pgm_histogram_features",
    "media_wav_rms_features",
    "media_video_frame_sampling",
    "text_boilerplate_span_removal",
    # round-6 additions
    "semantic_text_search",
    "semantic_maxsim_search",
    "text_lm_perplexity",
    "ann_gist_shape",
    "bm25_topk",
    "hybrid_bm25_vector_rrf",
    "ann_binary_hamming_rerank",
    "phrase_bm25_topk",
    "bm25_multiquery_batch",
    "sketch_hll_distinct_users",
    "sketch_cms_user_frequency",
    "sketch_bloom_prune_join",
    "cdc_changefeed_diff",
    "tpch_q18_large_volume_customer",
    "sketch_hdr_quantiles",
    "sparse_index_knn_search",
    "tpch_q4_order_priority",
    "tpch_q14_promo_revenue",
    "tpch_q17_small_quantity_revenue",
    "tpch_q7_nation_volume",
    "tpch_q13_customer_order_distribution",
    "tpch_q15_top_supplier",
    "tpch_q19_disjunctive_revenue",
    "tpch_q21_sole_late_supplier",
    "tpch_q22_dormant_customers",
    "media_ahash_near_dup",
    "ann_matryoshka_rerank",
    "ann_ivfpq_adc",
    "zorder_range_scan",
    "media_scene_change_detection",
    "table_ivf_trained_search",
    # round-8 additions (round-9 rotation queue)
    "tpch_q2_min_cost_supplier",
    "tpch_q8_market_share",
    "tpch_q9_product_type_profit",
    "tpch_q20_excess_share_suppliers",
    # round-9 additions: SERVING cost of the two new lifecycle gates
    # (their builds are memoized and reported under "lifecycle" — see
    # the compact line's lifecycle_value)
    "table_ivfpq_trained_search",
    "knn_metric_ordering_parity",
    "table_clustered_compact_search",
    # round-9: the last three TPC-H shapes (22/22 analogs complete)
    "tpch_q11_important_stock",
    "tpch_q12_shipmode_priority",
    "tpch_q16_part_supplier_counts",
    # round-10 addition: serving cost of the SAMPLED trained-IVF
    # lifecycle (build memoized under "lifecycle" like its full-corpus
    # twin — the lifecycle map is where sampled-vs-full training cost
    # shows up)
    "table_ivf_sampled_train_search",
    # round-11 addition: the oracle-checked 960-d wide-vector gate
    # (grid → stored codes → ADC → re-rank in ONE composed plan; the
    # encode is part of the measured plan on purpose — the memoized
    # bench twin ann_gist_shape times the serving-only ADC scan)
    "ann_gist960_adc_parity",
    # stream_* gates stay out of HEADLINE: their wall time is
    # availableNow micro-batch orchestration latency, not plan cost —
    # the correctness gate carries them every round. The mv_* gates
    # (incremental/minmax/join/distinct refresh), table_time_travel_read
    # and table_sparse_index_lifecycle stay out for the same reason:
    # their wall time is scripted mutation orchestration around the cdc
    # lifecycle; refresh cost at scale is measured in SCALING.md's
    # matview + streaming-freshness rehearsals, and the dim-pruned
    # sparse SEARCH is already timed by sparse_index_knn_search's
    # memoized-build bench variant. cdc_changefeed_diff IS in (above):
    # its lifecycle is memoized, so it times only the manifest diff —
    # real plan cost.
]


def _ann_gist_shape(spark, sf_dir):
    """Slim rehearsal of the reference's own benchmark shape
    (engine/test/bindings/python/gist-960-euclidean.py): 100k × 960-d
    vectors, PQ-ADC stored-code search + exact re-rank of 64. The
    corpus is synthesized JVM-side (sin-hash floats — sf tables carry
    no 960-d column) and the build (generate + PQ fit + codes) is
    memoized: like the reference's run, index build is amortized and
    the per-query ADC scan is what the bench times. The full 1M
    end-to-end (insert_df → clustered compact → probe, with recall) is
    measured in SCALING.md."""
    from vectordb_spark.operators.pq import PQIndex

    n, dim = 100_000, 960

    def _build():
        df = spark.range(n).select(
            F.col("id").alias("vec_id"),
            F.expr(
                f"transform(sequence(0, {dim - 1}), "
                "j -> CAST(sin(id * 960 + j) AS FLOAT))"
            ).alias("embedding"),
        )
        pq = PQIndex(seed=42).fit(df, "embedding")
        coded = pq.codes(df, "embedding").cache()
        coded.count()
        return pq, coded, [math.sin(12345 * 960 + j) for j in range(dim)]

    pq, coded, q = _memoized("ann_gist_build", _build)
    return pq.search_codes(coded, "embedding", "_pq_codes", q, 10, refine=64)


# Memoized lifecycle twins. A lifecycle gate builds a table and then
# serves one operation from it; bench.py builds each table ONCE, with
# the gate's own builder, and times only the served operation. Build
# wall clock is timed once at memoization into the "lifecycle" map
# (keyed below; "lifecycle_value" on the compact line), never into the
# headline total: builds are one-time batch jobs, and mixing them in
# made round-over-round totals incomparable whenever a gate landed.
_LIFECYCLE: dict = {}
_BUILD_TIMES: dict[str, float] = {}


def _memoized(key: str, build):
    """``build()``'s result, built and timed once per process."""
    if key not in _LIFECYCLE:
        t0 = time.time()
        _LIFECYCLE[key] = build()
        _BUILD_TIMES[key] = round(time.time() - t0, 4)
    return _LIFECYCLE[key]


def _mkworkdir(prefix: str) -> str:
    """mkdtemp that cleans up at process exit — memoized lifecycle
    warehouses must not leak a temp dir per bench run."""
    import atexit
    import shutil
    import tempfile

    work = tempfile.mkdtemp(prefix=prefix)
    atexit.register(shutil.rmtree, work, ignore_errors=True)
    return work


def _emb_builder(gate: str):
    """The trained-IVF gate ``gate``'s own table builder."""
    return lambda spark, sf_dir, work: build_emb_gate_table(
        spark, sf_dir, work, *EMB_GATES[gate]
    )


def _probe(method: str):
    """Serve a trained-IVF twin: the gate's probe-pruned search."""
    return lambda t, qv: getattr(t, method)(
        qv, limit=10, nprobe=_TRN_NPROBE
    ).select("vec_id", "label", F.col("_distance").alias("distance"))


def _city_serve(t, qv):
    """The three INDEX-path searches the city parity gate certifies."""
    return reduce(
        lambda a, b: a.unionByName(b),
        [
            t.search_indexed_df(qv, query_field=f, limit=6, nprobe=2)
            .select(F.lit(m).alias("metric"), "id", "doc")
            for m, f in _CITY_FIELDS.items()
        ],
    )


# gate name → (lifecycle key, builder(spark, sf_dir, work), serve(*built));
# the builders are the gates' own, so twin and gate cannot drift
_TWINS = {
    "table_ivf_trained_search": (
        "trained_ivf_rebuild", _emb_builder("table_ivf_trained_search"),
        _probe("search_indexed_df"),
    ),
    "table_ivfpq_trained_search": (
        "trained_ivfpq_rebuild", _emb_builder("table_ivfpq_trained_search"),
        _probe("search_indexed_df"),
    ),
    "table_ivf_sampled_train_search": (
        "sampled_ivf_rebuild", _emb_builder("table_ivf_sampled_train_search"),
        _probe("search_indexed_df"),
    ),
    "table_clustered_compact_search": (
        "clustered_compact_rewrite",
        _emb_builder("table_clustered_compact_search"),
        _probe("search_clustered_df"),
    ),
    "knn_metric_ordering_parity": (
        "city_parity_rebuilds", build_city_gate_table, _city_serve,
    ),
    "sparse_index_knn_search": (
        "sparse_index_build", build_sparse_gate_table,
        lambda t, qv: t.search_sparse_indexed_df(qv, limit=10).select(
            "doc_id", F.col("_distance").alias("distance")
        ),
    ),
    "cdc_changefeed_diff": (
        "cdc_mutation_lifecycle", build_cdc_gate_table,
        lambda t, v1: t.changes(v1).select(
            "doc_id",
            "lang",
            F.col("n_chars").cast("long").alias("n_chars"),
            F.col("_change_type").alias("change_type"),
        ),
    ),
}


def _twin(name: str):
    """``name``'s bench entry: build once (memoized), serve every call."""
    key, build, serve = _TWINS[name]

    def run(spark, sf_dir):
        def _build():
            return build(spark, sf_dir, _mkworkdir(f"vdb_bench_{key}_"))

        return serve(*_memoized(key, _build))

    return run


def _run_once(qs, name: str, spark, sf_dir: str) -> float:
    # collect() for every query: count() lets Spark prune the whole
    # projection (a map-only text query "ran" in 0.01s while computing
    # nothing), which silently un-benches map-side operators
    t0 = time.time()
    df = qs[name](spark, sf_dir)
    n = len(df.collect())
    assert n >= 0
    return time.time() - t0


def _loadavg() -> float:
    """1-minute load average — contention telemetry (VERDICT r12 #1:
    this VM throttles in multi-second bursts; without a contention
    marker in the artifact, a throttled run is indistinguishable from
    a plan regression). Reported only, never used for timing."""
    try:
        with open("/proc/loadavg") as fh:
            return float(fh.read().split()[0])
    except (OSError, ValueError):  # non-Linux or unreadable
        return -1.0


# Opt-in scaling probe (VERDICT r12 #5): at sf0.1 most headline queries
# are dominated by the ~0.13 s per-query floor + planning, so per-query
# low-core/high-core ratios land ≈1 and say nothing about the plans'
# scalability. With SPARK_GRAFT_BENCH_SCALE=<mult> set, the bench ALSO
# times these compute-heavy documents-only queries against an in-session
# synthetic corpus (documents × mult, id-shifted copies; generation is
# untimed setup) and records them under "scale_probe" in the detail
# JSON. Comparing that block across a c8 and a c32 run measures real
# core scaling. The headline path is untouched: probe timings never
# enter `value`/`queries`, and nothing runs unless the env var is set.
_SCALE_PROBE = [
    "dedup_cluster_components",
    "dedup_keep_best",
    "decontam_ngram_overlap",
    "media_wav_rms_features",
    "semantic_maxsim_search",
]


def _scale_probe(spark, qs, sf_dir: str, mult: int) -> dict:
    from pyspark.sql import functions as F

    work = _mkworkdir("vdb_bench_scale_")
    big_dir = os.path.join(work, "sf_scaled")
    os.makedirs(big_dir, exist_ok=True)
    d = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    # id-shifted copies: every copy keeps the text distribution but gets
    # distinct doc_ids (shift preserves int64 range at any testdata SF)
    big = (
        d.select("*", F.explode(F.expr(f"sequence(0, {mult - 1})")).alias("_c"))
        .withColumn("doc_id", F.col("doc_id") + F.col("_c") * F.lit(10_000_000))
        .drop("_c")
        .repartition(spark.sparkContext.defaultParallelism)
    )
    big.write.mode("overwrite").parquet(os.path.join(big_dir, "documents.parquet"))
    probe: dict[str, float | str] = {}
    for name in _SCALE_PROBE:
        if name not in qs:
            continue
        spark.sparkContext.setJobDescription(f"scale_probe:{name}")
        t0 = time.time()
        try:
            len(qs[name](spark, big_dir).collect())
            probe[name] = round(time.time() - t0, 4)
        except Exception as exc:  # noqa: BLE001 — same isolation as _sample
            probe[name] = f"{type(exc).__name__}: {exc}"[:500]
        finally:
            spark.sparkContext.setJobDescription(None)
    probe["_multiplier"] = mult
    return probe


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    # min-of-N per query: this VM's CPU is bursty and a single run can
    # catch a throttle window (observed 8× outliers); min is the honest
    # steady-state cost of the plan. Runs are INTERLEAVED round-robin
    # (A,B,C,A,B,C — not A,A,B,B): a multi-second throttle burst then
    # poisons at most one sample of each query instead of every sample
    # of one query, so the per-query min survives it.
    runs = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3")))
    loadavg_start = _loadavg()
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or os.cpu_count() or 4
    spark = get_spark("bench")
    qs = dict(all_queries())
    qs.update({name: _twin(name) for name in _TWINS})
    # bench-only entry (not a gate query: no sf table has a 960-d
    # column, and recall for this shape is SCALING.md's job)
    qs["ann_gist_shape"] = _ann_gist_shape
    names = [n for n in HEADLINE if n in qs]

    # Warm up the JVM + parquet footers once; not counted.
    qs["s11_statistics"](spark, sf_dir).collect()

    # One failing query must NOT abort the artifact (BENCH_r03 lesson:
    # a single AnalysisException produced rc=1 and no JSON line at all).
    # Record the error once, skip its remaining samples, keep going.
    timings: dict[str, float] = {}
    samples: dict[str, list[float]] = {}
    errors: dict[str, str] = {}
    # Sample schedule (r7): pass 1 is INTERLEAVED round-robin over all
    # queries (a multi-second throttle burst poisons at most one sample
    # of each query); the remaining runs-1 samples are BACK-TO-BACK per
    # query. Fully interleaved sampling systematically overstated every
    # query ~2.4x once the list hit ~96 entries: with 95 other queries
    # between two samples of the same plan, every sample ran with
    # washed CPU caches / JIT profiles (measured: text_fuzzy_match
    # 2.29s interleaved min-of-3 vs 0.77s warm in a fresh session —
    # same code, same data). min across the mixed schedule = the warm
    # steady-state cost, with the interleaved sample as the rescue if a
    # burst covers a whole back-to-back block.
    def _sample(name: str) -> None:
        if name in errors:
            return
        try:
            dt = _run_once(qs, name, spark, sf_dir)
        except Exception as exc:  # noqa: BLE001 — artifact resilience
            # Keep any earlier successful timing: dropping it would
            # silently shrink the headline total on a flaky one-off
            # failure and make cross-round totals incomparable. The
            # error string records the flakiness alongside the best
            # good sample.
            errors[name] = f"{type(exc).__name__}: {exc}"[:500]
            return
        samples.setdefault(name, []).append(dt)
        if name not in timings or dt < timings[name]:
            timings[name] = dt

    for name in names:
        _sample(name)
    for name in names:
        for _ in range(runs - 1):
            _sample(name)
    timings = {n: round(t, 4) for n, t in timings.items()}
    total = round(sum(timings.values()), 4)
    lifecycle_total = round(sum(_BUILD_TIMES.values()), 4)
    loadavg_end = _loadavg()

    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    detail = {
        "metric": "headline_queries_total",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "n_queries": len(timings),
        # one-time build jobs behind the memoized gates, timed once at
        # memoization — kept OUT of the headline total so plan-cost
        # totals stay comparable round-over-round (VERDICT r8 #8)
        "lifecycle": dict(sorted(_BUILD_TIMES.items())),
        "lifecycle_value": lifecycle_total,
        "sf": float(sf) if sf else sf_dir,
        # contention telemetry (additions only — VERDICT r12 #1): every
        # sample per query, so a post-hoc reader can separate a throttle
        # burst (one wild outlier, tight min) from a plan regression
        # (uniformly slower samples)
        "cpus": cpus,
        "loadavg_start": loadavg_start,
        "loadavg_end": loadavg_end,
        "samples": {n: [round(t, 4) for t in s] for n, s in samples.items()},
    }
    if errors:
        detail["errors"] = errors
    scale_mult = int(os.environ.get("SPARK_GRAFT_BENCH_SCALE", "0"))
    if scale_mult > 1:
        detail["scale_probe"] = _scale_probe(spark, qs, sf_dir, scale_mult)
    # The driver keeps only a ~2000-char stdout tail; with ~90 headline
    # queries the full per-query map stopped fitting in r3 and BENCH_r{3,5,6}
    # all recorded "parsed": null. Full detail goes to an artifact file;
    # stdout gets ONE compact line (headline total + the 10 slowest at
    # 2 dp) with a hard length assert so the contract can't silently
    # break again as the query list grows.
    with open(os.path.join(os.path.dirname(os.path.abspath(__file__)),
                           "BENCH_DETAIL.json"), "w") as fh:
        json.dump(detail, fh, indent=1, sort_keys=True)
    slowest = dict(
        sorted(
            ((n, round(t, 2)) for n, t in timings.items()),
            key=lambda kv: -kv[1],
        )[:10]
    )
    out = {
        "metric": "headline_queries_total",
        "value": total,
        "unit": "sec",
        "sf": float(sf) if sf else sf_dir,
        "n_queries": len(timings),
        "n_errors": len(errors),
        "lifecycle_value": lifecycle_total,
        "n_lifecycle": len(_BUILD_TIMES),
        "queries": slowest,
        # contention telemetry (VERDICT r12 #1, additions only): cpus +
        # loadavg bracket + per-query [min, max] sample spread for the
        # slowest 10 — a throttled run shows max >> min on untouched
        # queries; a regression shows min itself moved
        "cpus": cpus,
        "loadavg_start": loadavg_start,
        "loadavg_end": loadavg_end,
        "spread": {
            n: [round(min(samples[n]), 2), round(max(samples[n]), 2)]
            for n in slowest
            if n in samples
        },
        "detail": "BENCH_DETAIL.json",
    }
    line = json.dumps(out)
    assert len(line) < 1500, f"bench stdout line too long: {len(line)}"
    print(line)


if __name__ == "__main__":
    main()
