"""Generate PLANS.md: formatted physical plans for representative
queries, with the scale-relevant features called out. Run:
    python scripts/gen_plans.py

The output depends only on the code: whatever ``SPARK_GRAFT_CPUS``
says, the session plans with 32 shuffle partitions and a default
parallelism of 32 (the width of the testdata readers' rebalance), and
Spark's process-global ``plan_id=`` and ``#NNN`` expression ids are
renumbered in order of appearance within each plan. Two runs of one
commit write the same file.
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from vectordb_spark import get_spark
from vectordb_spark.plans.audit import plan_of
from vectordb_spark.queries import all_queries

SF = "/root/testdata/sf0.001"
# the shuffle and rebalance width the committed plans show
SHUFFLE_PARTITIONS = 32

SHOWCASE = {
    "t1_knn_l2": (
        "Exact KNN plans as TakeOrderedAndProject: per-partition top-K "
        "heaps + driver merge of k rows/partition — no global sort, no "
        "shuffle of the scored rows."
    ),
    "t2_knn_prefilter": (
        "The scalar pre-filter (label < 5) is pushed into the parquet "
        "scan (PushedFilters), below the distance computation."
    ),
    "s4_full_scan_filter": (
        "Filter + projection reach the scan: PushedFilters and a pruned "
        "ReadSchema (5 of 11 lineitem columns)."
    ),
    "j2_star_join_revenue": (
        "Star join: lineitem⋈orders shuffles (both fact-sized); customer "
        "and nation broadcast; aggregation is partial (map-side) then "
        "final."
    ),
    "dedup_minhash_lsh": (
        "LSH candidate generation is a hash self-join on short band "
        "keys; shingle-hash arrays re-join by id only for candidates; "
        "no cartesian products anywhere."
    ),
    "w2_sessionize": (
        "One Exchange on user_id serves the lag window, the running-sum "
        "window, and the final groupBy — the windows share partitioning."
    ),
    "fusion_rrf": (
        "RRF fuses TRUNCATED per-metric rankings: each metric's "
        "candidates come from a TakeOrderedAndProject(limit=100) (per-"
        "partition heaps over the scored scan), ranking windows see "
        "only the ≤100-row candidate sets, and the full-outer fuse "
        "joins two 100-row inputs. The only full-data pass is the "
        "distance projection — no whole-table single-partition window "
        "exists at any size."
    ),
    "t7_keyset_pagination": (
        "Keyset (seek) pagination: the page boundary is a pushed-down "
        "range predicate (PushedFilters: GreaterThan) + "
        "TakeOrderedAndProject — page N costs the same as page 1, "
        "unlike OFFSET which materializes the whole prefix."
    ),
    "dedup_embedding_cosine": (
        "The pair stage joins on (label, sub-bucket): the scan is "
        "rebalanced 32-way (RoundRobinPartitioning), block sizes come "
        "from a partial-agg groupBy broadcast-joined back (k tiny rows "
        "shuffle, never the table — no Window), and label blocks above "
        "the cap split into LSH-signature sub-buckets evaluated lazily "
        "in a CASE — no single-task pair stage, no unbounded block."
    ),
    "funnel_conversion": (
        "Staged min-ts funnel: three aggregates share the user_id "
        "shuffle key; post-stage-1 frames are one row per user, so "
        "the chained joins are user-sized, never event-sized."
    ),
    "vec_centroid_per_label": (
        "Tall vector aggregation: posexplode to (label, pos, val) "
        "scalars, integer-grid exact mean per position, re-assembled "
        "by sort_array — no Python UDAF holds whole vectors."
    ),
    "t9_knn_batch": (
        "Batch multi-query KNN: Q broadcast query vectors scored in "
        "one corpus pass; the only shuffle carries (query, distance, "
        "id) triples into the per-query rank."
    ),
    "dedup_keep_best": (
        "Dedup end state: components over the verified pair graph, "
        "left join back to the corpus, one window on comp elects the "
        "keeper — every shuffle is on narrow id/comp keys."
    ),
    "ann_pq_adc": (
        "PQ-ADC: two TakeOrderedAndProject passes — integer ADC ranking "
        "over the grid-quantized column (would read 4-byte codes, not "
        "256-byte floats, when codes are stored), then exact re-rank "
        "over 64 candidate rows. All candidate math in whole-stage "
        "codegen; no shuffle of scored rows."
    ),
    "rj_follow_on_events": (
        "Binned range join: the interval predicate is an equi-join on "
        "(user_id, time-bin) — anchors probe 2 bins via explode — so "
        "the physical plan is one shuffled hash join + one hash "
        "aggregate; no BroadcastNestedLoopJoin / cartesian anywhere "
        "(the naive inequality formulation would be one)."
    ),
    "text_repetition_ngrams": (
        "Duplicate-ngram fraction is a pure map: gram arrays built by "
        "transform over an index sequence inside codegen; no explode, "
        "no shuffle, scales embarrassingly."
    ),
    "asof_join_latest_order": (
        "As-of join as union + ONE Exchange on the key + a running "
        "last() window — no BroadcastNestedLoopJoin (the inequality-"
        "join trap) anywhere in the plan."
    ),
    "geo_join_radius_pairs": (
        "Geo-radius join: both sides land in 6° grid cells, the left "
        "probes its 3×3 neighborhood (9-row explode), and the pair "
        "stage is a shuffled hash join on (cell_lat, cell_lon) with "
        "haversine verifying candidates — the spatial analogue of the "
        "LSH band join; no BroadcastNestedLoopJoin, no all-pairs."
    ),
    "dedup_substring_fingerprint": (
        "Exact-substring overlap: content-defined fingerprint selection "
        "is map-side (gram hash + filter inside codegen), the per-"
        "fingerprint doc cap and the pair self-join share the fp "
        "shuffle key, and the stop-gram cap bounds every join key's "
        "fan-out — candidates, never all-pairs."
    ),
    "semantic_text_search": (
        "E1/E2 embed→KNN in ONE scan: normalization is a JVM "
        "projection (exactly one regexp_replace in the plan), then ONE "
        "MapInArrow node computes the exact integer self-dot and query "
        "dot per Arrow batch in numpy (r13 — the interpreted "
        "higher-order folds this replaced were ~10.5 core-seconds, the "
        "dominant parallel compute at bench scale); an explicit "
        "Project feeds the opaque op so pruning survives, and top-K is "
        "TakeOrderedAndProject, never a global sort."
    ),
    "bm25_topk": (
        "BM25: the token explode is pruned to query-term hits BEFORE "
        "any shuffle (Filter directly over the generator), doc-"
        "frequency and corpus stats are 1-3 row broadcasts, and the "
        "per-doc score aggregate feeds TakeOrderedAndProject — the "
        "only corpus-sized shuffle carries (doc, term) hit rows. The "
        "persisted-index variant (search_text_df) replaces the explode "
        "with a posting scan pruned by PartitionFilters on the token "
        "hash bucket."
    ),
    "phrase_bm25_topk": (
        "Exact-phrase BM25: the start-position adjacency check is a "
        "higher-order filter over the token array inside codegen — one "
        "map-side pass, no explode; only the (tiny) phrase-matching set "
        "ever aggregates or joins."
    ),
    "bm25_multiquery_batch": (
        "Batch lexical retrieval: Q queries, ONE corpus token pass. "
        "The per-query fan-out is a broadcast join on the (term, query) "
        "map and the per-query cut plans as WindowGroupLimit — "
        "per-partition partial top-k before the qid shuffle."
    ),
    "sketch_hll_distinct_users": (
        "HLL registers are a fixed-state partial aggregate: map-side "
        "combine reduces each partition to ≤ |types|·64 rows before "
        "the shuffle (see the partial_max in the HashAggregate pair) — "
        "the COUNT(DISTINCT) expand/shuffle never happens on the "
        "sketch side."
    ),
    "tpch_q10_returned_items": (
        "Q10 returned-item report: l_returnflag='R' pushed to the "
        "lineitem scan, fact-fact join shuffles on orderkey, the "
        "SF-proportional customer side carries no broadcast hint (AQE "
        "sizes it at runtime), nation broadcasts, and the top-20 is "
        "TakeOrderedAndProject over the decimal revenue aggregate."
    ),
    "vec_kmeans_one_round": (
        "One Lloyd iteration: the argmin-of-L2 assignment is a codegen "
        "CASE chain over literal seed centroids (no join, no shuffle "
        "for assignment — exactly how build_ivf broadcasts its "
        "centroid array), and the recompute is one hash aggregate "
        "whose exchange carries k·dim rows, not the corpus."
    ),
    "sketch_bloom_prune_join": (
        "Bloom-prune: the filter is ONE broadcast row of packed BIGINT "
        "words; probe membership is pure arithmetic ((word >> pos%64) "
        "& 1) under a BroadcastNestedLoopJoin against that single row "
        "— the probe corpus is never joined row-to-row, never "
        "shuffled, until the |sources|-row final aggregate."
    ),
}


def stable_ids(plan: str) -> str:
    """``plan`` with its ``plan_id=`` and ``#NNN`` ids renumbered from 0
    in order of appearance: the raw numbers count every plan the
    process built before this one."""
    for prefix in ("plan_id=", "#"):
        ids: dict[str, int] = {}
        plan = re.sub(
            re.escape(prefix) + r"(\d+)",
            lambda m: f"{prefix}{ids.setdefault(m.group(1), len(ids))}",
            plan,
        )
    return plan


def main() -> None:
    spark = get_spark(
        "plans",
        shuffle_partitions=SHUFFLE_PARTITIONS,
        extra_conf={"spark.default.parallelism": str(SHUFFLE_PARTITIONS)},
    )
    qs = all_queries()
    out = [
        "# PLANS — physical plans of representative queries",
        "",
        "Generated by `python scripts/gen_plans.py` (Spark "
        f"{spark.version}, sf0.001 inputs; plan shapes are SF-independent;",
        f"{SHUFFLE_PARTITIONS} shuffle partitions; `plan_id=` and `#NNN` ids "
        "renumbered per plan in order of appearance).",
        "Assertions over these properties run in `tests/test_plans.py`.",
        "",
    ]
    for name, note in SHOWCASE.items():
        plan = stable_ids(plan_of(qs[name](spark, SF)))
        out.append(f"## {name}")
        out.append("")
        out.append(note)
        out.append("")
        out.append("```")
        out.append(plan.strip())
        out.append("```")
        out.append("")
    with open(os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "PLANS.md"), "w") as f:
        f.write("\n".join(out))
    print("wrote PLANS.md")


if __name__ == "__main__":
    main()
