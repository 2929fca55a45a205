"""``curate``: batch training-data curation over a seeded corpus.

The corpus has the ``documents.parquet`` schema, Zipf-distributed
words, planted exact duplicates and planted near-duplicates. One pass
runs a fixed list of registered documents-only queries, each result
fully collected. The work is task CPU and shuffle, so kernel and plan
changes show here and not in ``serve``. Each query's result is checked
once per run, before the timed passes, against its DuckDB oracle.

BENCHMARK.json does not list this workload: with three workloads a
full evaluation's 4 + 22 x 3 runs do not fit their 3420 s budget on a
host that throttles (README.md, "Time budget"). Run it by name.
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass

import numpy as np

import checks
from harness import median

QUERIES = (
    "curate_end_to_end",
    "dedup_minhash_lsh",
    "dedup_keep_best",
    "dedup_token_jaccard",
    "decontam_ngram_overlap",
    "pack_sequences",
)
# the curation quality rules count these as stop words
STOPS = ("the", "a", "key", "row", "data")
LANGS = ("en", "fr", "es", "zh", "de")
# One pass takes about this long on a 4-vCPU host; --seconds sets the
# number of timed passes. One more pass, the checked one, runs first.
PASS_SECONDS = 5


@dataclass
class Sizes:
    docs: int = 1600
    vocab: int = 3000
    near_dup_share: float = 0.10
    exact_dup_share: float = 0.03


TINY = Sizes(docs=150, vocab=300)


def _corpus(rng, s: Sizes):
    """The corpus's shape (word lengths, document lengths, how many
    duplicates) is the same for every seed; the seed picks the words,
    their order and which documents are copies."""
    import pandas as pd

    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    word_lens = rng.permutation(np.resize(np.arange(3, 9), s.vocab))
    words = np.array(list(STOPS) + ["".join(rng.choice(letters, n)) for n in word_lens])
    p = 1.0 / np.arange(1, len(words) + 1) ** 1.05
    p /= p.sum()
    doc_lens = rng.permutation(np.linspace(10, 120, s.docs).round().astype(int))
    n_exact = round(s.docs * s.exact_dup_share)
    n_near = round(s.docs * s.near_dup_share)
    copies = rng.choice(np.arange(1, s.docs), n_exact + n_near, replace=False)
    kind = dict.fromkeys(copies[:n_exact].tolist(), "exact")
    kind.update(dict.fromkeys(copies[n_exact:].tolist(), "near"))
    texts: list[str] = []
    for i, n in enumerate(doc_lens):
        if i in kind:
            w = texts[int(rng.integers(i))].split(" ")
            if kind[i] == "near":
                for _ in range(int(rng.integers(1, 4))):
                    w[int(rng.integers(len(w)))] = str(rng.choice(words, p=p))
            texts.append(" ".join(w))
        else:
            texts.append(" ".join(rng.choice(words, n, p=p)))
    df = pd.DataFrame({
        "doc_id": np.arange(s.docs, dtype=np.int64),
        "text": texts,
        "lang": rng.permutation(np.resize(np.array(LANGS), s.docs)),
        "source": rng.permutation([f"src{i % 20}" for i in range(s.docs)]),
    })
    df["n_chars"] = df["text"].str.len().astype(np.int64)
    return df


def generate(seed: int, seconds: int, tiny: bool, data_dir: str) -> dict:
    """Write the corpus and compute every query's oracle answer with
    DuckDB, before the Spark session exists."""
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    from vectordb_spark.queries import all_oracles

    s = TINY if tiny else Sizes()
    corpus = _corpus(np.random.default_rng(seed), s)
    sf_dir = os.path.join(data_dir, "corpus")
    os.makedirs(sf_dir, exist_ok=True)
    path = os.path.join(sf_dir, "documents.parquet")
    pq.write_table(pa.Table.from_pandas(corpus, preserve_index=False), path)
    oracles = all_oracles()
    con = duckdb.connect()
    try:
        con.execute("SET threads TO 2")
        con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{path}')")
        expected = {q: con.execute(oracles[q]).df() for q in QUERIES}
    finally:
        con.close()
    passes = max(1, round(seconds / PASS_SECONDS))
    return {"sf_dir": sf_dir, "docs": s.docs, "expected": expected, "passes": passes}


def run(ctx, inputs) -> dict:
    from vectordb_spark.queries import all_queries

    fns = all_queries()
    sf_dir, expected = inputs["sf_dir"], inputs["expected"]
    for q in QUERIES:  # the checked pass, which also warms up
        with ctx.op(q):
            t0 = time.perf_counter()
            pdf = fns[q](ctx.spark, sf_dir).toPandas()
            ms = (time.perf_counter() - t0) * 1000
        ok, why = checks.check_oracle(pdf, expected[q])
        ctx.ops.record(q, ok, why)
    ctx.start_timed()
    per_query: dict[str, list[float]] = {q: [] for q in QUERIES}
    pass_ms: list[float] = []
    for _ in range(inputs["passes"]):
        p0 = time.perf_counter()
        for q in QUERIES:
            with ctx.op(q):
                t0 = time.perf_counter()
                n = len(fns[q](ctx.spark, sf_dir).collect())
                ms = (time.perf_counter() - t0) * 1000
            ctx.ops.record(q, n == len(expected[q]),
                           f"{n} rows, oracle has {len(expected[q])}")
            per_query[q].append(ms)
        pass_ms.append((time.perf_counter() - p0) * 1000)
    ctx.end_timed()
    detail = {
        "docs_per_s": inputs["docs"] * len(pass_ms) / (sum(pass_ms) / 1000),
        **{f"curate.{q}_s": median(v) / 1000 for q, v in per_query.items()},
        "passes": len(pass_ms),
    }
    return {
        "throughput_per_s": detail["docs_per_s"],
        "latency_p50_ms": median(pass_ms),
        "detail": detail,
        "table_path": None,
    }
