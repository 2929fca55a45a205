"""Equivalence property test for the explode_nonnull helper (VERDICT
r12 "what's wrong" #3): every call site's outer-generator + output
filter must produce exactly the row set plain explode/posexplode
would — which holds iff the array ELEMENTS are never NULL.

The test replays every query that uses the helper twice over an
edge-case corpus (empty text, single token, token counts straddling
each site's gram/chunk/fingerprint width) — once with the committed
outer form, once with every call site's ``explode_nonnull`` patched to
its ``plain=True`` form (the plain generator) — and pins row-set
equality. A future edit that makes any
site's element expression nullable fails here instead of silently
dropping rows.
"""

from __future__ import annotations

import functools
import os
import shutil
import sys
import tempfile

import pytest

from vectordb_spark.queries import _explode


_SHARED_RUN = " ".join(f"tok{i * 7 % 61}x{i}" for i in range(60))


def _edge_corpus(spark, tmp):
    rows = [
        # (doc_id, text, lang, source, n_chars)
        (1, "", "en", "s1", 0),
        (2, "one", "en", "s1", 3),
        (3, "two words", "en", "s2", 9),
        (4, "a b c d e f g h i j k", "zh", "s2", 21),  # 11 toks < K_SUB=12
        (5, "a b c d e f g h i j k l", "zh", "s3", 23),  # == K_SUB
        (6, " ".join(f"w{i % 7}" for i in range(40)), "en", "s3", 120),
        (25, "held out benchmark doc with shared words w1 w2 w3", "en", "s1", 49),
        (50, "held out benchmark doc with shared words w1 w2 w3", "en", "s1", 49),
        (7, "shared words w1 w2 w3 appear in this corpus doc too " * 2, "en", "s2", 104),
        (8, "   ", "en", "s4", 3),  # whitespace-only → empty-ish tokens
        # NULL text (ADVICE r12 fusion.py:536): split(NULL) → NULL array
        # → plain explode emits nothing, outer emits a filtered NULL row
        # — this row pins that the two forms agree even on NULL text
        (9, None, "en", "s5", 0),
        # a 60-token verbatim run copied at DIFFERENT offsets, so the
        # substring-fingerprint site (K_SUB=12, 1-in-4 hash selection)
        # has a non-empty output to compare
        (10, _SHARED_RUN, "en", "s6", len(_SHARED_RUN)),
        (11, "prefix tokens then " + _SHARED_RUN, "en", "s6", 19 + len(_SHARED_RUN)),
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    df.coalesce(1).write.mode("overwrite").parquet(
        os.path.join(tmp, "documents.parquet")
    )


@pytest.fixture(scope="module")
def edge_dir(spark):
    tmp = tempfile.mkdtemp(prefix="vdb_explode_nonnull_")
    _edge_corpus(spark, tmp)
    yield tmp
    shutil.rmtree(tmp, ignore_errors=True)


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


QUERIES = [
    "decontam_ngram_overlap",
    "dedup_minhash_lsh",
    "dedup_substring_fingerprint",
    "text_top_bigrams_per_lang",
    "text_bigram_familiarity",
    "text_boilerplate_span_removal",
    "text_lm_perplexity",
    "semantic_maxsim_search",
]


@pytest.fixture
def plain_explode(monkeypatch):
    """Returns a switch that rebinds ``explode_nonnull`` to its plain
    form in every module that imported it, until the test ends."""

    def switch():
        plain = functools.partial(_explode.explode_nonnull, plain=True)
        sites = [
            mod
            for name, mod in list(sys.modules.items())
            if name.startswith("vectordb_spark.")
            and getattr(mod, "explode_nonnull", None) is _explode.explode_nonnull
        ]
        assert sites, "no module calls explode_nonnull"
        for mod in sites:
            monkeypatch.setattr(mod, "explode_nonnull", plain)

    return switch


@pytest.mark.parametrize("name", QUERIES)
def test_outer_form_matches_plain_explode(spark, edge_dir, plain_explode, name):
    from vectordb_spark.queries import all_queries

    fn = dict(all_queries())[name]
    outer = _rows(fn(spark, edge_dir))
    plain_explode()
    plain = _rows(fn(spark, edge_dir))
    assert outer == plain, (
        f"{name}: outer+filter row set diverged from plain explode — "
        "an element expression became nullable (see _explode.py contract)"
    )
    assert outer, f"{name}: edge corpus produced no rows — test lost its teeth"
