"""The shared outer-generator idiom behind every r12 explode rewrite.

CONTRACT (the reason this helper exists — VERDICT r12 "what's wrong"
#3): ``explode_nonnull(df, arr, ...)`` is row-set-identical to plain
``explode``/``posexplode`` **iff the elements of ``arr`` are never
NULL**. The outer generator emits one ``(NULL[, NULL])`` row per
empty-or-NULL array where the plain generator emits nothing; the
filter on the generated OUTPUT column removes exactly those rows. If a
future edit makes an element expression nullable, the helper silently
drops those element rows — so every call site must keep its elements
non-nullable (all current sites build elements from concat/hash/struct
over non-null inputs), and tests/test_explode_nonnull.py pins the
explode ≡ explode_nonnull equivalence for each call site's real
expression over edge-case corpora.

WHY the outer form at all (r12, guide §2.4/§7.2): Spark's
InferFiltersFromGenerate fires on NON-outer generators only, inferring
a ``size(arr) > 0 AND isnotnull(arr)`` pre-filter below the Generate.
Predicate pushdown then substitutes the array alias's defining
expression into that filter on its way down — inlining the whole
(interpreted, never-codegen) higher-order-function pipeline into a
Filter that every input row evaluates twice more than needed (measured
on decontam_ngram_overlap's corpus branch: 1.78 s → 0.19 s noop-sunk
at sf0.1). The outer generator + cheap output filter keeps one
evaluation per row.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

ColumnOrName = Column | str


def explode_nonnull(
    df: DataFrame,
    arr: ColumnOrName,
    alias: str,
    *,
    keep: tuple[ColumnOrName, ...] = (),
    pos_alias: str | None = None,
    plain: bool = False,
) -> DataFrame:
    """Explode ``arr`` one-evaluation-per-row (see module docstring).

    ``keep`` lists the pass-through columns (names or Columns);
    ``pos_alias`` switches to the positional generator, adding the
    position column under that name before ``alias``. ``plain`` uses
    the plain generator instead — the reference form
    tests/test_explode_nonnull.py compares every call site against.
    """
    if plain:
        gen = (
            F.posexplode(arr).alias(pos_alias, alias)
            if pos_alias
            else F.explode(arr).alias(alias)
        )
        return df.select(*keep, gen)
    gen = (
        F.posexplode_outer(arr).alias(pos_alias, alias)
        if pos_alias
        else F.explode_outer(arr).alias(alias)
    )
    return df.select(*keep, gen).where(F.col(alias).isNotNull())
