"""End-to-end corpus curation: the composed pipeline a training-data
build actually runs, as one DataFrame transform chain.

    quality filter  ->  language filter  ->  exact dedup (fingerprint)
      ->  near-dedup (MinHash-LSH connected components, greedy)
      ->  token accounting

Each stage is one of this engine's primitive operators; composing them
here pins the stage *order* that matters at 100 TB: cheap row-local
filters first (quality, language — codegen, no shuffle), then the
shuffle-bearing dedups over the already-reduced survivor set, then
bookkeeping aggregates.

The near-dedup stage resolves candidate pairs to survivors through
``dedup.pairs_to_comp_map``, the one component machine every dedup
family shares: it counts the pairs, closes a small list by union-find
on the driver and a large one by distributed min-label connected
components (operators/graph.py), so adversarial corpora (low
thresholds, dirty data) stay executor-side instead of OOMing the
driver.  Every document that is not its component's minimum is
dropped.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.text import doc_fingerprint, lang_id, quality_flags, token_count
from .dedup import minhash_lsh_pairs, pairs_to_comp_map


def curate_corpus(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_tokens: int = 20,
    max_mean_token_len: float = 12.0,
    keep_langs: tuple[str, ...] | None = None,
    near_dup_threshold: float | None = 0.5,
    num_perm: int = 64,
    bands: int = 16,
) -> DataFrame:
    """Curated survivor set with per-document bookkeeping columns
    (``lang_pred``, ``n_tokens``).  Deterministic: smallest id survives
    every dedup stage."""
    flagged = docs.select(
        F.col(id_col),
        F.col(text_col),
        lang_id(text_col).alias("lang_pred"),
        token_count(text_col).alias("n_tokens"),
        quality_flags(text_col, min_tokens, max_mean_token_len).alias("__keep"),
    ).filter(F.col("__keep"))
    if keep_langs:
        flagged = flagged.filter(F.col("lang_pred").isin(*keep_langs))

    # exact dedup on the order-insensitive fingerprint: one shuffle on a
    # 128-bit key; smallest id survives
    exact = (
        flagged.withColumn("__fp", doc_fingerprint(text_col))
        .withColumn("__min_id", F.min(id_col).over(Window.partitionBy("__fp")))
        .filter(F.col(id_col) == F.col("__min_id"))
        .drop("__fp", "__min_id", "__keep")
    )

    if near_dup_threshold is None:
        return exact

    pairs = near_dup_pairs(
        exact, id_col, text_col,
        threshold=near_dup_threshold, num_perm=num_perm, bands=bands,
    )
    return apply_near_dedup(exact, pairs, id_col)


def near_dup_pairs(
    exact: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.5,
    num_perm: int = 64,
    bands: int = 16,
) -> DataFrame:
    """Stage 2 of the curation pipeline as a standalone operator: the
    MATERIALIZED near-dup candidate pair list over the exact-stage
    survivors.  Exposed separately so a production pipeline can persist
    the pairs (they're the audit trail for every dropped doc) and so
    composed reports don't recompute the MinHash pass per consumer —
    the checkpoint makes every downstream read (volume-guard count,
    loser resolution, invariant checks) reuse one computation."""
    return (
        minhash_lsh_pairs(
            exact, id_col, text_col, num_perm=num_perm, bands=bands,
            threshold=threshold,
        )
        .select("id_a", "id_b")
        .localCheckpoint(eager=True)
    )


def apply_near_dedup(
    exact: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
) -> DataFrame:
    """Stage 3: resolve near-dup pairs to survivors.  Anti-joins
    ``exact`` against the non-minimum nodes of
    ``dedup.pairs_to_comp_map(pairs)`` — the counted driver /
    distributed guard lives there, once — so the smallest id of every
    near-dup component survives.  With no pairs the loser set is empty
    and ``exact``'s rows come back unchanged."""
    losers = (
        pairs_to_comp_map(pairs)
        .filter(F.col("node") != F.col("comp"))
        .select(F.col("node").alias(id_col))
    )
    return exact.join(losers, on=id_col, how="left_anti")


def curation_report(
    docs: DataFrame,
    curated: DataFrame,
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-language accounting of the curated corpus: surviving docs and
    token budget (the numbers a data-mixing step consumes)."""
    return (
        curated.groupBy("lang_pred")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("n_tokens"),
        )
        .orderBy("lang_pred")
    )


def winsorize(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    lo: float = 0.01,
    hi: float = 0.99,
    out_col: str | None = None,
) -> DataFrame:
    """Per-group winsorization: clamp ``value_col`` to its group's
    exact [``lo``, ``hi``] quantiles (linear interpolation — the
    classic outlier treatment before averaging/regressing over skewed
    features).  The bounds table is one grouped
    ``percentile(col, array(lo, hi))`` aggregate — a single buffer per
    group, broadcast back for the clamp, so the fact table never
    shuffles; at 100 TB swap the exact percentile for a per-group KLL
    (``functions.sketches``) and keep the same broadcast-clamp shape.

    NULL handling: a NULL value stays NULL (greatest/least SKIP
    nulls, so an unguarded clamp would fabricate the upper bound for
    missing measurements); rows whose group keys contain NULL clamp
    against their own NULL-group bounds (null-safe join, matching the
    groupBy's NULL group) — winsorize never changes the row count.

    Returns ``df`` plus ``out_col`` (default ``<value_col>_wins``).
    """
    if not 0 <= lo <= hi <= 1:
        raise ValueError("need 0 <= lo <= hi <= 1")
    out_col = out_col or f"{value_col}_wins"
    bounds = df.groupBy(*group_cols).agg(
        F.expr(f"percentile({value_col}, array({lo}, {hi}))").alias("__b")
    ).select(
        *[F.col(g).alias(f"__g_{g}") for g in group_cols],
        F.element_at("__b", 1).alias("__lo"),
        F.element_at("__b", 2).alias("__hi"),
    )
    cond = None
    for g in group_cols:
        c = df[g].eqNullSafe(bounds[f"__g_{g}"])
        cond = c if cond is None else cond & c
    clamp = F.when(
        F.col(value_col).isNotNull() & F.col("__lo").isNotNull(),
        F.greatest(F.col("__lo"), F.least(F.col("__hi"), F.col(value_col))),
    ).otherwise(F.col(value_col))
    return (
        df.join(F.broadcast(bounds), cond, "left")
        .withColumn(out_col, clamp)
        .drop("__lo", "__hi", *[f"__g_{g}" for g in group_cols])
    )
