"""Beyond-HLL re-aggregatable sketch algebra: Theta and KLL.

The reference's whole thesis is "the sketch itself is a first-class,
persistable, re-mergeable column value" (reference docs/docs/index.md:
20-22), delivered for one sketch family (HLL, hll/HLLFunctions.scala).
This module extends the same algebra to the two Datasketches families
Spark 4.1 ships natively, staying 100% inside Catalyst's JVM
expressions (ObjectHashAggregate for the sketch aggregates):

* **Theta sketches** — distinct counting with *full set algebra*.
  Where the reference approximates intersections by inclusion-exclusion
  over HLL (hll/HLLFunctions.scala:573-618, error compounds with
  |A∪B|/|A∩B|), a theta sketch supports exact-algebra ``A ∩ B`` and
  ``A \\ B`` directly on the sketch bytes — strictly more capable, and
  the estimates are exact while sketches stay in exact mode (fewer
  than 2^lgNomEntries retained hashes).
* **KLL sketches** — re-aggregatable *quantiles*: build per-partition
  sketches, persist them, merge later, read any rank — the same
  precompute-then-reaggregate design the reference demonstrates for
  distinct counts (hll/PostgresInteropTest.scala:73-98) applied to
  percentiles. A KLL sketch with parameter ``k`` is an exact order
  statistic until more than ``capacity(k) >= k`` items are retained,
  which the battery exploits for oracle checks.

Null algebra mirrors the reference's HLL contract (HLLFunctions.scala:
135-142, :158-159): aggregates skip nulls; an empty / all-null group
yields a NULL sketch, not an empty one.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

__all__ = [
    "theta_init_agg",
    "theta_merge",
    "theta_cardinality",
    "theta_union_row",
    "theta_intersection_row",
    "theta_difference_row",
    "kll_init_agg",
    "kll_row_merge",
    "kll_quantile",
    "kll_rank",
    "kll_count",
    "kll_weighted_quantiles",
]


def _c(col) -> Column:
    return F.col(col) if isinstance(col, str) else col


def _null_guarded_agg(agg: Column, values: Column) -> Column:
    """Reference null algebra: empty/all-null group -> NULL sketch
    (HLLFunctions.scala:158-159); Spark's builtins return an empty
    sketch instead."""
    return F.when(F.count(values) > 0, agg)


# -- Theta: distinct counting with set algebra ------------------------------


def theta_init_agg(col, lg_nom_entries: int | None = None) -> Column:
    """Aggregate raw values into a theta sketch (binary column).

    Analogue of the reference's ``hll_init_agg``
    (hll/HLLFunctions.scala:240-273) in the theta family; exact while
    the group's distinct count stays below ~2^lg_nom_entries."""
    c = _c(col)
    return _null_guarded_agg(F.theta_sketch_agg(c, lg_nom_entries), c)


def theta_merge(col, lg_nom_entries: int | None = None) -> Column:
    """Union many theta sketches into one — the reaggregation operator,
    analogue of ``hll_merge`` (hll/HLLFunctions.scala:396-439)."""
    c = _c(col)
    return _null_guarded_agg(F.theta_union_agg(c, lg_nom_entries), c)


def theta_cardinality(col) -> Column:
    """Distinct-count estimate of a theta sketch as bigint; NULL in ->
    NULL out (analogue of hll_cardinality, hll/HLLFunctions.scala:
    523-544)."""
    return F.theta_sketch_estimate(_c(col)).cast("bigint")


def theta_union_row(left, right, lg_nom_entries: int | None = None) -> Column:
    """Within-row union of two sketch columns (analogue of
    hll_row_merge, hll/HLLFunctions.scala:458-505), with its null-skip
    algebra: one side NULL -> other side; both NULL -> NULL."""
    l, r = _c(left), _c(right)
    return (
        F.when(l.isNull(), r)
        .when(r.isNull(), l)
        .otherwise(F.theta_union(l, r, lg_nom_entries))
    )


def theta_intersection_row(left, right) -> Column:
    """Within-row sketch intersection — the capability the reference
    only approximates via inclusion-exclusion
    (hll/HLLFunctions.scala:573-618). Its null rules are kept: both
    NULL -> NULL, one NULL -> empty-set sketch semantics (estimate 0)
    via intersecting with the non-null side's complement is not
    representable, so one-NULL yields NULL sketch and callers coalesce
    the *estimate* to 0 (matching hll_intersect_cardinality:605-611)."""
    l, r = _c(left), _c(right)
    return F.when(l.isNotNull() & r.isNotNull(), F.theta_intersection(l, r))


def theta_difference_row(left, right) -> Column:
    """Within-row sketch difference ``A \\ B`` — no HLL analogue exists
    at all; set-difference estimates are a theta-only capability."""
    l, r = _c(left), _c(right)
    return F.when(l.isNotNull() & r.isNotNull(), F.theta_difference(l, r))


# -- KLL: re-aggregatable quantiles -----------------------------------------


def kll_init_agg(col, k: int | None = None) -> Column:
    """Aggregate double values into a KLL quantile sketch.

    ``k`` trades size for accuracy (max 65535); while fewer than
    capacity(k) items have been offered the sketch retains every value
    and all quantiles are exact order statistics."""
    c = _c(col).cast("double")
    return _null_guarded_agg(F.kll_sketch_agg_double(c, k), c)


def kll_row_merge(left, right) -> Column:
    """Merge two KLL sketch columns within a row (scalar, like
    hll_row_merge): null-skip algebra, both NULL -> NULL."""
    l, r = _c(left), _c(right)
    return (
        F.when(l.isNull(), r)
        .when(r.isNull(), l)
        .otherwise(F.kll_sketch_merge_double(l, r))
    )


def kll_quantile(sketch, rank: float) -> Column:
    """Value at normalized rank in [0, 1] (inclusive convention:
    smallest retained value whose cumulative weight >= rank * n).
    The engine rounds the natural rank ``rank * n`` to 1e-7 absolute
    before the inclusive ceil (DataSketches tail rounding), so float
    dust just above an integer rank snaps back down — measured in
    ``test_kll_quantile_is_exact_order_statistic``."""
    return F.kll_sketch_get_quantile_double(_c(sketch), F.lit(float(rank)))


def kll_rank(sketch, value: float) -> Column:
    """Normalized rank of ``value`` in the sketched distribution."""
    return F.kll_sketch_get_rank_double(_c(sketch), F.lit(float(value)))


def kll_count(sketch) -> Column:
    """Total weight (row count) the sketch has absorbed."""
    return F.kll_sketch_get_n_double(_c(sketch)).cast("bigint")


def kll_weighted_quantiles(
    df,
    group_cols: list[str],
    value_col: str,
    weight_col: str,
    ranks: list[float],
    k: int | None = None,
):
    """Weighted quantiles via KLL: each value is offered ``weight``
    times (integer weights, e.g. repeat/line counts) to a per-group
    sketch, then any rank reads off the merged sketch.

    The expansion happens MAP-SIDE, in the same stage as the partial
    ``kll_sketch_agg_double`` — the shuffle carries only k-bounded
    sketch bytes per group, never the expanded rows.  That is the 100
    TB replacement for the global per-group sort+cumsum window the
    exact weighted median needs: CPU scales with total weight, network
    with #groups x sketch size.  Accuracy is KLL's normalized-rank
    guarantee (~0.01% at k=65535), not exact; keep the exact path
    (grid-binned CDF, ``queries_r4.weighted_median_price_sketch``'s
    oracle) for small data or verification.

    Weight contract: weights are INTEGER repeat counts.  Fractional
    weights are truncated toward zero by the int cast (2.7 -> 2
    copies); weights <= 0 or NULL contribute nothing; a group whose
    weights are all <= 0/NULL is ABSENT from the output (no values
    were ever offered, matching the null-sketch algebra above), and a
    weight outside int32 becomes NULL and drops its row.  Callers with
    fractional importance weights should pre-scale to integers at
    their chosen resolution.

    Returns one row per group: (*group_cols, q_<rank>... , n_weight).
    """
    # try_cast, not cast: under ANSI mode (the pyspark-4 default) a
    # plain cast of an out-of-int32 weight would throw CAST_OVERFLOW at
    # runtime (and silently wrap with ANSI off) instead of dropping the
    # row as the contract above promises.
    w = _c(weight_col).try_cast("int")
    expanded = df.select(
        *group_cols,
        F.explode(F.array_repeat(_c(value_col).cast("double"), w)).alias("__v"),
    )
    sk = expanded.groupBy(*group_cols).agg(kll_init_agg("__v", k).alias("__sk"))
    cols = [
        kll_quantile("__sk", q).alias(f"q_{str(q).replace('.', '_')}")
        for q in ranks
    ]
    return sk.select(*group_cols, *cols, kll_count("__sk").alias("n_weight"))


def register_sql(spark) -> None:
    """Register the theta/KLL scalar surface under this engine's SQL
    names (the sketch-family extension of the reference's registry
    pattern, NativeFunctionRegistration.scala:20-26): pure SQL macros
    over the JVM built-ins — Catalyst inlines them, zero Python.  The
    aggregate forms already have SQL names (``theta_sketch_agg``,
    ``theta_union_agg``, ``kll_sketch_agg_double`` ...); these macros
    add the null algebra the DataFrame wrappers guarantee."""
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION theta_cardinality(sk BINARY) "
        "RETURNS BIGINT RETURN CASE WHEN sk IS NULL THEN CAST(NULL AS BIGINT) "
        "ELSE CAST(theta_sketch_estimate(sk) AS BIGINT) END"
    )
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION theta_union_row(a BINARY, b BINARY) "
        "RETURNS BINARY RETURN CASE WHEN a IS NULL THEN b WHEN b IS NULL THEN a "
        "ELSE theta_union(a, b) END"
    )
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION theta_intersection_row("
        "a BINARY, b BINARY) RETURNS BINARY RETURN "
        "CASE WHEN a IS NOT NULL AND b IS NOT NULL "
        "THEN theta_intersection(a, b) END"
    )
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION theta_difference_row("
        "a BINARY, b BINARY) RETURNS BINARY RETURN "
        "CASE WHEN a IS NOT NULL AND b IS NOT NULL "
        "THEN theta_difference(a, b) END"
    )
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION kll_row_merge(a BINARY, b BINARY) "
        "RETURNS BINARY RETURN CASE WHEN a IS NULL THEN b WHEN b IS NULL THEN a "
        "ELSE kll_sketch_merge_double(a, b) END"
    )
    # NB: the rank argument of the JVM built-in must be FOLDABLE, so a
    # rank-parameterized macro cannot resolve; fixed-rank macros only.
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION kll_median(sk BINARY) "
        "RETURNS DOUBLE RETURN "
        "kll_sketch_get_quantile_double(sk, CAST(0.5 AS DOUBLE))"
    )
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION kll_count(sk BINARY) "
        "RETURNS BIGINT RETURN CAST(kll_sketch_get_n_double(sk) AS BIGINT)"
    )
