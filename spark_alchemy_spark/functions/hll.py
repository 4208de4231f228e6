"""The nine-function HLL sketch algebra, PySpark-native.

Re-expresses the reference's product surface (reference
alchemy/.../hll/HLLFunctionRegistration.scala:8-18, DSL
hll/HLLFunctions.scala:676-792) on top of Spark >=3.5's built-in
Datasketches HLL expressions, keeping all aggregation in the JVM.  The
sketch aggregates are TypedImperativeAggregates, so the physical plan
runs them in ObjectHashAggregate: no whole-stage codegen, and a task
falls back to sort-based aggregation past
``spark.sql.objectHashAggregate.sortBased.fallbackThreshold`` (128)
keys:

  ===========================  =====================================
  reference SQL name           engine implementation
  ===========================  =====================================
  hll_init                     Arrow UDF over the JVM cardinality
                               hash; sketch_codec.row_images writes
                               the bytes (no shuffle)
  hll_init_collection          same, over the per-element hashes
  hll_init_agg                 hll_sketch_agg  (+ null-algebra guard)
  hll_init_collection_agg      hll_union_agg over per-row collection
                               sketches
  hll_merge                    hll_union_agg   (+ null-algebra guard)
  hll_row_merge                hll_union folded with null-skip
  hll_cardinality              hll_sketch_estimate
  hll_intersect_cardinality    inclusion-exclusion composition
  hll_convert                  pure-Python byte transcoder (agkn.py)
  ===========================  =====================================

Null algebra reproduced from the reference:
* aggregates skip null inputs; an empty / all-null group yields a NULL
  sketch, not an empty one (HLLFunctions.scala:135-142, :158-159);
* scalar init of NULL -> NULL (nullable = child.nullable, :192-218);
* row-merge skips null sketches, all-null row -> NULL (:486-499);
* intersection: both NULL -> NULL, one NULL -> 0 (:604-611).

All value inputs are first normalized to a 64-bit "cardinality hash"
(see ``hashing.py``) so that every Spark type — including arrays, maps
and structs, which Spark's built-in sketch functions reject — sketches
consistently across the scalar (Python) and aggregate (JVM) paths.
"""

from __future__ import annotations

import functools

import numpy as np
import pyarrow as pa  # module-level: arrow_udf type hints resolve here
import pyarrow.compute as pc
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import arrow_udf

from ..conf import (
    DEFAULT_RELATIVE_SD,
    precision_from_error,
)
from .hashing import cardinality_hash, element_hashes
from .sketch_codec import row_images, union_images

__all__ = [
    "hll_init",
    "hll_init_collection",
    "hll_init_agg",
    "hll_init_collection_agg",
    "hll_merge",
    "hll_row_merge",
    "hll_cardinality",
    "hll_intersect_cardinality",
    "hll_convert",
    "BoundHLL",
    "bound_hll",
    "register",
]


def _col(c) -> Column:
    return c if isinstance(c, Column) else F.col(c)


def _lg_k(relative_sd: float | None) -> int:
    """Error resolution with the reference's precedence: explicit arg >
    session conf (``spark.alchemy.hll.relativeSD``) > 0.05 default
    (reference HLLFunctions.scala:24-61)."""
    if relative_sd is None:
        from pyspark.sql import SparkSession

        from ..conf import DEFAULT_ERROR_CONF_KEY

        spark = SparkSession.getActiveSession()
        if spark is not None:
            conf_sd = spark.conf.get(DEFAULT_ERROR_CONF_KEY, None)
            if conf_sd is not None:
                relative_sd = float(conf_sd)
    return precision_from_error(
        DEFAULT_RELATIVE_SD if relative_sd is None else relative_sd
    )


# ---------------------------------------------------------------------------
# Per-row scalar init (Arrow-batched sketch-byte writer; zero shuffle)
# ---------------------------------------------------------------------------


def _split_rows(v: pa.Array, elements: bool):
    """Lay an Arrow batch out for :func:`sketch_codec.row_images`:
    ``(values, row index of each value, row NULL mask)``.

    With ``elements`` each row is a list whose non-null elements are its
    values (null elements are skipped, the reference's offer rule,
    HLLFunctions.scala:107-108); otherwise each non-null row is one value.
    """
    v = v.combine_chunks() if isinstance(v, pa.ChunkedArray) else v
    null_mask = pc.is_null(v).to_numpy(zero_copy_only=False)
    if not elements:
        return pc.drop_null(v), np.flatnonzero(~null_mask), null_mask
    values, rows = pc.list_flatten(v), pc.list_parent_indices(v)
    if values.null_count:
        valid = pc.is_valid(values)
        values, rows = values.filter(valid), rows.filter(valid)
    return values, rows.to_numpy(zero_copy_only=False), null_mask


@functools.lru_cache(maxsize=None)
def _hashed_rows_udf(lg_k: int, elements: bool):
    """Arrow UDF: JVM cardinality hashes (BIGINT, or ``array<bigint>``
    element hashes when ``elements``) -> one sketch per row."""

    @arrow_udf("binary")
    def sketch_rows(v: pa.Array) -> pa.Array:
        hashes, rows, null_mask = _split_rows(v, elements)
        return row_images(hashes.to_numpy(zero_copy_only=False), rows, null_mask, lg_k)

    return sketch_rows


def hll_init(col, relative_sd: float | None = None, dtype: T.DataType | None = None) -> Column:
    """Per-row sketch of one value; NULL in -> NULL out.

    reference: HyperLogLogInitSimple, HLLFunctions.scala:192-218.
    ``dtype`` is required only for array/map/struct inputs.
    """
    h = cardinality_hash(_col(col), dtype)
    return _hashed_rows_udf(_lg_k(relative_sd), False)(h)


def hll_init_collection(
    col, relative_sd: float | None = None, dtype: T.DataType | None = None
) -> Column:
    """Per-row sketch of a collection's *elements* (map: k->v entries).

    Null elements are skipped, an empty collection yields a cardinality-0
    sketch, a NULL collection yields NULL.
    reference: HyperLogLogInitCollection, HLLFunctions.scala:294-321,
    offer logic :103-124.
    """
    hashes = element_hashes(_col(col), dtype)
    return _hashed_rows_udf(_lg_k(relative_sd), True)(hashes)


# ---------------------------------------------------------------------------
# Aggregates (pure JVM: Datasketches TypedImperativeAggregate, planned as
# ObjectHashAggregate, which has no whole-stage codegen)
# ---------------------------------------------------------------------------


def hll_init_agg(
    col, relative_sd: float | None = None, dtype: T.DataType | None = None
) -> Column:
    """One sketch per group from raw values; empty/all-null group -> NULL.

    reference: HyperLogLogInitSimpleAgg, HLLFunctions.scala:240-273.
    """
    c = _col(col)
    lg_k = _lg_k(relative_sd)
    h = cardinality_hash(c, dtype)
    return F.when(
        F.count(h) > 0, F.hll_sketch_agg(h, F.lit(lg_k))
    ).otherwise(F.lit(None).cast("binary"))


def hll_init_collection_agg(
    col, relative_sd: float | None = None, dtype: T.DataType | None = None
) -> Column:
    """One sketch per group from all elements of all collections.

    reference: HyperLogLogInitCollectionAgg, HLLFunctions.scala:343-377.
    Composition: per-row collection sketches unioned by the JVM
    aggregate.  NULL collections are skipped; a group of only NULLs (or
    no rows) -> NULL; empty collections contribute empty sketches, so a
    group of them -> cardinality-0 sketch (matching the reference's
    offer semantics).
    """
    sk = hll_init_collection(col, relative_sd, dtype)
    return hll_merge(sk)


def hll_merge(col) -> Column:
    """Union many sketches into one (the reaggregation operator).

    Skips NULL sketches; no non-null input -> NULL.
    reference: HyperLogLogMerge, HLLFunctions.scala:396-439.
    """
    c = _col(col)
    return F.when(
        F.count(c) > 0, F.hll_union_agg(c, F.lit(True))
    ).otherwise(F.lit(None).cast("binary"))


def hll_row_merge(*cols) -> Column:
    """Variadic scalar union of N sketch columns within one row.

    NULL sketches are skipped; all-NULL -> NULL.
    reference: HyperLogLogRowMerge, HLLFunctions.scala:458-505.
    """
    if not cols:
        raise ValueError("hll_row_merge requires at least one column")
    acc = _col(cols[0])
    for nxt in cols[1:]:
        n = _col(nxt)
        acc = (
            F.when(acc.isNull(), n)
            .when(n.isNull(), acc)
            .otherwise(F.hll_union(acc, n, True))
        )
    return acc


def hll_cardinality(col) -> Column:
    """Sketch -> estimated distinct count; NULL -> NULL.

    reference: HyperLogLogCardinality, HLLFunctions.scala:523-544.
    """
    return F.hll_sketch_estimate(_col(col))


def hll_intersect_cardinality(left, right) -> Column:
    """Inclusion-exclusion intersection estimate.

    ``max(|A| + |B| - |A u B|, 0)``; both NULL -> NULL, one NULL -> 0.
    reference: HyperLogLogIntersectionCardinality,
    HLLFunctions.scala:573-618 (:604-611 for the null rules).
    """
    a, b = _col(left), _col(right)
    est = F.greatest(
        F.hll_sketch_estimate(a)
        + F.hll_sketch_estimate(b)
        - F.hll_sketch_estimate(F.hll_union(a, b, True)),
        F.lit(0).cast("long"),
    )
    return (
        F.when(a.isNull() & b.isNull(), F.lit(None).cast("long"))
        .when(a.isNull() | b.isNull(), F.lit(0).cast("long"))
        .otherwise(est)
    )


def hll_convert(col, impl_from: str = "DS", impl_to: str = "AGKN") -> Column:
    """Convert sketch bytes between backend formats, register-by-register.

    Supported: DS -> AGKN (postgresql-hll compatible), STRM -> AGKN
    (the reference's own conversion, HLLFunctions.scala:641-670; codec
    hll/package.scala:15-61), and DS -> STRM (export for consumers
    reading stream-lib bytes).  Converted sketches estimate the same
    cardinality but must never be MERGED with natively-built sketches
    of the other system (different input hashes —
    HLLFunctions.scala:628-630).
    """
    f, t = impl_from.upper(), impl_to.upper()
    if (f, t) == ("DS", "AGKN"):
        from .agkn import ds_to_agkn_udf

        return ds_to_agkn_udf()(_col(col))
    if (f, t) == ("STRM", "AGKN"):
        from .strm import strm_to_agkn_udf

        return strm_to_agkn_udf()(_col(col))
    if (f, t) == ("DS", "STRM"):
        from .strm import ds_to_strm_udf

        return ds_to_strm_udf()(_col(col))
    raise ValueError(
        f"Conversion from {impl_from!r} to {impl_to!r} is not supported "
        "(DS -> AGKN, STRM -> AGKN, DS -> STRM)."
    )


# ---------------------------------------------------------------------------
# BoundHLL: fix the error rate once (reference hll/BoundHLL.scala:12-58)
# ---------------------------------------------------------------------------


class BoundHLL:
    """All ``hll_init*`` variants with the error bound fixed up front."""

    def __init__(self, relative_sd: float):
        precision_from_error(relative_sd)  # eager validation, like the reference
        self.relative_sd = relative_sd

    def hll_init(self, col, dtype=None) -> Column:
        return hll_init(col, self.relative_sd, dtype)

    def hll_init_collection(self, col, dtype=None) -> Column:
        return hll_init_collection(col, self.relative_sd, dtype)

    def hll_init_agg(self, col, dtype=None) -> Column:
        return hll_init_agg(col, self.relative_sd, dtype)

    def hll_init_collection_agg(self, col, dtype=None) -> Column:
        return hll_init_collection_agg(col, self.relative_sd, dtype)

    # error-independent functions pass through for convenience
    hll_merge = staticmethod(hll_merge)
    hll_row_merge = staticmethod(hll_row_merge)
    hll_cardinality = staticmethod(hll_cardinality)
    hll_intersect_cardinality = staticmethod(hll_intersect_cardinality)


def bound_hll(relative_sd: float) -> BoundHLL:
    return BoundHLL(relative_sd)


# ---------------------------------------------------------------------------
# SQL registration
# ---------------------------------------------------------------------------


def register(spark) -> None:
    """Register ALL NINE reference SQL names on a session, so
    ``spark.sql("SELECT hll_init_agg(x) ... GROUP BY g")`` resolves the
    same surface as the reference's registry
    (expressions/NativeFunctionRegistration.scala:13-85, name list
    HLLFunctionRegistration.scala:8-18).

    Exactly these ten names are created: the nine, plus
    ``agkn_cardinality``.  Two tiers:

    * ``hll_cardinality`` / ``hll_intersect_cardinality`` /
      ``hll_row_merge`` are SQL macros over the JVM built-ins — fully
      Catalyst-inlined, zero Python.
    * the init/aggregate/convert forms are Arrow UDFs / UDAFs hashing
      with :mod:`pyxxh` (bit-identical to the JVM ``cardinality_hash``).
      ``hll_init`` / ``hll_init_collection`` / ``hll_init_agg`` /
      ``hll_init_collection_agg`` write their bytes with the same
      :func:`sketch_codec.row_images` as the DataFrame ``hll_init*``,
      so the per-row forms are byte-identical to their DataFrame twins
      and SQL-built sketches MERGE correctly with DataFrame-built ones.
      Note the UDAF forms materialize each group's values (no partial
      aggregation — a Spark grouped-agg UDF limitation); they are the
      SQL *compatibility* surface.  The DataFrame API
      (``hll_init_agg``/``hll_merge`` above) stays on JVM aggregates
      with partial aggregation and is the path for heavy pipelines.
    """
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION hll_cardinality(sk BINARY) "
        "RETURNS BIGINT RETURN hll_sketch_estimate(sk)"
    )
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION hll_intersect_cardinality("
        "a BINARY, b BINARY) RETURNS BIGINT RETURN "
        "CASE WHEN a IS NULL AND b IS NULL THEN CAST(NULL AS BIGINT) "
        "WHEN a IS NULL OR b IS NULL THEN 0L "
        "ELSE greatest(hll_sketch_estimate(a) + hll_sketch_estimate(b) "
        "- hll_sketch_estimate(hll_union(a, b, true)), 0L) END"
    )
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION hll_row_merge(a BINARY, b BINARY) "
        "RETURNS BINARY RETURN CASE WHEN a IS NULL THEN b WHEN b IS NULL THEN a "
        "ELSE hll_union(a, b, true) END"
    )

    from .hashing import BINARY_SEED
    from .pyxxh import hash_arrow_values, xxh64_long

    lg_k = _lg_k(None)  # error resolution at registration time
    bin_seed = xxh64_long(BINARY_SEED)

    def sketch_group(values: pa.Array, is_null: bool) -> bytes | None:
        # one group is one row of the per-row writer
        hashes = hash_arrow_values(values, bin_seed)
        rows = np.zeros(len(hashes), dtype=np.int64)
        return row_images(hashes, rows, np.array([is_null]), lg_k)[0].as_py()

    @arrow_udf("binary")
    def _sql_init_agg(v: pa.Array) -> bytes:
        return sketch_group(v, v.null_count == len(v))  # all-null -> NULL

    @arrow_udf("binary")
    def _sql_init_collection_agg(v: pa.Array) -> bytes:
        v = v.combine_chunks() if isinstance(v, pa.ChunkedArray) else v
        # only NULL collections -> NULL sketch; flatten() drops null
        # lists, null ELEMENTS are skipped by the hash layer
        return sketch_group(v.flatten(), v.null_count == len(v))

    @arrow_udf("binary")
    def _sql_merge(v: pa.Array) -> bytes:
        return union_images(v.to_pylist())

    def sql_rows_udf(elements: bool):
        @arrow_udf("binary")
        def sketch_rows(v: pa.Array) -> pa.Array:
            values, rows, null_mask = _split_rows(v, elements)
            return row_images(hash_arrow_values(values, bin_seed), rows, null_mask, lg_k)

        return sketch_rows

    @arrow_udf("binary")
    def _sql_convert(sk: pa.Array, impl_from: pa.Array, impl_to: pa.Array) -> pa.Array:
        from ..conf import resolve_backend
        from .agkn import ds_to_agkn
        from .strm import ds_to_strm, strm_to_agkn

        pairs = {
            ("DS", "AGKN"): ds_to_agkn,
            ("STRM", "AGKN"): strm_to_agkn,
            ("DS", "STRM"): ds_to_strm,
        }
        out = []
        for b, f, t in zip(
            sk.to_pylist(), impl_from.to_pylist(), impl_to.to_pylist()
        ):
            key = (
                resolve_backend(None, f, for_conversion=True),
                resolve_backend(None, t, for_conversion=True),
            )
            if key not in pairs:
                raise ValueError(f"Conversion {f!r} -> {t!r} is not supported")
            out.append(pairs[key](b))
        return pa.array(out, type=pa.binary())

    @arrow_udf("bigint")
    def _sql_agkn_cardinality(images: pa.Array) -> pa.Array:
        from .agkn import agkn_cardinality

        return pa.array(
            [
                None if b is None else round(agkn_cardinality(bytes(b)))
                for b in images.to_pylist()
            ],
            type=pa.int64(),
        )

    spark.udf.register("hll_init_agg", _sql_init_agg)
    spark.udf.register("hll_init_collection_agg", _sql_init_collection_agg)
    spark.udf.register("hll_merge", _sql_merge)
    spark.udf.register("hll_init", sql_rows_udf(False))
    spark.udf.register("hll_init_collection", sql_rows_udf(True))
    spark.udf.register("hll_convert", _sql_convert)
    # estimator over converted postgresql-hll bytes (what the reference's
    # interop test reads back from Postgres, PostgresInteropTest.scala:88-98)
    spark.udf.register("agkn_cardinality", _sql_agkn_cardinality)
