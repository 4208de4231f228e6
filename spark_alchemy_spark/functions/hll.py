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
  hll_init                     JVM UDF RowSketch (Datasketches
                               HllSketch, RowSketch.java) over the
                               cardinality hash (no shuffle)
  hll_init_collection          same, over the per-element hashes
  hll_init_agg                 hll_sketch_agg  (+ empty-group guard)
  hll_init_collection_agg      hll_union_agg over per-row collection
                               sketches
  hll_merge                    hll_union_agg   (+ empty-group guard)
  hll_row_merge                one aggregate() over the row's array:
                               null-skip left fold of hll_union
  hll_cardinality              hll_sketch_estimate
  hll_intersect_cardinality    inclusion-exclusion composition
  hll_convert                  Arrow UDF over one per-value
                               transcoder; agkn.py, strm.py and
                               sketch_codec.py each own one format
  ===========================  =====================================

The table holds for SQL text too: :func:`register` resolves each SQL
name, at analysis time, to the expression its DataFrame function builds.

Null algebra reproduced from the reference:
* aggregates skip null inputs; an empty / all-null group yields a NULL
  sketch, not an empty one (HLLFunctions.scala:135-142, :158-159);
* scalar init of NULL -> NULL (nullable = child.nullable, :192-218);
* row-merge skips null sketches, all-null row -> NULL (:486-499);
* intersection: both NULL -> NULL, one NULL -> 0 (:604-611).
The first and third rules are :func:`null_guarded_agg` and
:func:`null_skip_row_fold`, shared with theta and KLL (``sketches.py``).

All value inputs are first normalized to a 64-bit "cardinality hash"
(see ``hashing.py``) so that every Spark type — including arrays, maps
and structs, which Spark's built-in sketch functions reject — sketches
consistently across the per-row and aggregate paths, both in the JVM.
"""

from __future__ import annotations

import functools

import pyarrow as pa  # module-level: arrow_udf type hints resolve here
from py4j.java_gateway import JavaClass
from py4j.protocol import Py4JJavaError
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.classic.column import _to_seq
from pyspark.sql.functions import arrow_udf
from pyspark.sql.pandas.types import to_arrow_type
from pyspark.sql.utils import get_active_spark_context

from ..conf import (
    DEFAULT_ERROR_CONF_KEY,
    DEFAULT_RELATIVE_SD,
    precision_from_error,
    sketch_format,
)
from . import agkn, strm
from .hashing import _col, cardinality_hash, element_hashes

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
    "agkn_cardinality",
    "BoundHLL",
    "bound_hll",
    "register",
]


def _lg_k(relative_sd: float | None) -> int:
    """Error resolution with the reference's precedence: explicit arg >
    session conf (``spark.alchemy.hll.relativeSD``) > 0.05 default
    (reference HLLFunctions.scala:24-61)."""
    if relative_sd is None:
        from pyspark.sql import SparkSession

        spark = SparkSession.getActiveSession()
        if spark is not None:
            conf_sd = spark.conf.get(DEFAULT_ERROR_CONF_KEY, None)
            if conf_sd is not None:
                relative_sd = float(conf_sd)
    return precision_from_error(
        DEFAULT_RELATIVE_SD if relative_sd is None else relative_sd
    )


# ---------------------------------------------------------------------------
# Null algebra shared by every sketch family
# ---------------------------------------------------------------------------


def null_guarded_agg(agg: Column, values: Column) -> Column:
    """``agg`` where the group has a non-NULL ``values``, else NULL: an
    empty or all-NULL group gives a NULL sketch (HLLFunctions.scala:
    158-159), where Spark's sketch aggregates give an empty one."""
    return F.when(F.count(values) > 0, agg)


def null_skip_row_fold(cols, union) -> Column:
    """Left fold of ``union(acc, x)`` over a row's sketch columns, NULLs
    skipped (all NULL -> NULL; HLLFunctions.scala:486-499).  One
    ``aggregate`` references ``acc`` once, so the plan holds one
    ``union`` for any number of columns; the binary cast lets SQL
    ``NULL`` literals type-check."""
    return F.aggregate(
        F.array(*[_col(c).cast("binary") for c in cols]),
        F.lit(None).cast("binary"),
        lambda acc, x: F.when(x.isNull(), acc)
        .when(acc.isNull(), x)
        .otherwise(union(acc, x)),
    )


# ---------------------------------------------------------------------------
# Per-row scalar init (one JVM UDF over Datasketches HllSketch; zero shuffle)
# ---------------------------------------------------------------------------


def _row_sketch(hashes: Column, lg_k: int) -> Column:
    """``RowSketch.java`` over each row's ``array<bigint>`` of hashes: the
    bytes a one-partition ``hll_sketch_agg`` writes for them, in order
    (HIP included); NULL array -> NULL."""
    sc = get_active_spark_context()
    row_sketch = sc._jvm.spark_alchemy.RowSketch
    if not isinstance(row_sketch, JavaClass):
        raise RuntimeError(
            "hll_init* need spark_alchemy.RowSketch on the JVM classpath: build "
            "the session with spark_alchemy_spark.session.build_session, which "
            "compiles it, or start the JVM with spark.jars=session.row_sketch_jar()"
        )
    binary = sc._jvm.org.apache.spark.sql.types.DataTypes.BinaryType
    judf = sc._jvm.org.apache.spark.sql.functions.udf(row_sketch(), binary)
    return Column(judf.apply(_to_seq(sc, [hashes._jc, F.lit(lg_k)._jc])))


def hll_init(col, relative_sd: float | None = None, dtype: T.DataType | None = None) -> Column:
    """Per-row sketch of one value (:func:`_row_sketch` of its hash);
    NULL in -> NULL out.

    reference: HyperLogLogInitSimple, HLLFunctions.scala:192-218.
    ``dtype`` is required only for array/map/struct inputs.
    """
    h = cardinality_hash(col, dtype)
    return _row_sketch(F.when(h.isNotNull(), F.array(h)), _lg_k(relative_sd))


def hll_init_collection(
    col, relative_sd: float | None = None, dtype: T.DataType | None = None
) -> Column:
    """Per-row sketch of a collection's *elements* (map: k->v entries).

    Null elements are skipped, an empty collection yields a cardinality-0
    sketch, a NULL collection yields NULL (:func:`_row_sketch`).
    reference: HyperLogLogInitCollection, HLLFunctions.scala:294-321,
    offer logic :103-124.
    """
    return _row_sketch(element_hashes(col, dtype), _lg_k(relative_sd))


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
    h = cardinality_hash(col, dtype)
    return null_guarded_agg(F.hll_sketch_agg(h, F.lit(_lg_k(relative_sd))), h)


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
    return null_guarded_agg(F.hll_union_agg(c, F.lit(True)), c)


def hll_row_merge(*cols) -> Column:
    """Variadic scalar union of N sketch columns within one row.

    NULL sketches are skipped; all-NULL -> NULL (:func:`null_skip_row_fold`).
    reference: HyperLogLogRowMerge, HLLFunctions.scala:458-505.
    """
    if not cols:
        raise ValueError("hll_row_merge requires at least one column")
    return null_skip_row_fold(cols, lambda acc, x: F.hll_union(acc, x, True))


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


#: (from, to) format names -> per-value transcoder of one sketch image.
_CONVERSIONS = {
    ("DS", "AGKN"): agkn.ds_to_agkn,
    ("STRM", "AGKN"): agkn.strm_to_agkn,
    ("DS", "STRM"): strm.ds_to_strm,
}


@functools.lru_cache(maxsize=None)
def _per_value_udf(fn, return_type: T.DataType):
    """Arrow UDF applying ``fn`` to each non-NULL value; NULL stays NULL.
    The one seam between the interop functions and the Python codecs."""
    arrow_type = to_arrow_type(return_type)

    @arrow_udf(return_type)
    def per_value(v: pa.Array) -> pa.Array:
        return pa.array(
            [None if b is None else fn(b) for b in v.to_pylist()], type=arrow_type
        )

    return per_value


def hll_convert(col, impl_from: str = "DS", impl_to: str = "AGKN") -> Column:
    """Convert sketch bytes between backend formats, register-by-register.

    Supported: DS -> AGKN (postgresql-hll compatible), STRM -> AGKN
    (the reference's own conversion, HLLFunctions.scala:641-670; codec
    hll/package.scala:15-61), and DS -> STRM (export for consumers
    reading stream-lib bytes).  Format names are case-insensitive and
    ``streamlib`` means STRM (``conf.sketch_format``).  Converted
    sketches estimate the same cardinality but must never be MERGED
    with natively-built sketches of the other system (different input
    hashes — HLLFunctions.scala:628-630).
    """
    key = (sketch_format(impl_from), sketch_format(impl_to))
    if key not in _CONVERSIONS:
        raise ValueError(
            f"Conversion from {impl_from!r} to {impl_to!r} is not supported "
            "(DS -> AGKN, STRM -> AGKN, DS -> STRM)."
        )
    return _per_value_udf(_CONVERSIONS[key], T.BinaryType())(_col(col))


def _rounded_agkn_cardinality(data: bytes) -> int:
    return round(agkn.agkn_cardinality(data))


def agkn_cardinality(col) -> Column:
    """Rounded estimate of postgresql-hll bytes, as postgresql-hll's
    ``hll_cardinality`` reads them back in the reference's interop test
    (PostgresInteropTest.scala:88-98); NULL -> NULL."""
    return _per_value_udf(_rounded_agkn_cardinality, T.LongType())(_col(col))


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


#: SQL name -> (DataFrame function, column arguments (None: any number),
#: optional literal arguments after them, init form).  An init form also
#: gets the input's resolved type and, without a literal relativeSD, the
#: session's ``spark.alchemy.hll.relativeSD`` as it is at analysis time.
_SQL_FUNCTIONS = {
    "hll_init": (hll_init, 1, 1, True),
    "hll_init_collection": (hll_init_collection, 1, 1, True),
    "hll_init_agg": (hll_init_agg, 1, 1, True),
    "hll_init_collection_agg": (hll_init_collection_agg, 1, 1, True),
    "hll_merge": (hll_merge, 1, 0, False),
    "hll_row_merge": (hll_row_merge, None, 0, False),
    "hll_cardinality": (hll_cardinality, 1, 0, False),
    "hll_intersect_cardinality": (hll_intersect_cardinality, 2, 0, False),
    "hll_convert": (hll_convert, 1, 2, False),
    "agkn_cardinality": (agkn_cardinality, 1, 0, False),
}


class _SqlBuilder:
    """Catalyst ``FunctionBuilder`` (``Seq[Expression] => Expression``)
    for one SQL name, called by the analyzer once the call's arguments
    are resolved.  It wraps them as Columns, calls the DataFrame function
    of the same name and returns that Column's expression, so a SQL call
    and its DataFrame twin plan the same tree."""

    def __init__(self, spark, name: str, spec: tuple):
        self.spark, self.name, self.spec = spark, name, spec

    def apply(self, args):
        """The Column's expression; any error is re-raised as a JVM
        ``IllegalArgumentException`` whose message starts with the SQL
        name (``register_functions`` has py4j throw it on the analyzer's
        side, so the caller sees it, not a py4j wrapper)."""
        try:
            return self._build(args)
        except Exception as e:
            msg = e.java_exception.getMessage() if isinstance(e, Py4JJavaError) else e
            error = self.spark._jvm.java.lang.IllegalArgumentException(f"{self.name}: {msg}")
            raise Py4JJavaError("", error) from e

    def _build(self, args):
        fn, n_cols, n_lits, init = self.spec
        exprs = [args.apply(i) for i in range(args.length())]
        n_cols = len(exprs) if n_cols is None else n_cols
        if not n_cols <= len(exprs) <= n_cols + n_lits:
            expected = f"{n_cols} to {n_cols + n_lits}" if n_lits else n_cols
            raise TypeError(f"{self.name} takes {expected} arguments, got {len(exprs)}")
        to_column = self.spark._jvm.org.apache.spark.sql.classic.ExpressionUtils.column
        cols = [Column(to_column(e)) for e in exprs[:n_cols]]
        lits = [self._literal(e) for e in exprs[n_cols:]]
        if init:
            sd = lits[0] if lits else self.spark.conf.get(
                DEFAULT_ERROR_CONF_KEY, str(DEFAULT_RELATIVE_SD)
            )
            dtype = T._parse_datatype_json_string(exprs[0].dataType().json())
            col = fn(cols[0], float(sd), dtype)
        else:
            col = fn(*cols, *lits)
        return self.spark._jsparkSession.expression(col._jc)

    def _literal(self, e):
        """A literal argument's value: py4j ints and floats as they are,
        anything else (strings, decimals) as its string form."""
        value = e.eval(None) if e.foldable() else None
        if value is None:
            raise ValueError(f"argument {e.sql()} must be a non-NULL literal")
        return value if isinstance(value, (int, float)) else str(value)

    class Java:
        implements = ["scala.Function1"]


def register_functions(spark, table: dict) -> None:
    """Install one :class:`_SqlBuilder` per row of ``table`` (laid out as
    :data:`_SQL_FUNCTIONS`) as a temporary function of ``spark``.  The
    builders run in this Python process through the py4j callback
    server, which classic Spark provides (``foreachBatch`` uses the
    same), set to throw a builder's Java exception as it is.  Under
    pyspark's pinned-thread ``ClientServer`` the callback parameters
    are its ``python_parameters``."""
    from pyspark.java_gateway import ensure_callback_server_started

    gateway = spark.sparkContext._gateway
    ensure_callback_server_started(gateway)
    gateway.callback_server_parameters.propagate_java_exceptions = True
    registry = spark._jsparkSession.sessionState().functionRegistry()
    for name, spec in table.items():
        registry.createOrReplaceTempFunction(name, _SqlBuilder(spark, name, spec), "scala_udf")


def register(spark) -> None:
    """Register this engine's SQL names as temporary functions of
    ``spark``: the nine reference names plus ``agkn_cardinality``, the
    way the reference's ``NativeFunctionRegistration`` does
    (NativeFunctionRegistration.scala:13-85, name list
    HLLFunctionRegistration.scala:8-18), and the seven theta/KLL names
    of ``sketches._SQL_FUNCTIONS`` — seventeen names, one call.

    Each name is a py4j :class:`_SqlBuilder` in the session's function
    registry: the analyzer hands it the resolved arguments and gets back
    the expression of the DataFrame function of the same name, so
    ``spark.sql("SELECT hll_init_agg(x) ... GROUP BY g")`` plans the same
    partial ``hll_sketch_agg`` as ``hll_init_agg("x")`` and writes the
    same bytes.  SQL takes what the DataFrame API takes: any input type
    (struct, array and map included), an optional literal relativeSD
    (``hll_init_agg(x, 0.01)``, validated at analysis), a variadic
    ``hll_row_merge`` and literal ``hll_convert`` format names.  An
    un-aliased call's output column is named after that expression, not
    the SQL name.  A call the builder rejects (wrong argument count, a
    non-literal where a literal belongs, an unknown format) fails at
    analysis with an ``IllegalArgumentException`` naming the function.
    """
    from .sketches import _SQL_FUNCTIONS as sketch_functions  # imports hll

    register_functions(spark, {**_SQL_FUNCTIONS, **sketch_functions})
