"""Cardinality-consistent hashing: every sketchable value becomes an
``xxhash64``-derived BIGINT, computed entirely JVM-side.

Why: Spark's Datasketches built-ins accept only INT/BIGINT/STRING/BINARY
and (like Spark's plain ``hash``/``xxhash64``) treat a null array element
as a no-op, so ``[null]`` and ``[]`` would collide.  The reference solves
this with a type-tagged, null-distinguishing xxHash64
(``CardinalityHashFunction``, reference
alchemy/.../hll/CardinalityHashFunction.scala:13-47); we reproduce the
*invariants* (not the exact bits) with a recursive Column builder over
built-in functions:

  null != [] != [null] != [null, null];  null != '';
  [a, null] != [null, a];  {} != {null: null};
  struct(null, a) != struct(a, null)     (FIXTURES.md F5)

Design contract (used by both the aggregate path, ``hll_sketch_agg``,
and the per-row sketch writer, ``RowSketch.java``; both feed the hash to
Datasketches ``update(long)``):

* a **non-null primitive** hashes to ``xxhash64(value)`` (Spark seed 42);
* a **null nested inside a collection/struct** hashes to ``NULL_HASH``
  (top-level nulls are never hashed — they are skipped / propagated by the
  HLL functions, reference HLLFunctions.scala:135-142);
* an **array** hashes to a left fold ``acc = xxhash64(acc, elem_hash)``
  seeded with ``ARRAY_SEED`` — order-sensitive, length-sensitive;
* a **map** hashes to ``MAP_SEED XOR xxhash64(key_hash, value_hash)...``
  — order-insensitive (map entry order is an implementation detail),
  mirroring the reference's key->value hash chaining
  (HLLFunctions.scala:112-118);
* a **struct** hashes to ``xxhash64(STRUCT_SEED, f1_hash, ..., fn_hash)``
  — order-sensitive in the fields.

Everything below compiles to built-in JVM expressions (``xxhash64``,
``aggregate``, ``transform``, ``map_entries``) — no Python in the hot
path.  It is not all whole-stage codegen: the higher-order functions
(``aggregate``, ``transform``) are interpreted, and under
``hll_init_agg`` the hash is evaluated inside the ObjectHashAggregate,
which has no whole-stage codegen.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

# Fixed 64-bit tags.  Arbitrary odd constants, distinct from each other;
# they only need to be stable (they are part of the sketch-bytes contract
# between the aggregate and the per-row paths).
NULL_HASH = -7046029254386353131
ARRAY_SEED = 4868644678621849277
MAP_SEED = -8601341657237400911
STRUCT_SEED = 2863050554762567121
#: BinaryType values are seed-tagged so `'a'` and `CAST('a' AS BINARY)`
#: sketch distinctly, like the reference's type-tagged hash
#: (CardinalityHashFunction.scala:24-25).  Strings keep the plain
#: xxhash64 so existing sketches stay stable.
BINARY_SEED = 6364136223846793005
_NEEDS_DTYPE = (
    "nested (array/map/struct) input needs dtype= to hash null elements distinctly"
)


def _col(c) -> Column:
    return c if isinstance(c, Column) else F.col(c)


def _primitive_hash(c: Column) -> Column:
    """xxhash64 with the string/binary type distinction: BINARY values
    hash through a tagged seed chain (``xxhash64(BINARY_SEED, c)``),
    everything else through plain ``xxhash64(c)``.  A nested value
    raises an error naming ``dtype``: plain ``xxhash64`` skips null
    elements and fields, so ``[]`` and ``[null]`` would collide.
    ``typeof`` is foldable, so Catalyst collapses the CASE to a single
    branch at plan time — no per-row dispatch survives in the plan."""
    t = F.typeof(c)
    return (
        F.when(t.rlike("^(array|map|struct)<"), F.raise_error(F.lit(_NEEDS_DTYPE)))
        .when(t == F.lit("binary"), F.xxhash64(F.lit(BINARY_SEED), c))
        .otherwise(F.xxhash64(c))
    )


def _nested_hash(c: Column, dtype: T.DataType) -> Column:
    """Hash for values *inside* a collection/struct: null -> NULL_HASH."""
    return F.when(c.isNull(), F.lit(NULL_HASH)).otherwise(_value_hash(c, dtype))


def _value_hash(c: Column, dtype: T.DataType | None) -> Column:
    """Hash of a non-null value of ``dtype`` (None: a primitive) to BIGINT."""
    if isinstance(dtype, T.ArrayType):
        elem = dtype.elementType
        return F.aggregate(
            c,
            F.lit(ARRAY_SEED),
            lambda acc, x: F.xxhash64(acc, _nested_hash(x, elem)),
        )
    if isinstance(dtype, T.MapType):
        kt, vt = dtype.keyType, dtype.valueType
        entry_hashes = F.transform(
            F.map_entries(c),
            lambda e: F.xxhash64(
                _nested_hash(e.getField("key"), kt),
                _nested_hash(e.getField("value"), vt),
            ),
        )
        # Commutative combine (XOR: overflow-free under ANSI mode) -> map
        # order never leaks into the sketch.
        return F.aggregate(
            entry_hashes, F.lit(MAP_SEED), lambda acc, x: acc.bitwiseXOR(x)
        )
    if isinstance(dtype, T.StructType):
        parts = [F.lit(STRUCT_SEED)]
        for f in dtype.fields:
            parts.append(_nested_hash(c.getField(f.name), f.dataType))
        return F.xxhash64(*parts)
    # Primitive: Spark's xxhash64 handles every atomic type natively
    # (binary seed-tagged to keep it distinct from the equal string).
    return _primitive_hash(c)


def cardinality_hash(col, dtype: T.DataType | None = None) -> Column:
    """Type-tagged, null-safe hash of ``col`` to a nullable BIGINT.

    Top-level null stays null (so HLL aggregates skip it, and scalar
    inits can propagate it — reference HLLFunctions.scala:135-142).

    ``dtype`` is required for array/map/struct columns (PySpark Columns
    carry no type; without it a nested value raises an error naming
    ``dtype``); primitives need no dtype.
    """
    c = _col(col)
    return F.when(c.isNull(), F.lit(None).cast("long")).otherwise(_value_hash(c, dtype))


def element_hashes(col, dtype: T.DataType | None = None) -> Column:
    """Per-element hashes of a collection, as ``array<bigint>``.

    This is the ``hll_init_collection`` input transformation (reference
    HLLFunctions.scala:103-124): each array element — or each map entry,
    hashed as key->value chain (``:112-118``) — becomes one offer; null
    *elements* are skipped (``:107-108``); null collection -> null;
    empty collection -> empty array (a cardinality-0 sketch downstream).
    """
    c = _col(col)
    if isinstance(dtype, T.MapType):
        kt, vt = dtype.keyType, dtype.valueType
        entries = F.map_entries(c)
        return F.transform(
            entries,
            lambda e: F.xxhash64(
                _nested_hash(e.getField("key"), kt),
                _nested_hash(e.getField("value"), vt),
            ),
        )
    elem = dtype.elementType if isinstance(dtype, T.ArrayType) else None
    nonnull = F.filter(c, lambda x: x.isNotNull())
    return F.transform(nonnull, lambda x: _value_hash(x, elem))


def resolve_dtype(df: DataFrame, col_name: str) -> T.DataType:
    """Look up a column's DataType from a DataFrame schema."""
    return df.schema[col_name].dataType
