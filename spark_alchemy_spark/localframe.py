"""Tiny driver-built result frames as JVM-parsed literal plans.

``spark.createDataFrame(rows, ddl)`` routes every KB-scale result
through ``sc.parallelize`` of pickled rows: the plan is a Python RDD
with ``defaultParallelism`` partitions, so EVERY action over it
schedules that many Python-worker tasks (~0.35-0.45s per noop save of
ONE row on local[32] — measured r11; guide §4: the JVM<->Python
boundary is the tax, not the data).  ``local_frame`` instead ships the
rows as ONE JSON string literal and parses it JVM-side with
``from_json`` + ``explode``: a single-task, zero-Python-worker plan
(~0.08-0.2s per action), built with one py4j call (a per-value
``F.lit`` tree costs one py4j round trip per CELL — measured 24s to
*build* a 45x64-double centroid frame that way).

Equivalence with ``createDataFrame``:

* schema — same names, field order, types; nullability widened to
  all-nullable by unioning under an all-NULL empty frame (exactly the
  schema ``createDataFrame`` declares from a DDL string);
* values — bit-exact: ``json.dumps`` emits Python ``repr`` floats
  (shortest round-trip decimal, parsed back to the identical IEEE
  double by Jackson), int64/bool/string/null are exact by
  construction, NaN/Infinity ride ``allowNonNumericNumbers``;
* row order — ``explode`` yields array elements in order from the one
  generating row.

Rows may be tuples, ``Row``s or dicts (matched by field name, a
missing key reads NULL), as ``createDataFrame`` accepts.  Types outside
{integral, float, bool, string, null} and their array/struct/map
compositions (timestamps, dates, decimals, binary), and structs with
duplicate field names, fall back to ``createDataFrame`` unchanged — no
caller in this repo returns them from a driver-built frame today, and a
silent lossy serialization would be worse than the 0.35s.
"""

from __future__ import annotations

import json

from pyspark.sql import functions as F
from pyspark.sql import types as T

_OK_ATOMS = (
    T.ByteType,
    T.ShortType,
    T.IntegerType,
    T.LongType,
    T.FloatType,
    T.DoubleType,
    T.BooleanType,
    T.StringType,
    T.NullType,
)


def _json_safe(dt) -> bool:
    if isinstance(dt, _OK_ATOMS):
        return True
    if isinstance(dt, T.ArrayType):
        return _json_safe(dt.elementType)
    if isinstance(dt, T.StructType):
        # a JSON object keeps one value per key: duplicate names collapse
        names = [f.name for f in dt.fields]
        return len(set(names)) == len(names) and all(
            _json_safe(f.dataType) for f in dt.fields
        )
    if isinstance(dt, T.MapType):
        return isinstance(dt.keyType, T.StringType) and _json_safe(
            dt.valueType
        )
    return False


def _encode(v, dt):
    """Python value -> JSON-encodable value matching ``dt``."""
    if v is None:
        return None
    if isinstance(dt, T.ArrayType):
        return [_encode(x, dt.elementType) for x in v]
    if isinstance(dt, T.StructType):
        vals = (
            [v.get(f.name) for f in dt.fields]
            if isinstance(v, dict)
            else list(v)
        )
        return {
            f.name: _encode(vals[i], f.dataType)
            for i, f in enumerate(dt.fields)
        }
    if isinstance(dt, T.MapType):
        return {str(k): _encode(x, dt.valueType) for k, x in v.items()}
    if isinstance(dt, T.BooleanType):
        return bool(v)
    if isinstance(dt, (T.FloatType, T.DoubleType)):
        return float(v)
    if isinstance(dt, T.StringType):
        return str(v) if not isinstance(v, str) else v
    return int(v)


def local_frame(spark, rows, schema) -> "F.DataFrame":  # type: ignore[name-defined]
    """Drop-in for ``spark.createDataFrame(rows, schema)`` for small
    driver-computed frames: identical schema and values, but built as
    one JSON literal parsed JVM-side (one task, zero Python workers
    per action)."""
    dt = (
        T._parse_datatype_string(schema)
        if isinstance(schema, str)
        else schema
    )
    if not isinstance(dt, T.StructType):
        raise TypeError(f"local_frame needs a struct schema, got {dt}")
    rows = list(rows)
    # an all-NULL empty frame is nullable everywhere; unioning the
    # parsed rows under it widens every field to nullable, matching
    # createDataFrame's declared schema exactly.  (The empty frame
    # serializes no values, so it is safe for ANY schema — the
    # _json_safe fallback below only guards value round-trips.)
    empty = spark.range(0).select(
        *[F.lit(None).cast(f.dataType).alias(f.name) for f in dt.fields]
    )
    if not rows:
        return empty
    if not _json_safe(dt):
        return spark.createDataFrame(rows, dt)
    payload = json.dumps([_encode(row, dt) for row in rows])
    parsed = (
        spark.range(1)
        .select(
            F.explode(
                F.from_json(
                    F.lit(payload),
                    T.ArrayType(dt),
                    {"allowNonNumericNumbers": "true"},
                )
            ).alias("__r")
        )
        .select(*[F.col("__r")[f.name].alias(f.name) for f in dt.fields])
    )
    return empty.unionByName(parsed)
