"""Session configuration keys, sketch format names and precision math
for the HLL veneer.

Mirrors the reference's error->precision formula and its argument >
session conf > default precedence for the relative standard deviation:
  reference: alchemy/.../hll/HLLFunctions.scala:24-70.

The engine executes on Apache Datasketches via Spark >=3.5 built-ins
(``hll_sketch_agg`` & co.), format name ``DS``.  The reference's
``STRM`` / ``AGKN`` backends are on-disk byte formats here, not
execution backends: :func:`spark_alchemy_spark.functions.hll.hll_convert`
converts to them for stream-lib and postgresql-hll interop.
"""

from __future__ import annotations

import math

# Conf key for the default relative standard deviation used when a
# function is called without an explicit one.
DEFAULT_ERROR_CONF_KEY = "spark.alchemy.hll.relativeSD"

#: Default relative standard deviation (reference HLLFunctions.scala:194).
DEFAULT_RELATIVE_SD = 0.05

#: Datasketches lgConfigK limits (Spark enforces 4..21).
MIN_LG_K = 4
MAX_LG_K = 21

#: Sketch byte formats accepted as hll_convert endpoints: ``DS`` =
#: Datasketches (the engine's own), ``AGKN`` = postgresql-hll, ``STRM`` =
#: StreamLib HLL+.
CONVERSION_FORMATS = ("DS", "AGKN", "STRM")


def precision_from_error(relative_sd: float) -> int:
    """relativeSD -> lgConfigK using the reference's formula.

    reference: HLLFunctions.scala:67-70 —
      p = ceil(2 * log(1.106 / sd) / log 2), require p >= 4
    which caps the max error at 0.39 (0.40 must raise).
    """
    if not (0.0 < relative_sd):
        raise ValueError(f"relative_sd must be > 0, got {relative_sd}")
    p = int(math.ceil(2.0 * math.log(1.106 / relative_sd) / math.log(2.0)))
    if p < MIN_LG_K:
        raise ValueError(
            f"HLL requires at least 4 bits for addressing; "
            f"use a lower error, at most 0.39 (got relative_sd={relative_sd})"
        )
    return min(p, MAX_LG_K)


def error_from_precision(lg_k: int) -> float:
    """Inverse of :func:`precision_from_error` (approximate)."""
    return 1.106 / math.sqrt(2.0 ** lg_k)


def sketch_format(name) -> str:
    """Canonical sketch byte format name: case-insensitive, and
    ``streamlib`` means ``STRM``; anything else (a SQL number literal
    included) raises."""
    name = str(name).upper()
    if name == "STREAMLIB":
        name = "STRM"
    if name not in CONVERSION_FORMATS:
        raise ValueError(
            f"Unknown sketch byte format {name!r}; expected one of "
            f"{CONVERSION_FORMATS}"
        )
    return name
