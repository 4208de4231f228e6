"""StreamLib (STRM) codec tests — mirrors the reference's
conversion-accuracy suite (HLLFunctionsTest.scala:356-377: p=20,
n=10000, estimates within +-1) and its two-backend byte-format
guarantees (hll/Implementation.scala:92-102), re-targeted at this
engine's DS execution backend:

  STRM bytes -> registers -> AgKn bytes   (read path, the reference's
                                           own STRM -> AGKN conversion)
  DS bytes   -> STRM bytes                (export path)

Both directions are also checked against the real stream-lib that Spark
ships: its images read back byte for byte, and it reads ours.
"""

from __future__ import annotations

import numpy as np
import pytest

from spark_alchemy_spark.conf import sketch_format
from spark_alchemy_spark.functions import hll
from spark_alchemy_spark.functions.agkn import (
    agkn_cardinality,
    agkn_registers,
    strm_to_agkn,
)
from spark_alchemy_spark.functions.sketch_codec import ds_registers
from spark_alchemy_spark.functions.strm import (
    ds_to_strm,
    strm_cardinality,
    strm_from_registers,
    strm_registers,
)


def _registers_from_hashes(p: int, hashes: np.ndarray) -> np.ndarray:
    """Dense HLL registers from uniform 64-bit hashes, the HLL+ NORMAL
    update rule: idx = top p bits, rho = leading zeros of the remaining
    64-p bits + 1."""
    u = hashes.astype(np.uint64)
    idx = (u >> np.uint64(64 - p)).astype(np.int64)
    w = (u << np.uint64(p)) & np.uint64(0xFFFFFFFFFFFFFFFF)
    rho = np.ones(len(u), dtype=np.int64)
    mask = np.uint64(1 << 63)
    cur = w.copy()
    for _ in range(64 - p):
        top_zero = (cur & mask) == 0
        live = top_zero & (cur != 0)
        rho[live] += 1
        cur = np.where(top_zero, cur << np.uint64(1), cur)
    rho[w == 0] = 64 - p + 1
    regs = np.zeros(1 << p, dtype=np.uint8)
    np.maximum.at(regs, idx, np.minimum(rho, 31).astype(np.uint8))
    return regs


@pytest.mark.parametrize("p", [4, 11, 20])
def test_strm_register_roundtrip(p):
    rng = np.random.default_rng(p)
    regs = rng.integers(0, 32, size=1 << p).astype(np.uint8)
    back_p, back = strm_registers(strm_from_registers(p, regs))
    assert back_p == p
    assert np.array_equal(back, regs)


def test_strm_conversion_accuracy_10k():
    """The reference's config: p=20, n=10000 — the AgKn image converted
    from STRM bytes must estimate within +-1 of the STRM-native
    estimate, and both within the HLL error bound of the true count."""
    rng = np.random.default_rng(7)
    hashes = rng.integers(0, 2**64, size=10_000, dtype=np.uint64)
    regs = _registers_from_hashes(20, hashes)
    image = strm_from_registers(20, regs)
    native = strm_cardinality(image)
    converted = agkn_cardinality(strm_to_agkn(image))
    assert abs(round(native) - round(converted)) <= 1
    assert abs(native - 10_000) / 10_000 < 0.01  # ~3 sigma at p=20


def test_ds_to_strm_column_roundtrip(spark):
    """hll_convert(DS -> STRM) on a real aggregated sketch: registers
    survive byte-exactly (capped at the 5-bit STRM width) and the
    chained DS -> STRM -> AGKN estimate stays within the error bound."""
    from pyspark.sql import functions as F

    df = spark.range(10_000).select(F.xxhash64("id").alias("h"))
    agg = df.agg(F.hll_sketch_agg("h", F.lit(14)).alias("sk"))
    out = agg.select(
        "sk",
        hll.hll_convert("sk", "DS", "STRM").alias("strm"),
        hll.hll_cardinality("sk").alias("ds_est"),
    ).collect()[0]
    ds_lgk, ds_regs = ds_registers(bytes(out["sk"]))
    strm_p, strm_regs = strm_registers(bytes(out["strm"]))
    assert strm_p == ds_lgk == 14
    assert np.array_equal(strm_regs, np.minimum(ds_regs, 31))

    chained = agkn_cardinality(strm_to_agkn(bytes(out["strm"])))
    assert abs(chained - 10_000) / 10_000 < 0.03
    assert abs(out["ds_est"] - 10_000) / 10_000 < 0.03


def test_strm_to_agkn_column(spark):
    """hll_convert(STRM -> AGKN) as a Column over STRM images built by
    the Python writer."""
    from pyspark.sql import functions as F

    rng = np.random.default_rng(3)
    images = [
        (i, strm_from_registers(11, _registers_from_hashes(
            11, rng.integers(0, 2**64, size=n, dtype=np.uint64))))
        for i, n in ((0, 100), (1, 2_000))
    ]
    df = spark.createDataFrame(images, "id long, strm binary")
    rows = df.select(
        "id", hll.hll_convert("strm", "STRM", "AGKN").alias("agkn")
    ).collect()
    for r, (_, img) in zip(sorted(rows, key=lambda r: r["id"]), images):
        assert abs(
            agkn_cardinality(bytes(r["agkn"])) - strm_cardinality(img)
        ) <= 1


def test_sparse_and_bad_images_rejected():
    import struct

    sparse = struct.pack(">i", -2) + bytes([11, 25, 1, 0])
    with pytest.raises(NotImplementedError, match="SPARSE"):
        strm_registers(sparse)
    v1 = struct.pack(">i", -1) + bytes([11, 0, 0, 0])
    with pytest.raises(ValueError, match="version"):
        strm_registers(v1)


def test_resolve_backend_conversion_formats(spark):
    assert sketch_format("STRM") == "STRM"
    assert sketch_format("StreamLib") == "STRM"
    assert sketch_format("AGKN") == "AGKN"


# ---------------------------------------------------------------------------
# Against the real stream-lib (the stream-2.9.8 jar Spark ships): images
# written by HyperLogLogPlus.getBytes, and images read back by
# HyperLogLogPlus.Builder.build.
# ---------------------------------------------------------------------------

_HLLP = "com.clearspring.analytics.stream.cardinality.HyperLogLogPlus"


def _streamlib_sketch(spark, p: int, n: int):
    """A JVM ``HyperLogLogPlus(p)`` offered the ints ``0 .. n-1``."""
    sketch = spark._jvm.com.clearspring.analytics.stream.cardinality.HyperLogLogPlus(p)
    for i in range(n):
        sketch.offer(i)
    return sketch


def _streamlib_rebuild(spark, image: bytes) -> bytes:
    """``HyperLogLogPlus.Builder.build(image).getBytes()``.  py4j cannot
    reach the nested class's static method by attribute, so it is called
    by reflection."""
    jvm = spark._jvm
    builder = jvm.java.lang.Class.forName(_HLLP + "$Builder")
    build = next(
        m for m in builder.getMethods()
        if m.getName() == "build"
        and [t.getName() for t in m.getParameterTypes()] == ["[B"]
    )
    args = spark.sparkContext._gateway.new_array(jvm.java.lang.Object, 1)
    args[0] = image
    return bytes(build.invoke(None, args).getBytes())


@pytest.mark.parametrize("n", [0, 1, 100, 30_000])
@pytest.mark.parametrize("p", [4, 9, 14, 21])
def test_reads_and_rewrites_streamlib_images(spark, p, n):
    """A genuine stream-lib image reads back to the same bytes through
    strm_registers -> strm_from_registers, and hll_convert takes it to
    an AGKN image holding the same registers."""
    image = bytes(_streamlib_sketch(spark, p, n).getBytes())
    back_p, regs = strm_registers(image)
    assert back_p == p
    assert strm_from_registers(p, regs) == image
    df = spark.createDataFrame([(image,)], "strm binary")
    agkn = df.select(hll.hll_convert("strm", "STRM", "AGKN").alias("a")).first()["a"]
    log2m, _, agkn_regs = agkn_registers(bytes(agkn))
    assert log2m == p
    assert np.array_equal(agkn_regs, regs)


@pytest.mark.parametrize("n", [100, 30_000])
@pytest.mark.parametrize("lg_k", [4, 9, 12, 21])
def test_streamlib_reads_ds_to_strm_output(spark, lg_k, n):
    """ds_to_strm's image, read by stream-lib's Builder.build and
    serialized again, comes back byte for byte."""
    from pyspark.sql import functions as F

    ds = spark.range(n).agg(F.hll_sketch_agg(F.xxhash64("id"), F.lit(lg_k)).alias("sk"))
    image = ds_to_strm(bytes(ds.first()["sk"]))
    assert _streamlib_rebuild(spark, image) == image


@pytest.mark.parametrize("p, n", [(4, 1000), (5, 2000), (6, 5000)])
def test_strm_cardinality_is_streamlib_estimate_above_5m(spark, p, n):
    """Above 5m stream-lib applies no bias correction, so its estimate
    is the shared register estimate, rounded (the alpha table for
    m = 16, 32, 64 included)."""
    sketch = _streamlib_sketch(spark, p, n)
    assert round(strm_cardinality(bytes(sketch.getBytes()))) == sketch.cardinality()
