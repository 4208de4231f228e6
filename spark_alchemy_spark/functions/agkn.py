"""AgKn / postgresql-hll byte format: the one module that reads and
writes it, and the converters into it (the interop half of
``hll_convert``, reference alchemy/.../hll/HLLFunctions.scala:641-670,
conversion core hll/package.scala:15-61).

The reference converts StreamLib sketches into Aggregate Knowledge's
schema-version-1 ``FULL`` layout register-by-register so the bytes can be
stored in / unioned by the ``postgresql-hll`` extension.  Our engine's
native sketches are Apache Datasketches HLL (Spark >=3.5 built-ins), so
this module converts both **DS -> AGKN** and the reference's own
**STRM -> AGKN**: it takes the source image's registers from the module
that owns that format (``sketch_codec.ds_registers``,
``strm.strm_registers``) and re-emits them in the postgresql-hll v1
storage layout (version/type byte, parameter byte, cutoff byte,
big-endian bit-packed registers — public spec: postgresql-hll
STORAGE.markdown; layout mirrored from the reference's
SchemaVersionOne/HLLMetadata usage at hll/package.scala:47-60).

As with the reference's STRM -> AGKN, converted sketches estimate the
same cardinality but must never be merged with sketches built natively
by the other system (different input hash functions — reference note at
hll/HLLFunctions.scala:628-630).

Format knowledge is from the public postgresql-hll storage spec.
"""

from __future__ import annotations

import numpy as np

from .sketch_codec import ds_registers, register_estimate
from .strm import strm_registers

# postgresql-hll v1 type ordinals (storage spec)
_AGKN_VERSION = 1
_AGKN_TYPE_FULL = 4

#: Register width of every image this package writes (the reference's
#: metadata choice, hll/package.scala:52-60).
_REGWIDTH = 6


def agkn_from_registers(lg_k: int, registers: np.ndarray, regwidth: int = _REGWIDTH) -> bytes:
    """postgresql-hll schema-v1 FULL image of a register array.

    Header (3 bytes, storage spec):
      byte0  = version<<4 | type        (0x14 = v1 FULL)
      byte1  = (regwidth-1)<<5 | log2m
      byte2  = sparse_enabled<<6 | explicit_cutoff   (0: explicit off —
               the reference's metadata choice, hll/package.scala:52-60)
    Payload: ``2^log2m`` registers, ``regwidth`` bits each, bit-packed
    MSB-first (register 0 in the most significant bits of byte 0).
    """
    if not 1 <= regwidth <= 8:
        raise ValueError("regwidth must be in [1, 8]")
    m = 1 << lg_k
    if len(registers) != m:
        raise ValueError(f"expected {m} registers, got {len(registers)}")
    maxval = (1 << regwidth) - 1
    regs = np.minimum(registers.astype(np.uint16), maxval).astype(np.uint8)
    shifts = np.arange(regwidth - 1, -1, -1, dtype=np.uint8)
    bits = ((regs[:, None] >> shifts[None, :]) & 1).reshape(-1)
    payload = np.packbits(bits)  # MSB-first == big-endian bitstream
    header = bytes(
        [
            (_AGKN_VERSION << 4) | _AGKN_TYPE_FULL,
            ((regwidth - 1) << 5) | lg_k,
            0x00,
        ]
    )
    return header + payload.tobytes()


def agkn_registers(data: bytes) -> tuple[int, int, np.ndarray]:
    """Parse an AgKn v1 FULL image of any regwidth back to
    ``(log2m, regwidth, registers)``.  The image may come from outside,
    so its length is checked against what its header declares."""
    if len(data) < 3:
        raise ValueError(f"not an AgKn v1 FULL image: expected 3 header bytes, got {len(data)}")
    if (data[0] >> 4) != _AGKN_VERSION or (data[0] & 0xF) != _AGKN_TYPE_FULL:
        raise ValueError("not an AgKn v1 FULL image")
    regwidth = ((data[1] >> 5) & 0x7) + 1
    log2m = data[1] & 0x1F
    m = 1 << log2m
    payload = -(-m * regwidth // 8)
    if len(data) - 3 < payload:
        raise ValueError(
            f"truncated AgKn v1 FULL image: log2m {log2m} and regwidth {regwidth} "
            f"need {payload} payload bytes, got {len(data) - 3}"
        )
    bits = np.unpackbits(np.frombuffer(data, dtype=np.uint8, offset=3))
    bits = bits[: m * regwidth].reshape(m, regwidth)
    shifts = np.arange(regwidth - 1, -1, -1, dtype=np.uint16)
    regs = (bits.astype(np.uint16) << shifts[None, :]).sum(axis=1).astype(np.uint8)
    return log2m, regwidth, regs


def agkn_cardinality(data: bytes) -> float:
    """HLL estimate of an AgKn FULL image: ``sketch_codec.register_estimate``
    of its registers (the classic estimator with the small-range
    linear-counting correction postgresql-hll applies)."""
    return register_estimate(agkn_registers(data)[2])


def ds_to_agkn(data: bytes) -> bytes:
    """Datasketches image -> AgKn v1 FULL image (register copy)."""
    return agkn_from_registers(*ds_registers(bytes(data)))


def strm_to_agkn(data: bytes) -> bytes:
    """STRM NORMAL image -> AgKn v1 FULL image (register copy), the
    direct analogue of the reference's STRM -> AGKN conversion."""
    return agkn_from_registers(*strm_registers(bytes(data)))
