"""StreamLib (``STRM``) HyperLogLogPlus byte format: the one module
that reads and writes it, and the converter into it (DS -> STRM).

The reference ships two live sketch backends with byte-format
guarantees — StreamLib and AgKn — and converts between them
register-by-register (reference hll/Implementation.scala:92-102 and
hll/package.scala:15-61).  This engine executes on Datasketches, but
users holding persisted StreamLib sketch bytes still need to read and
convert them, so this module implements the StreamLib *serialization
format* (read + write) from the public stream-lib source
(``HyperLogLogPlus.getBytes`` / ``Builder.build``, Apache-2.0):

Layout (big-endian DataOutputStream):

  int32   -VERSION              (version 2 -> bytes of -2)
  varint  p                     (unsigned LEB128)
  varint  sp                    (sparse precision; 0 = sparse disabled)
  varint  format                (0 = NORMAL, 1 = SPARSE)
  NORMAL:
    varint  size in bytes of the register words (= 4 * word_count)
    int32[] register words      (big-endian)
  SPARSE:
    varint  byte size, then delta-encoded varint sparse set

Register packing (stream-lib ``RegisterSet``): 5-bit registers, 6 per
32-bit word, LSB-first within the word — register r lives in word
``r // 6`` at bit offset ``5 * (r % 6)``; word count is
``ceil(m / 6)`` (minimum 1).

Only NORMAL images are supported: ``HyperLogLogPlus(p)`` — the
constructor the reference uses — sets sp=0 and never leaves NORMAL
format.  SPARSE images raise rather than risk a silent misdecode.

``ds_to_strm`` takes a Datasketches image's registers from
``sketch_codec`` (which owns that format); STRM -> AGKN lives in
``agkn.py``, the module that owns its output format.

As with DS -> AGKN, converted sketches estimate the same cardinality
(the registers ARE the state) but must never be *merged* with sketches
built natively by the other system — different input hash functions
(reference note at hll/HLLFunctions.scala:628-630).
"""

from __future__ import annotations

import struct

import numpy as np

from .sketch_codec import ds_registers, register_estimate

_STRM_VERSION = 2
_FMT_NORMAL = 0
_FMT_SPARSE = 1

_REGS_PER_WORD = 6
_REG_BITS = 5
_REG_MASK = 0x1F


# ---------------------------------------------------------------------------
# varint (unsigned LEB128, what stream-lib's Varint uses)
# ---------------------------------------------------------------------------


def _write_uvarint(value: int) -> bytes:
    out = bytearray()
    while True:
        b = value & 0x7F
        value >>= 7
        if value:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def _read_uvarint(data: bytes, pos: int) -> tuple[int, int]:
    result = shift = 0
    while True:
        b = data[pos]
        pos += 1
        result |= (b & 0x7F) << shift
        if not b & 0x80:
            return result, pos
        shift += 7


# ---------------------------------------------------------------------------
# STRM image <-> dense registers
# ---------------------------------------------------------------------------


def strm_registers(data: bytes) -> tuple[int, np.ndarray]:
    """Parse a StreamLib HyperLogLogPlus image into ``(p, registers)``."""
    if len(data) < 7:
        raise ValueError("not a StreamLib HLL+ image: too short")
    (neg_version,) = struct.unpack_from(">i", data, 0)
    if -neg_version != _STRM_VERSION:
        raise ValueError(
            f"unsupported StreamLib HLL+ version {-neg_version} (expected 2)"
        )
    pos = 4
    p, pos = _read_uvarint(data, pos)
    sp, pos = _read_uvarint(data, pos)
    fmt, pos = _read_uvarint(data, pos)
    if not 4 <= p <= 24:
        raise ValueError(f"implausible p={p}")
    if fmt == _FMT_SPARSE:
        raise NotImplementedError(
            "SPARSE StreamLib images are not supported; HyperLogLogPlus(p) "
            "(sp=0, the reference's constructor) always serializes NORMAL"
        )
    if fmt != _FMT_NORMAL:
        raise ValueError(f"unknown StreamLib format ordinal {fmt}")
    nbytes, pos = _read_uvarint(data, pos)
    if nbytes % 4 or pos + nbytes > len(data):
        raise ValueError("corrupt StreamLib NORMAL image")
    words = np.frombuffer(data, dtype=">i4", offset=pos, count=nbytes // 4)
    words = words.astype(np.int64) & 0xFFFFFFFF
    m = 1 << p
    # unpack 6 x 5-bit registers per word, LSB-first
    shifts = np.arange(_REGS_PER_WORD, dtype=np.int64) * _REG_BITS
    regs = ((words[:, None] >> shifts[None, :]) & _REG_MASK).reshape(-1)[:m]
    return p, regs.astype(np.uint8)


def strm_from_registers(p: int, registers: np.ndarray) -> bytes:
    """Serialize dense registers as a StreamLib HLL+ NORMAL image."""
    m = 1 << p
    if len(registers) != m:
        raise ValueError(f"expected {m} registers, got {len(registers)}")
    regs = np.minimum(registers.astype(np.int64), _REG_MASK)
    n_words = max(1, -(-m // _REGS_PER_WORD))
    padded = np.zeros(n_words * _REGS_PER_WORD, dtype=np.int64)
    padded[:m] = regs
    shifts = np.arange(_REGS_PER_WORD, dtype=np.int64) * _REG_BITS
    words = (padded.reshape(-1, _REGS_PER_WORD) << shifts[None, :]).sum(axis=1)
    body = words.astype(">i4").tobytes()  # values < 2^30: sign-safe
    return (
        struct.pack(">i", -_STRM_VERSION)
        + _write_uvarint(p)
        + _write_uvarint(0)  # sp = 0: sparse disabled
        + _write_uvarint(_FMT_NORMAL)
        + _write_uvarint(len(body))
        + body
    )


def ds_to_strm(data: bytes) -> bytes:
    """Datasketches image -> STRM NORMAL image (register copy)."""
    return strm_from_registers(*ds_registers(bytes(data)))


def strm_cardinality(data: bytes) -> float:
    """HLL estimate of a STRM NORMAL image: ``sketch_codec.register_estimate``
    of its registers, the classic estimate with linear counting below
    2.5m.  It is not stream-lib's own HLL+ ``cardinality()``, which
    also subtracts an empirical bias below 5m: offered the ints 0..49
    at p=5, stream-lib reads 50 where this reads 53.6, and the ints
    0..29999 at p=14 read 29,936 against 29,755."""
    return register_estimate(strm_registers(data)[1])
