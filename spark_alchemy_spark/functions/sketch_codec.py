"""Pure-Python writer for Apache Datasketches HLL sketch bytes.

Spark >=3.5 executes HLL aggregation with Apache Datasketches
(``hll_sketch_agg`` / ``hll_union_agg`` / ``hll_union`` /
``hll_sketch_estimate``).  Those built-ins cover every *aggregate* use,
but the reference also ships per-row scalar sketch builders
(``hll_init`` / ``hll_init_collection``, reference
alchemy/.../hll/HLLFunctions.scala:192-218, :294-321) for which Spark has
no built-in.  Running an aggregate per row would shuffle the whole table;
instead :func:`row_images` builds the serialized sketch bytes of a whole
Arrow batch at once.  It is the one per-row writer: ``hll_init`` /
``hll_init_collection`` call it, from the DataFrame API and from SQL
text alike (``hll.register`` resolves SQL names to the same Columns).
The bytes are *bit-compatible* with Datasketches' updatable serialization,
so the JVM built-ins union and estimate them natively.
``tests/test_sketch_writer.py::test_writer_matches_hll_sketch_agg``
checks this: at every tested size, on both sides of each promotion
boundary, the writer holds the same coupons (or the same registers) as
``hll_sketch_agg`` over the same values.

Format knowledge is from the public Apache Datasketches HLL
serialization spec and datasketches-java (PreambleUtil.java).  An image
is in the mode a Datasketches sketch holding that many distinct coupons
is in; :func:`coupon_image` is the one place that decides it:

* LIST  (<= 7 coupons): 8-byte preamble + 8 coupon ints;
* SET   (lgK >= 8, 8 .. 3*2^(lgK-5) coupons): 12-byte preamble +
  open-hash coupon array;
* HLL_8 (more coupons, or >= 8 coupons at lgK < 8): 40-byte preamble +
  2^lgK one-byte registers.

Each distinct input value contributes one "coupon": MurmurHash3 x64
128 of the value's 8 little-endian bytes with seed 9001 gives
``(h0, h1)``; ``slot = h0 & (2^26-1)``, ``val = min(nlz(h1), 62) + 1``,
``coupon = (val << 26) | slot``.

Inputs are always the engine's 64-bit cardinality hashes (see
``hashing.py``), serialized little-endian — matching how the JVM path
feeds BIGINT to ``hll_sketch_agg`` (datasketches ``update(long)``).
"""

from __future__ import annotations

import struct

import numpy as np
import pyarrow as pa

from .agkn import coupons_to_registers, ds_parse

MURMUR_SEED = 9001  # datasketches DEFAULT_UPDATE_SEED
_C1 = 0x87C37B91114253D5
_C2 = 0x4CF5AD432745937F

_KEY_BITS = 26
_KEY_MASK = (1 << _KEY_BITS) - 1

_SER_VER = 1
_FAMILY_HLL = 7
_HLL_8 = 2  # tgtHllType used by Spark's built-ins

_MODE_LIST = 0
_MODE_SET = 1


def _preamble(pre_ints: int, lg_k: int, lg_arr: int, flags: int, lo_field: int, mode: int) -> bytes:
    """Bytes 0..7 common to LIST/SET images.

    [0]=preInts [1]=serVer [2]=family [3]=lgK [4]=lgArr [5]=flags
    [6]=listCount (LIST) / 0 (SET)   [7]=modeByte = (tgtHllType<<2)|curMode
    """
    mode_byte = (_HLL_8 << 2) | mode
    return bytes([pre_ints, _SER_VER, _FAMILY_HLL, lg_k, lg_arr, flags, lo_field, mode_byte])


def serialize_coupons(coupons, lg_k: int) -> bytes:
    """Serialize a set of coupons as an updatable LIST or SET image.

    LIST (count <= 7) mirrors a freshly updated heap sketch; larger
    counts use the coupon hash-set (SET mode) with the open-addressing
    layout datasketches expects (stride probing on the low bits).  It
    never promotes to dense registers: :func:`coupon_image` decides that.
    """
    cset = sorted(set(coupons))
    n = len(cset)
    if n <= 7:
        lg_arr = 3  # 8-slot coupon list, java's initial allocation
        arr = [0] * (1 << lg_arr)
        for i, c in enumerate(cset):
            arr[i] = c
        flags = 0x04 if n == 0 else 0x00  # EMPTY flag bit
        head = _preamble(2, lg_k, lg_arr, flags, n, _MODE_LIST)
        return head + struct.pack(f"<{len(arr)}i", *[c - (1 << 32) if c >= (1 << 31) else c for c in arr])
    # SET mode: open hash of size 2^lgArr at <= 3/4 load.
    lg_arr = 5  # java promotes LIST->SET at a 32-slot hash
    while n > (3 << (lg_arr - 2)):  # 0.75 load factor
        lg_arr += 1
    size = 1 << lg_arr
    arr = [0] * size
    mask = size - 1
    for c in cset:
        probe = c & mask
        stride = ((c & _KEY_MASK) >> lg_arr) | 1
        while arr[probe] != 0:
            probe = (probe + stride) & mask
        arr[probe] = c
    head = _preamble(3, lg_k, lg_arr, 0x00, 0, _MODE_SET)
    count = struct.pack("<i", n)
    body = struct.pack(f"<{size}i", *[c - (1 << 32) if c >= (1 << 31) else c for c in arr])
    return head + count + body


# ---------------------------------------------------------------------------
# Vectorized (numpy) coupon computation.  Inputs are always the engine's
# 64-bit hashes => fixed 8-byte messages, so the murmur3 block loop
# degenerates to a branch-free tail + finalization that maps 1:1 onto
# uint64 array ops.
# ---------------------------------------------------------------------------

_U64 = np.uint64


def _rotl_vec(x, r):
    return (x << _U64(r)) | (x >> _U64(64 - r))


def _fmix_vec(k):
    k = k ^ (k >> _U64(33))
    k = k * _U64(0xFF51AFD7ED558CCD)
    k = k ^ (k >> _U64(33))
    k = k * _U64(0xC4CEB9FE1A85EC53)
    return k ^ (k >> _U64(33))


def _nlz64_vec(x):
    """Number of leading zeros per element of a uint64 array."""
    n = np.full(x.shape, 64, dtype=np.int64)
    shift = 32
    cur = x.copy()
    while shift:
        big = cur >= (_U64(1) << _U64(shift))
        n = np.where(big, n - shift, n)
        cur = np.where(big, cur >> _U64(shift), cur)
        shift //= 2
    return n - (cur > 0).astype(np.int64)


def coupons_for_longs(values: "np.ndarray") -> "np.ndarray":
    """Coupon of each 64-bit input (datasketches ``update(long)``) over an
    int64/uint64 array."""
    with np.errstate(over="ignore"):
        k1 = values.astype(np.int64).view(_U64)
        k1 = k1 * _U64(_C1)
        k1 = _rotl_vec(k1, 31)
        k1 = k1 * _U64(_C2)
        h1 = _U64(MURMUR_SEED) ^ k1
        h2 = np.full(values.shape, MURMUR_SEED, dtype=_U64)
        h1 = h1 ^ _U64(8)
        h2 = h2 ^ _U64(8)
        h1 = h1 + h2
        h2 = h2 + h1
        h1 = _fmix_vec(h1)
        h2 = _fmix_vec(h2)
        h1 = h1 + h2
        h2 = h2 + h1
    slot = (h1 & _U64(_KEY_MASK)).astype(np.int64)
    val = np.minimum(_nlz64_vec(h2), 62) + 1
    return ((val << _KEY_BITS) | slot).astype(np.int64)


# ---------------------------------------------------------------------------
# Dense (HLL-mode) images: what a promoted / merged sketch serializes to.
# Layout confirmed against Spark's own hll_sketch_agg output (updatable
# HLL_8, preInts=10): [0..7] common preamble with curMin at byte 6, then
# hipAccum / kxq0 / kxq1 as little-endian doubles, numAtCurMin, auxCount,
# then 2^lgK one-byte registers.  We emit hip=0 with the OUT_OF_ORDER
# flag (0x10) set — exactly what a DS union produces — so readers use the
# register-derived composite estimator, never a stale HIP value.
# ---------------------------------------------------------------------------

_MODE_HLL = 2
_FLAG_OUT_OF_ORDER = 0x10


def serialize_dense(lg_k: int, registers: "np.ndarray") -> bytes:
    """Updatable HLL_8 image from a dense register array."""
    m = 1 << lg_k
    regs = np.asarray(registers, dtype=np.uint8)
    if len(regs) != m:
        raise ValueError(f"expected {m} registers, got {len(regs)}")
    cur_min = int(regs.min())
    num_at_cur_min = int((regs == cur_min).sum())
    powers = np.power(2.0, -regs.astype(np.float64))
    kxq0 = float(powers[regs < 32].sum())
    kxq1 = float(powers[regs >= 32].sum())
    head = _preamble(10, lg_k, 0, _FLAG_OUT_OF_ORDER, cur_min, _MODE_HLL)
    mid = struct.pack("<dddii", 0.0, kxq0, kxq1, num_at_cur_min, 0)
    return head + mid + regs.tobytes()


def union_images(images, lg_k_out: int | None = None) -> bytes | None:
    """Union any mix of DS images (LIST/SET/HLL_8) into one image.

    Coupon-mode inputs are accumulated as raw coupons and densified
    ONCE (a per-row LIST image must not allocate a 2^lgK register
    array each — that is what makes unions of many tiny sketches
    O(total coupons), not O(n · 2^lgK)).  Mixed precisions downsample
    to the smallest lgK present (register slot = low lgK bits of the
    26-bit coupon key, and the register value is precision-independent,
    so ``max`` over the slot preimage is the exact DS downsampling
    rule).  All-None input -> None (the reference's "no non-null input
    -> NULL sketch" algebra); an all-coupon union takes the mode
    :func:`coupon_image` gives its distinct coupons.
    """
    coupon_parts: list[np.ndarray] = []
    dense_parts: list[tuple[int, np.ndarray]] = []
    lg = 32
    seen = False
    for b in images:
        if b is None:
            continue
        seen = True
        kind, k, payload = ds_parse(bytes(b))
        lg = min(lg, k)
        if kind == "coupons":
            coupon_parts.append(payload)
        else:
            dense_parts.append((k, payload))
    if not seen:
        return None
    if lg_k_out is not None:
        lg = min(lg, lg_k_out)
    coupons = (
        np.unique(np.concatenate(coupon_parts))
        if coupon_parts
        else np.empty(0, dtype=np.int64)
    )
    if not dense_parts:
        return coupon_image(coupons, lg)
    m = 1 << lg
    acc = coupons_to_registers(coupons, lg)
    for k, regs in dense_parts:
        if k > lg:
            regs = regs.reshape(1 << (k - lg), m).max(axis=0)
        np.maximum(acc, regs, out=acc)
    return serialize_dense(lg, acc)


def coupon_image(coupons: np.ndarray, lg_k: int) -> bytes:
    """Image of a set of distinct coupons, in the mode a Datasketches
    sketch holding them is in.

    This is the one place that decides coupon list vs dense registers.
    The rule is datasketches-java's promotion rule: below lgK 8 the
    8-slot LIST promotes straight to HLL on its 8th coupon; from lgK 8
    the LIST becomes a SET, which grows at 3/4 load and promotes to HLL
    once it holds more than ``3 * 2^(lgK-5)`` coupons (3/4 of its largest
    array, ``2^(lgK-3)`` slots).
    """
    capacity = 7 if lg_k < 8 else 3 << (lg_k - 5)
    if len(coupons) > capacity:
        return serialize_dense(lg_k, coupons_to_registers(coupons, lg_k))
    return serialize_coupons(coupons.tolist(), lg_k)


def row_images(
    hashes: np.ndarray, rows: np.ndarray, null_mask: np.ndarray, lg_k: int
) -> pa.Array:
    """One sketch image per row of a batch.

    ``hashes`` are the batch's 64-bit cardinality hashes, ``rows[i]`` is
    the index of the row ``hashes[i]`` belongs to, and ``null_mask``
    flags the NULL rows, which stay NULL.  A non-null row with no hashes
    gets the empty sketch (cardinality 0, the reference's
    empty-collection rule, HLLFunctions.scala:105-111).  Each row's
    distinct coupons go through :func:`coupon_image`, except a row with
    exactly one coupon (every ``hll_init`` row): that row is the one
    constant single-coupon LIST image with its coupon word patched in.
    """
    coupons = coupons_for_longs(hashes)
    order = np.lexsort((coupons, rows))
    r, c = rows[order], coupons[order]
    keep = np.ones(len(r), dtype=bool)
    keep[1:] = (r[1:] != r[:-1]) | (c[1:] != c[:-1])
    r, c = r[keep], c[keep]
    bounds = np.searchsorted(r, np.arange(len(null_mask) + 1)).tolist()
    one = serialize_coupons((0,), lg_k)
    head, tail = one[:8], one[12:]
    words = c.tolist()
    out = [None] * len(null_mask)
    for i in np.flatnonzero(~null_mask).tolist():
        lo, hi = bounds[i], bounds[i + 1]
        if hi - lo == 1:
            out[i] = head + struct.pack("<I", words[lo]) + tail
        else:
            out[i] = coupon_image(c[lo:hi], lg_k)
    return pa.array(out, type=pa.binary())
