"""Vectorized hashing kernel (numpy, whole-column — never per-row Python).

Implements MurmurHash3-x86-32 over variable-length byte strings, fully
vectorized across a column of keys: the per-4-byte-block mixing loop runs
over *block index* (bounded by the longest key), with every row processed
simultaneously by masked numpy ops.  This is the Arrow-native analogue of
the reference's scalar hash loop (see /root/reference/fbloom/bloom.h:150-219,
vendored jwerle murmurhash), re-derived from the public MurmurHash3 spec
(Austin Appleby, public domain) — no reference code is copied.

Double hashing follows the reference's convention of two independent seeds
(/root/reference/fbloom/bloom.h:245-251: seeds 0 and 0x87654321); a 64-bit
hash for HLL/MinHash/SimHash is composed from two 32-bit lanes
(seeds 0, 0x9E3779B9 — the golden-ratio seed the reference's gloom path
uses, /root/reference/fbloom/gloom.h:54-59).
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa

__all__ = [
    "SEED_H1",
    "SEED_H2",
    "SEED_A",
    "SEED_B",
    "murmur3_32",
    "murmur3_32_scalar",
    "hash_pair",
    "hash64",
    "splitmix64",
    "derive_hashes",
    "to_byte_matrix",
    "int64_byte_matrix",
]

SEED_H1 = 0x00000000  # bloom.h:246 — first hash seed
SEED_H2 = 0x87654321  # bloom.h:249 — second hash seed
SEED_A = 0x00000000
SEED_B = 0x9E3779B9  # golden-ratio seed (gloom.h:58 uses the 64-bit variant)

_C1 = np.uint32(0xCC9E2D51)
_C2 = np.uint32(0x1B873593)
_M5 = np.uint32(5)
_N1 = np.uint32(0xE6546B64)
_F1 = np.uint32(0x85EBCA6B)
_F2 = np.uint32(0xC2B2AE35)

_MERSENNE61 = np.uint64((1 << 61) - 1)


def _rotl32(x: np.ndarray, r: int) -> np.ndarray:
    r = np.uint32(r)
    return (x << r) | (x >> (np.uint32(32) - r))


def to_byte_matrix(values) -> tuple[np.ndarray, np.ndarray]:
    """Column of strings/bytes -> (padded uint8 matrix [N, Lpad], lengths [N]).

    Uses Arrow buffers directly (offsets + contiguous data) so there is no
    per-row Python in the conversion.  Lpad is a multiple of 4 so the matrix
    can be reinterpreted as little-endian uint32 words.
    """
    if isinstance(values, pa.ChunkedArray):
        values = values.combine_chunks()
    if not isinstance(values, pa.Array):
        values = pa.array(values)
    if pa.types.is_string(values.type) or pa.types.is_large_string(values.type):
        values = values.cast(pa.large_binary())
    elif pa.types.is_binary(values.type):
        values = values.cast(pa.large_binary())
    elif not pa.types.is_large_binary(values.type):
        # numeric / other arrow types: hash their string form is surprising;
        # callers should use int64_byte_matrix for numerics instead.
        values = values.cast(pa.large_string()).cast(pa.large_binary())
    if values.null_count:
        values = values.fill_null(b"")

    n = len(values)
    if n == 0:
        return np.zeros((0, 4), np.uint8), np.zeros(0, np.int64)

    buffers = values.buffers()
    offsets = np.frombuffer(buffers[1], dtype=np.int64)[
        values.offset : values.offset + n + 1
    ]
    data = np.frombuffer(buffers[2], dtype=np.uint8) if buffers[2] is not None else np.zeros(0, np.uint8)
    lengths = (offsets[1:] - offsets[:-1]).astype(np.int64)

    max_len = int(lengths.max()) if n else 0
    lpad = max(4, ((max_len + 3) // 4) * 4)
    mat = np.zeros((n, lpad), np.uint8)
    if data.size:
        # gather in row chunks: the [chunk, lpad] int64 index/mask
        # intermediates stay cache-resident — one whole-column pass built
        # 3x N*lpad*8-byte temporaries and ran ~9x slower at 1M urls
        col = np.arange(lpad, dtype=np.int64)[None, :]
        chunk = max(1, (1 << 21) // (lpad * 8))  # ~2 MB of index per chunk
        for s in range(0, n, chunk):
            e = min(s + chunk, n)  # offsets has n+1 entries; stay in [s, e)
            off = offsets[s:e, None]
            ln = lengths[s:e, None]
            valid = col < ln
            gathered = data[np.where(valid, off + col, 0)]
            mat[s:e] = np.where(valid, gathered, np.uint8(0))
    return mat, lengths


def int64_byte_matrix(values: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """int64 column -> fixed 8-byte little-endian rows (POD hashing,
    mirroring the reference's trivially-copyable dispatch, bloom.h:444-459)."""
    arr = np.ascontiguousarray(values, dtype="<i8")
    mat = arr.view(np.uint8).reshape(-1, 8)
    lengths = np.full(arr.shape[0], 8, np.int64)
    return mat, lengths


def numeric_byte_matrix(values: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Float column -> fixed 8-byte rows under a per-VALUE canonical rule:
    an integral, in-int64-range value hashes as its int64 POD bytes —
    byte-identical to the same key arriving through an integer column —
    and any other value (fractional, ±inf) as its float64 IEEE bit
    pattern.  pandas promotes nullable integer batches to float64
    (null -> NaN), so without this rule the same logical key hashed into
    two different domains depending on whether its Arrow batch happened
    to contain a null — breaking Bloom's no-false-negative guarantee
    between build and probe.  Per-value canonicalization is dtype- and
    batch-insensitive, so build and probe always agree.  (A denormal
    double whose bit pattern equals a small int64 collides with that
    integer key — a ~2^-64 curiosity acceptable in approximate sketches.)
    NaN must be dropped by the caller (SQL null semantics).

    The agg/checkpoint engine reads integer columns as Arrow int64, so
    only one entry still reaches this rule through pandas:
    ``streaming.stateful_grouped_sketch`` (its applyInPandasWithState
    fold has no Arrow form).  There a nullable bigint batch arrives as
    float64 already, so keys above 2^53 are rounded to the nearest
    double BEFORE this function sees them: they hash as that rounded
    neighbour, unlike the same keys on the Arrow build and probe paths."""
    vals = np.ascontiguousarray(values, dtype=np.float64)
    out = vals.view(np.int64).copy()  # default: IEEE bit pattern
    with np.errstate(invalid="ignore"):
        integral = (np.isfinite(vals) & (vals == np.floor(vals))
                    & (vals >= -9_223_372_036_854_775_808.0)
                    & (vals < 9_223_372_036_854_775_808.0))
    out[integral] = vals[integral].astype(np.int64)
    mat = out.view(np.uint8).reshape(-1, 8)
    return mat, np.full(vals.shape[0], 8, np.int64)


def murmur3_32(mat: np.ndarray, lengths: np.ndarray, seed: int) -> np.ndarray:
    """MurmurHash3-x86-32 over rows of a padded byte matrix. Returns uint32[N]."""
    n = mat.shape[0]
    if n == 0:
        return np.zeros(0, np.uint32)
    words = mat.view("<u4")  # [N, Lpad//4]
    nblocks = lengths // 4
    rem = lengths - nblocks * 4

    h = np.full(n, np.uint32(seed), np.uint32)
    max_blocks = int(nblocks.max()) if n else 0
    for j in range(max_blocks):
        m = nblocks > j
        if not m.any():
            break
        k1 = words[m, j].astype(np.uint32, copy=True)
        k1 *= _C1
        k1 = _rotl32(k1, 15)
        k1 *= _C2
        hm = h[m]
        hm ^= k1
        hm = _rotl32(hm, 13)
        hm = hm * _M5 + _N1
        h[m] = hm

    tmask = rem > 0
    if tmask.any():
        tidx = np.minimum(nblocks, words.shape[1] - 1)
        tword = words[np.arange(n), tidx].astype(np.uint64)
        keep = (np.uint64(1) << (rem.astype(np.uint64) * np.uint64(8))) - np.uint64(1)
        k1 = (tword & keep).astype(np.uint32)
        k1 *= _C1
        k1 = _rotl32(k1, 15)
        k1 *= _C2
        h = np.where(tmask, h ^ k1, h)

    h ^= lengths.astype(np.uint32)
    h ^= h >> np.uint32(16)
    h *= _F1
    h ^= h >> np.uint32(13)
    h *= _F2
    h ^= h >> np.uint32(16)
    return h


def murmur3_32_scalar(data: bytes, seed: int = 0) -> int:
    """Scalar reference implementation (public spec) used only in tests to
    cross-check the vectorized kernel."""
    c1, c2 = 0xCC9E2D51, 0x1B873593
    h = seed & 0xFFFFFFFF
    nblocks = len(data) // 4
    for i in range(nblocks):
        k1 = int.from_bytes(data[4 * i : 4 * i + 4], "little")
        k1 = (k1 * c1) & 0xFFFFFFFF
        k1 = ((k1 << 15) | (k1 >> 17)) & 0xFFFFFFFF
        k1 = (k1 * c2) & 0xFFFFFFFF
        h ^= k1
        h = ((h << 13) | (h >> 19)) & 0xFFFFFFFF
        h = (h * 5 + 0xE6546B64) & 0xFFFFFFFF
    tail = data[nblocks * 4 :]
    k1 = 0
    if len(tail) >= 3:
        k1 ^= tail[2] << 16
    if len(tail) >= 2:
        k1 ^= tail[1] << 8
    if len(tail) >= 1:
        k1 ^= tail[0]
        k1 = (k1 * c1) & 0xFFFFFFFF
        k1 = ((k1 << 15) | (k1 >> 17)) & 0xFFFFFFFF
        k1 = (k1 * c2) & 0xFFFFFFFF
        h ^= k1
    h ^= len(data)
    h ^= h >> 16
    h = (h * 0x85EBCA6B) & 0xFFFFFFFF
    h ^= h >> 13
    h = (h * 0xC2B2AE35) & 0xFFFFFFFF
    h ^= h >> 16
    return h


def _as_matrix(values) -> tuple[np.ndarray, np.ndarray]:
    if isinstance(values, tuple):
        return values
    if isinstance(values, np.ndarray) and values.dtype.kind in "iu":
        return int64_byte_matrix(values.astype(np.int64, copy=False))
    if isinstance(values, np.ndarray) and values.dtype.kind == "f":
        return numeric_byte_matrix(values)
    # numeric Arrow arrays and plain python sequences of numbers must hash
    # in the same canonical domain as the ndarray paths above — route them
    # through numpy (an integer array with nulls surfaces as float64 with
    # NaN, which numeric_byte_matrix canonicalizes per value; callers mask
    # null rows themselves)
    if not isinstance(values, (pa.Array, pa.ChunkedArray)):
        try:
            inferred = pa.array(values)
        except (pa.ArrowInvalid, pa.ArrowTypeError, pa.ArrowNotImplementedError):
            return to_byte_matrix(values)
        values = inferred
    if pa.types.is_integer(values.type) or pa.types.is_floating(values.type):
        if isinstance(values, pa.ChunkedArray):
            values = values.combine_chunks()
        np_vals = values.to_numpy(zero_copy_only=False)
        if np_vals.dtype.kind in "iu":
            return int64_byte_matrix(np_vals.astype(np.int64, copy=False))
        return numeric_byte_matrix(np_vals.astype(np.float64, copy=False))
    return to_byte_matrix(values)


def hash_pair(values, *, odd_h2: bool = False) -> tuple[np.ndarray, np.ndarray]:
    """Two independent 32-bit hashes per key (O2 in SURVEY §2.1; seeds per
    bloom.h:245-251). ``odd_h2`` forces h2 odd as gloom.h:110 does — useful
    when the modulus is a power of two."""
    mat, lengths = _as_matrix(values)
    h1 = murmur3_32(mat, lengths, SEED_H1)
    h2 = murmur3_32(mat, lengths, SEED_H2)
    if odd_h2:
        h2 = h2 | np.uint32(1)
    return h1, h2


def hash64(values) -> np.ndarray:
    """64-bit hash per key composed from two independent 32-bit lanes
    (for HLL register selection / MinHash / SimHash)."""
    mat, lengths = _as_matrix(values)
    ha = murmur3_32(mat, lengths, SEED_A).astype(np.uint64)
    hb = murmur3_32(mat, lengths, SEED_B).astype(np.uint64)
    return (ha << np.uint64(32)) | hb


_GOLDEN64 = np.uint64(0x9E3779B97F4A7C15)


def splitmix64(x: np.ndarray) -> np.ndarray:
    """Vectorized splitmix64 finalizer (public domain, Steele et al.) —
    a full-avalanche uint64 mixer used to derive independent hash families
    from a single base hash."""
    z = x + _GOLDEN64
    z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
    z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
    return z ^ (z >> np.uint64(31))


def derive_hashes(h64: np.ndarray, n_hashes: int, seed: int = 0x5EED) -> np.ndarray:
    """Derive ``n_hashes`` independent 64-bit hashes per key by remixing one
    base hash with per-function tweaks (the single-hash + derived-family
    construction used by production sketch libraries; avoids re-hashing the
    raw bytes k times, same idea as the reference's double-hashing trick,
    bloom.h:253-261). Returns uint64[n_hashes, N]."""
    base = np.asarray(h64, dtype=np.uint64)
    out = np.empty((n_hashes, base.shape[0]), np.uint64)
    with np.errstate(over="ignore"):
        for i in range(n_hashes):
            tweak = np.uint64((seed + i) & 0xFFFFFFFFFFFFFFFF) * _GOLDEN64
            out[i] = splitmix64(base ^ tweak)
    return out
