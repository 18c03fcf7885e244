"""Spark's ``xxhash64`` (seed 42) re-implemented in numpy.

The benchmark checks every timed job against a reference computed here,
outside Spark: a result is summarised as ``(row count, XOR of the
per-row xxhash64)``. Spark's ``xxhash64(c1, c2, ...)`` folds the columns
left to right, each column's hash seeding the next, and skips NULLs:

- int    -> XXH64 of the 4 little-endian bytes
- long   -> XXH64 of the 8 little-endian bytes
- double -> the long hash of its IEEE-754 bits
- string -> XXH64 of the UTF-8 bytes

All arithmetic is uint64 with wrap-around, vectorised over rows. Strings
are hashed in groups of equal byte length, so each group is one set of
array operations.
"""

from __future__ import annotations

import numpy as np

P1 = np.uint64(0x9E3779B185EBCA87)
P2 = np.uint64(0xC2B2AE3D27D4EB4F)
P3 = np.uint64(0x165667B19E3779F9)
P4 = np.uint64(0x85EBCA77C2B2AE63)
P5 = np.uint64(0x27D4EB2F165667C5)
SPARK_SEED = 42


def _rotl(x, r: int):
    return (x << np.uint64(r)) | (x >> np.uint64(64 - r))


def _fmix(h):
    h = h ^ (h >> np.uint64(33))
    h = h * P2
    h = h ^ (h >> np.uint64(29))
    h = h * P3
    return h ^ (h >> np.uint64(32))


def _round(acc, word):
    return _rotl(acc + word * P2, 31) * P1


def hash_long(values, seed):
    """XXH64 of int64 values (uint64 arrays in, uint64 out)."""
    h = seed + P5 + np.uint64(8)
    h = h ^ (_rotl(values * P2, 31) * P1)
    return _fmix(_rotl(h, 27) * P1 + P4)


def hash_int(values, seed):
    """XXH64 of int32 values given as uint64 holding the 32-bit pattern."""
    h = seed + P5 + np.uint64(4)
    h = h ^ (values * P1)
    return _fmix(_rotl(h, 23) * P2 + P3)


def hash_bytes(mat: np.ndarray, seed):
    """XXH64 of each row of an (n, length) uint8 matrix."""
    n, length = mat.shape
    pad = (-length) % 8
    words = np.ascontiguousarray(
        np.pad(mat, ((0, 0), (0, pad))) if pad else mat
    ).view("<u8").astype(np.uint64)
    off = 0
    if length >= 32:
        v = [seed + P1 + P2, seed + P2, seed + np.uint64(0), seed - P1]
        v = [np.broadcast_to(x, (n,)).astype(np.uint64) for x in v]
        while off + 32 <= length:
            for lane in range(4):
                v[lane] = _round(v[lane], words[:, off // 8 + lane])
            off += 32
        h = _rotl(v[0], 1) + _rotl(v[1], 7) + _rotl(v[2], 12) + _rotl(v[3], 18)
        for lane in range(4):
            h = (h ^ _round(np.uint64(0), v[lane])) * P1 + P4
    else:
        h = np.broadcast_to(seed + P5, (n,)).astype(np.uint64)
    h = h + np.uint64(length)
    while off + 8 <= length:
        h = h ^ _round(np.uint64(0), words[:, off // 8])
        h = _rotl(h, 27) * P1 + P4
        off += 8
    if off + 4 <= length:
        k = mat[:, off:off + 4].copy().view("<u4").astype(np.uint64)[:, 0]
        h = h ^ (k * P1)
        h = _rotl(h, 23) * P2 + P3
        off += 4
    while off < length:
        h = h ^ (mat[:, off].astype(np.uint64) * P5)
        h = _rotl(h, 11) * P1
        off += 1
    return _fmix(h)


def _hash_strings(values, seed):
    encoded = [None if s is None else s.encode("utf-8") for s in values]
    out = np.array(seed, dtype=np.uint64, copy=True)
    out = np.broadcast_to(out, (len(encoded),)).copy()
    lengths = np.array([-1 if b is None else len(b) for b in encoded])
    for length in np.unique(lengths):
        if length < 0:
            continue
        rows = np.nonzero(lengths == length)[0]
        buf = b"".join(encoded[i] for i in rows)
        mat = np.frombuffer(buf, dtype=np.uint8).reshape(len(rows), int(length))
        out[rows] = hash_bytes(mat, out[rows])
    return out


def row_hashes(columns: list[tuple[str, object]]) -> np.ndarray:
    """Per-row ``xxhash64(c1, c2, ...)`` as Spark computes it.

    ``columns`` is a list of (kind, values) with kind one of ``int``,
    ``long``, ``double``, ``string``. NULL is None, except in a double
    column, which is a float array with NaN for NULL. Returns int64
    hashes.
    """
    n = len(columns[0][1])
    h = np.full(n, SPARK_SEED, dtype=np.uint64)
    with np.errstate(over="ignore"):
        for kind, values in columns:
            if kind == "string":
                h = _hash_strings(values, h)
                continue
            arr = np.asarray(values, dtype=object if kind != "double" else np.float64)
            if kind == "double":
                valid = ~np.isnan(arr)
                bits = (arr + 0.0).view(np.uint64)  # Spark hashes -0.0 as 0.0
                nh = hash_long(bits, h)
            else:
                valid = np.array([v is not None for v in arr], dtype=bool)
                ints = np.array([0 if v is None else int(v) for v in arr], dtype=np.int64)
                if kind == "int":
                    nh = hash_int(ints.astype(np.uint32).astype(np.uint64), h)
                elif kind == "long":
                    nh = hash_long(ints.view(np.uint64), h)
                else:
                    raise ValueError(f"unknown column kind {kind!r}")
            h = np.where(valid, nh, h)
    return h.view(np.int64)


def fold(hashes: np.ndarray) -> tuple[int, int]:
    """(row count, XOR of the row hashes) as Python ints (signed 64-bit)."""
    hashes = np.asarray(hashes, dtype=np.int64)
    x = int(np.bitwise_xor.reduce(hashes)) if len(hashes) else 0
    return len(hashes), x
