"""Spark's ``xxhash64(c1, c2, ...)`` in numpy, for driver-side writers.

Spark hashes a row column by column: the running hash starts at seed 42,
and each column's value is hashed with the previous result as its seed
(a null column leaves the hash unchanged). Each value is standard XXH64
over its bytes: an int as 4 little-endian bytes (``hashInt``), a long as
8 (``hashLong``), a string as its UTF-8 bytes (``hashUnsafeBytes``).

Ints and longs hash vectorized in uint64 (wrapping arithmetic). Strings
hash in Python once per distinct (seed, value) pair, grouped by their
Arrow dictionary codes: a column's distinct values times its distinct
seeds is small next to its rows for every table the lineage log covers
(terms and sections repeat).
"""

from __future__ import annotations

import numpy as np
import pandas as pd

SPARK_SEED = 42

_M = (1 << 64) - 1
_P1 = 11400714785074694791
_P2 = 14029467366897019727
_P3 = 1609587929392839161
_P4 = 9650029242287828579
_P5 = 2870177450012600261
_U = {p: np.uint64(p) for p in (_P1, _P2, _P3, _P4, _P5)}


def _rotl(x: np.ndarray, r: int) -> np.ndarray:
    return (x << np.uint64(r)) | (x >> np.uint64(64 - r))


def _fmix(h: np.ndarray) -> np.ndarray:
    h = h ^ (h >> np.uint64(33))
    h = h * _U[_P2]
    h = h ^ (h >> np.uint64(29))
    h = h * _U[_P3]
    return h ^ (h >> np.uint64(32))


def hash_int(v: np.ndarray, seed: np.ndarray) -> np.ndarray:
    """XXH64 of each int32 (4 LE bytes) under its uint64 seed."""
    with np.errstate(over="ignore"):
        h = seed + _U[_P5] + np.uint64(4)
        h = h ^ (v.astype(np.int32).view(np.uint32).astype(np.uint64)
                 * _U[_P1])
        h = _rotl(h, 23) * _U[_P2] + _U[_P3]
        return _fmix(h)


def hash_long(v: np.ndarray, seed: np.ndarray) -> np.ndarray:
    """XXH64 of each int64 (8 LE bytes) under its uint64 seed."""
    with np.errstate(over="ignore"):
        h = seed + _U[_P5] + np.uint64(8)
        k = _rotl(v.astype(np.int64).view(np.uint64) * _U[_P2], 31) * _U[_P1]
        h = _rotl(h ^ k, 27) * _U[_P1] + _U[_P4]
        return _fmix(h)


def _rotl_int(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M


def _round(acc: int, lane: int) -> int:
    return _rotl_int((acc + lane * _P2) & _M, 31) * _P1 & _M


def xxh64_bytes(b: bytes, seed: int) -> int:
    """Standard XXH64 of ``b`` (unsigned 64-bit result)."""
    n, i = len(b), 0
    if n >= 32:
        v = [(seed + _P1 + _P2) & _M, (seed + _P2) & _M, seed,
             (seed - _P1) & _M]
        while i <= n - 32:
            for j in range(4):
                v[j] = _round(v[j], int.from_bytes(b[i:i + 8], "little"))
                i += 8
        h = (_rotl_int(v[0], 1) + _rotl_int(v[1], 7) + _rotl_int(v[2], 12)
             + _rotl_int(v[3], 18)) & _M
        for x in v:
            h = ((h ^ _round(0, x)) * _P1 + _P4) & _M
    else:
        h = (seed + _P5) & _M
    h = (h + n) & _M
    while i + 8 <= n:
        h ^= _round(0, int.from_bytes(b[i:i + 8], "little"))
        h = (_rotl_int(h, 27) * _P1 + _P4) & _M
        i += 8
    if i + 4 <= n:
        h ^= int.from_bytes(b[i:i + 4], "little") * _P1 & _M
        h = (_rotl_int(h, 23) * _P2 + _P3) & _M
        i += 4
    while i < n:
        h ^= b[i] * _P5 & _M
        h = _rotl_int(h, 11) * _P1 & _M
        i += 1
    h ^= h >> 33
    h = h * _P2 & _M
    h ^= h >> 29
    h = h * _P3 & _M
    return h ^ (h >> 32)


def hash_str(values, seed: np.ndarray) -> np.ndarray:
    """XXH64 of each string's UTF-8 bytes under its uint64 seed, computed
    once per distinct (seed, value) pair. ``values`` is a pyarrow string
    column (no nulls): its dictionary codes group the rows, so no Python
    string is made per row."""
    enc = values.dictionary_encode().combine_chunks()
    codes = enc.indices.to_numpy()
    uniq = [v.encode() for v in enc.dictionary.to_pylist()]
    seed_codes, _ = pd.factorize(seed)
    pair, keys = pd.factorize(seed_codes * len(uniq) + codes)
    rep = np.empty(len(keys), np.int64)
    rep[pair] = np.arange(len(pair))  # any one row of each pair
    pair_hash = np.array(
        [xxh64_bytes(uniq[codes[i]], int(seed[i])) for i in rep],
        dtype=np.uint64,
    )
    return pair_hash[pair]


#: Spark simple type → the hash of one column of it
_HASHERS = {"int": hash_int, "bigint": hash_long, "string": hash_str}


def xxhash64(table, columns: tuple[str, ...], types: dict[str, str]):
    """Spark's ``xxhash64(*columns)`` over the rows of a pyarrow ``table``
    as signed int64. ``types`` maps each column to its Spark simple type
    ("int", "bigint" or "string")."""
    h = np.full(table.num_rows, SPARK_SEED, dtype=np.uint64)
    for c in columns:
        col = table.column(c)
        valid = col.is_valid().to_numpy(zero_copy_only=False)
        col = col.drop_null()
        if len(col):
            vals = col if types[c] == "string" else col.to_numpy()
            h[valid] = _HASHERS[types[c]](vals, h[valid])
    return h.view(np.int64)
