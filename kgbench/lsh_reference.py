"""Independent replica of the near-dup candidate generator, for the oracle.

Re-derives ``dedup.minhash_lsh_candidates`` with its default settings
(3-token shingles, 32 hashes, 8 bands of 4 rows) from the published
algorithm: XXH64 with Spark's seed 42 over each shingle's UTF-8 bytes,
the universal hashes h_i(s) = ((2i+1) * xx(s) + 1000003 * (i+1)) mod
(2^31 - 1), and a pair per shared (band, band values). Shares no code
with the Spark operator.
"""

from __future__ import annotations

import itertools
import struct

import numpy as np

MERSENNE = 2147483647
N_HASHES, N_BANDS, SHINGLE = 32, 8, 3
SPARK_SEED = 42

_P1 = 11400714785074694791
_P2 = 14029467366897019727
_P3 = 1609587929392839161
_P4 = 9650029242287828579
_P5 = 2870177450012600261
_M = (1 << 64) - 1


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M


def _round(acc: int, lane: int) -> int:
    return (_rotl((acc + lane * _P2) & _M, 31) * _P1) & _M


def _merge(acc: int, val: int) -> int:
    return ((acc ^ _round(0, val)) * _P1 + _P4) & _M


def xxh64(data: bytes, seed: int = SPARK_SEED) -> int:
    """XXH64 of ``data`` as a signed 64-bit integer (Spark's ``xxhash64``)."""
    n, i = len(data), 0
    if n >= 32:
        v = [(seed + _P1 + _P2) & _M, (seed + _P2) & _M, seed & _M, (seed - _P1) & _M]
        while i + 32 <= n:
            for k in range(4):
                v[k] = _round(v[k], struct.unpack_from("<Q", data, i + 8 * k)[0])
            i += 32
        acc = (_rotl(v[0], 1) + _rotl(v[1], 7) + _rotl(v[2], 12) + _rotl(v[3], 18)) & _M
        for k in range(4):
            acc = _merge(acc, v[k])
    else:
        acc = (seed + _P5) & _M
    acc = (acc + n) & _M
    while i + 8 <= n:
        acc ^= _round(0, struct.unpack_from("<Q", data, i)[0])
        acc = (_rotl(acc, 27) * _P1 + _P4) & _M
        i += 8
    if i + 4 <= n:
        acc ^= (struct.unpack_from("<I", data, i)[0] * _P1) & _M
        acc = (_rotl(acc, 23) * _P2 + _P3) & _M
        i += 4
    while i < n:
        acc ^= (data[i] * _P5) & _M
        acc = (_rotl(acc, 11) * _P1) & _M
        i += 1
    acc ^= acc >> 33
    acc = (acc * _P2) & _M
    acc ^= acc >> 29
    acc = (acc * _P3) & _M
    acc ^= acc >> 32
    return acc - (1 << 64) if acc >= 1 << 63 else acc


def candidate_pairs(doc_ids, texts) -> set[tuple[int, int]]:
    """(a_id, b_id), a_id < b_id, of documents sharing any LSH band."""
    vocab: dict[str, int] = {}
    docs, codes = [], []
    for doc_id, text in zip(doc_ids, texts):
        ids = np.array([vocab.setdefault(t, len(vocab)) for t in text.lower().split()])
        if len(ids) >= SHINGLE:
            docs.append(np.full(len(ids) - SHINGLE + 1, int(doc_id)))
            codes.append(ids[:-2] * (1 << 42) + ids[1:-1] * (1 << 21) + ids[2:])
    if not docs:
        return set()
    docs_a, codes_a = np.concatenate(docs), np.concatenate(codes)
    # hash each distinct shingle once
    words = list(vocab)
    uniq, inverse = np.unique(codes_a, return_inverse=True)
    uniq_h = np.array([
        xxh64(" ".join(words[(c >> s) & ((1 << 21) - 1)] for s in (42, 21, 0)).encode("utf-8"))
        % MERSENNE
        for c in uniq.tolist()
    ], dtype=np.int64)
    h = uniq_h[inverse]
    starts = np.flatnonzero(np.r_[True, docs_a[1:] != docs_a[:-1]])
    ids = docs_a[starts]
    sig = np.stack([
        np.minimum.reduceat(((2 * i + 1) * h + 1000003 * (i + 1)) % MERSENNE, starts)
        for i in range(N_HASHES)
    ], axis=1)
    rows = N_HASHES // N_BANDS
    pairs: set[tuple[int, int]] = set()
    for b in range(N_BANDS):
        buckets: dict[tuple, list[int]] = {}
        for doc_id, key in zip(ids.tolist(), map(tuple, sig[:, b * rows : (b + 1) * rows].tolist())):
            buckets.setdefault(key, []).append(doc_id)
        for members in buckets.values():
            pairs.update(itertools.combinations(sorted(members), 2))
    return pairs
