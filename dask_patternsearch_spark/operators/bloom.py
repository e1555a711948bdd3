"""The package's one Bloom filter bit layout.

A key enters as two 64-bit hashes ``(h1, h2)``.  Its ``K`` bit indices
in an ``m``-bit filter are ``(h1 + i*h2) mod m`` for ``i < K``
(Kirsch-Mitzenmacher double hashing); bit ``j`` lives in byte ``j >> 3``
at position ``j & 7``, least significant first.

The layout is an ON-DISK FORMAT: the CDC ledger bloom, the band-sidecar
bloom and the streaming band-ledger bloom persist these bytes as
``(pfx, m, bits)`` rows, and a probe of an existing dir must hash
exactly as the build that wrote it.  Changing ``K``, the index formula
or the bit order turns every persisted bloom into false negatives.
"""

from __future__ import annotations

import math

import numpy as np

K = 8              # probes per key
BITS_PER_KEY = 16  # m ~= 16n -> fpp ~5e-4 at k=8


def size_for(n: int) -> int:
    """Bloom size in bits for ``n`` keys: next power of two above
    ``BITS_PER_KEY`` bits/key, clamped to [2^10, 2^27] (128 B .. 16 MB)."""
    target = max(BITS_PER_KEY * max(n, 1), 1024)
    return min(1 << math.ceil(math.log2(target)), 1 << 27)


def _indices(h1, h2, m: int) -> np.ndarray:
    """(len(h1), K) bit indices; int64 hashes wrap to uint64."""
    ks = np.arange(K, dtype=np.uint64)[None, :]
    return ((np.asarray(h1).astype(np.uint64)[:, None]
             + ks * np.asarray(h2).astype(np.uint64)[:, None])
            % np.uint64(m)).astype(np.int64)


def set_bits(arr: np.ndarray, h1, h2) -> None:
    """Set the keys' bits in the uint8 bitset ``arr`` (m = 8 * arr.size),
    in place."""
    idx = _indices(h1, h2, arr.size * 8)
    np.bitwise_or.at(arr, idx >> 3, np.uint8(1) << (idx & 7).astype(np.uint8))


def might_contain(h1, h2, rows) -> np.ndarray:
    """Per key: True when every bit is set in ANY of the ``(m, bits)``
    rows (OR over the delta rows of one prefix).  No rows: all False."""
    maybe = np.zeros(len(h1), dtype=bool)
    for m, bits in rows:
        arr = np.frombuffer(bits, dtype=np.uint8)
        idx = _indices(h1, h2, int(m))
        maybe |= (((arr[idx >> 3] >> (idx & 7).astype(np.uint8)) & 1)
                  == 1).all(axis=1)
    return maybe
