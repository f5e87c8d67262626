"""Shared 64-bit hashing primitives for the numpy kernels.

One definition for the polynomial base, its inverse and the finalizer
used by the rolling-window fingerprints (:mod:`.paragraph`), which rely on
the low bits being uniform for mod-selection.
"""

from __future__ import annotations

import numpy as np

# odd (invertible mod 2^64) polynomial base — the FNV-1a 64-bit prime
POLY64 = 0x100000001B3
POLY64_INV = pow(POLY64, -1, 1 << 64)


def splitmix64(h: np.ndarray) -> np.ndarray:
    """splitmix64-style finalizer over a uint64 array (in place, also
    returned): makes the low bits carry every input bit — required
    before any ``% mod`` selection."""
    with np.errstate(over="ignore"):
        h ^= h >> np.uint64(33)
        h *= np.uint64(0xFF51AFD7ED558CCD)
        h ^= h >> np.uint64(29)
    return h
