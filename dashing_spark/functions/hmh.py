"""HyperMinHash — dashing's HYPERMINHASH sketch type.

Reference: enum /root/reference/src/dashing.h:231-234, cardinality via
`getcard` (src/dashing.h:495). Semantics per Yu & Weber 2017
(arXiv:1710.08436): each HLL bucket additionally stores b bits of the
minimal element's hash suffix, so the sketch supports BOTH HLL-quality
cardinality estimation AND MinHash-style Jaccard from register equality
— at ~2 bytes/register instead of a full 8-byte KMV entry.

Register packing (uint16): ``(rank << b) | (MAXR - r)`` where rank is
the HLL leading-zero rank of the bucket's minimal hash and r is the b
hash bits following the leading 1. Maximizing the packed value selects
(max rank, min r) = the bucket's minimal element, so merge is
elementwise max — bit-identical under any partitioning.
"""

from __future__ import annotations

import struct

import numpy as np

from dashing_spark.functions.hll import (
    _bit_length_u64,
    ertl_improved,
    ertl_mle,
    resolve_estimator,
    row_histograms,
)

_MAGIC = b"DSH1"
TYPE_ID = 9


class HyperMinHash:
    __slots__ = ("p", "b", "regs")

    def __init__(self, p: int = 12, b: int = 10, regs: np.ndarray | None = None):
        if not 4 <= p <= 20:
            raise ValueError(f"p out of range: {p}")
        rank_bits = 6  # ranks go to 64-p+1 ≤ 61 < 64
        if not 1 <= b <= 16 - rank_bits:
            raise ValueError(f"b out of range: {b}")
        self.p = p
        self.b = b
        m = 1 << p
        if regs is None:
            regs = np.zeros(m, dtype=np.uint16)
        else:
            regs = np.asarray(regs, dtype=np.uint16)
            if regs.shape != (m,):
                raise ValueError("register shape mismatch")
        self.regs = regs

    @classmethod
    def empty(cls, p: int = 12, b: int = 10) -> "HyperMinHash":
        return cls(p, b)

    def update_hashes(self, hashes: np.ndarray) -> "HyperMinHash":
        if len(hashes) == 0:
            return self
        h = np.asarray(hashes, dtype=np.uint64)
        p, b = self.p, self.b
        q = 64 - p
        idx = (h >> np.uint64(q)).astype(np.int64)
        rest = h << np.uint64(p)
        rank = np.minimum(
            np.int64(q + 1), (65 - _bit_length_u64(rest)).astype(np.int64)
        )
        # r = b bits after the leading 1 of `rest` (zero-filled past bit 63)
        shift = rank.astype(np.uint64)  # skip the `rank-1` zeros and the leading 1
        after = rest << shift  # elementwise shift; >=64 yields undefined, mask below
        overflow = rank >= 64
        r = (after >> np.uint64(64 - b)).astype(np.uint16)
        r[overflow] = 0
        maxr = np.uint16((1 << b) - 1)
        packed = (rank.astype(np.uint16) << np.uint16(b)) | (maxr - r)
        np.maximum.at(self.regs, idx, packed)
        return self

    def merge(self, other: "HyperMinHash") -> "HyperMinHash":
        if (other.p, other.b) != (self.p, self.b):
            raise ValueError("cannot merge HyperMinHash with different params")
        np.maximum(self.regs, other.regs, out=self.regs)
        return self

    def _ranks(self) -> np.ndarray:
        return (self.regs >> np.uint16(self.b)).astype(np.int64)

    def estimate(self, estimator: str = "default") -> float:
        """HLL-quality cardinality from the rank parts of the registers."""
        q = 64 - self.p
        c = row_histograms(self._ranks()[None, :], q + 2)
        return float(hmh_estimator(estimator)(c, float(1 << self.p), q)[0])

    def to_bytes(self) -> bytes:
        return (
            _MAGIC
            + struct.pack("<BBB", TYPE_ID, self.p, self.b)
            + self.regs.tobytes()
        )

    @classmethod
    def from_bytes(cls, blob: bytes) -> "HyperMinHash":
        if blob[:4] != _MAGIC or blob[4] != TYPE_ID:
            raise ValueError("not a HyperMinHash blob")
        p, b = blob[5], blob[6]
        m = 1 << p
        regs = np.frombuffer(blob[7 : 7 + 2 * m], dtype=np.uint16).copy()
        return cls(p, b, regs)

    def __eq__(self, other) -> bool:
        return (
            isinstance(other, HyperMinHash)
            and (self.p, self.b) == (other.p, other.b)
            and bool(np.array_equal(self.regs, other.regs))
        )


def hmh_estimator(estimator: str):
    """The HLL estimator HyperMinHash runs for ``estimator`` over its
    rank histograms: the Poisson MLE for what resolves to "ertl_mle"
    ("default" included), improved raw for every other name of the HLL
    table; ValueError for an unknown name."""
    return ertl_mle if resolve_estimator(estimator) == "ertl_mle" else ertl_improved


def hmh_jaccard(a: HyperMinHash, b: HyperMinHash) -> float:
    """JI from full-register equality over occupied buckets, corrected
    for random (rank, r) collisions ≈ 2^-b (Yu & Weber §3; exact
    collision term omitted — it is O(2^-b) for comparable cardinalities,
    which the correction absorbs)."""
    if (a.p, a.b) != (b.p, b.b):
        raise ValueError("param mismatch")
    occ_a = a.regs != 0
    occ_b = b.regs != 0
    either = occ_a | occ_b
    n = int(either.sum())
    if n == 0:
        return 0.0
    match = (a.regs == b.regs) & occ_a & occ_b
    frac = float(match.sum()) / float(n)
    # collision of two DIFFERENT minimal elements needs equal rank AND
    # equal r bits: c = 2^-b · P(rank_a = rank_b), with the rank-match
    # probability estimated from the observed rank histograms
    ra = a._ranks()[occ_a]
    rb = b._ranks()[occ_b]
    if len(ra) and len(rb):
        fa = np.bincount(ra, minlength=66) / len(ra)
        fb = np.bincount(rb, minlength=66) / len(rb)
        p_rank_eq = float(np.dot(fa, fb))
    else:
        p_rank_eq = 1.0
    c = (2.0 ** (-a.b)) * p_rank_eq
    return max(0.0, (frac - c) / (1.0 - c))
