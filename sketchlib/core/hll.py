"""HyperLogLog cardinality sketch (dense registers, vectorized).

Not in the reference crate — mandated by the north rule; semantics and
error bound from the published HyperLogLog paper (Flajolet et al. 2007):
relative standard error ~= 1.04 / sqrt(m) with m = 2^p registers.  The
estimate is Ertl's improved estimator ("New cardinality estimation
algorithms for HyperLogLog sketches", arXiv:1702.01284) over the
register histogram: unbiased across the whole range with no
linear-counting switch and no bias tables — the classic raw estimate
switched to linear counting at 2.5·m is biased by a few percent just
above the switch.  Merge is the element-wise register max — exactly
associative/commutative/idempotent.

Inputs are pre-hashed uint64 streams: Spark pipelines hash JVM-side
with ``F.xxhash64`` (no per-row Python); numpy tests use
``sketchlib.core.hashing``.
"""

from __future__ import annotations

import math
import struct

import numpy as np

from sketchlib.core.hashing import clz64, combine_domains

_MAGIC = b"HL02"


class HyperLogLog:
    __slots__ = ("p", "m", "registers", "hash_domain")

    def __init__(self, p: int = 14):
        if not 4 <= int(p) <= 18:
            raise ValueError("p must be in [4, 18]")
        self.p = int(p)
        self.m = 1 << self.p
        self.registers = np.zeros(self.m, dtype=np.uint8)
        self.hash_domain = 0  # DOMAIN_UNSET until first stamped feed

    # ------------------------------------------------------------------- build

    def add_hashes(self, hashes) -> None:
        """Vectorized register update with a DEFERRED clz (the "clz
        bound" feed): computing clz64 for every hash dominated the old
        feed, but an update can only win when clz(w)+1 > registers[idx]
        — equivalently w < 2^(64 - cur) — so a gather + shift + compare
        first filters to the (rapidly vanishing, ~m·ln(n)/n) candidate
        fraction and clz runs only on those.  ~3x single-core feed
        throughput on warm registers, bit-identical register state."""
        h = np.asarray(hashes)
        if h.dtype != np.uint64:
            h = h.astype(np.int64, copy=False).view(np.uint64)
        if h.size == 0:
            return
        idx = (h >> np.uint64(64 - self.p)).astype(np.int64)
        w = h << np.uint64(self.p)  # remaining 64-p bits, top-aligned
        cur = self.registers[idx]
        # candidate iff clz(w) >= cur, i.e. w < 2^(64-cur); cur == 0 is
        # always a candidate (and 1 << 64 is shift-UB, so OR it in)
        with np.errstate(over="ignore"):
            bound = np.uint64(1) << (np.uint64(64) - cur.astype(np.uint64))
        mask = (w < bound) | (cur == 0)
        if not mask.any():
            return
        wm = w[mask]
        rho = np.minimum(clz64(wm) + 1, 64 - self.p + 1).astype(np.uint8)
        np.maximum.at(self.registers, idx[mask], rho)

    # ------------------------------------------------------------------- merge

    def merge(self, other: "HyperLogLog") -> "HyperLogLog":
        if other.p != self.p:
            raise ValueError("cannot merge HLLs with different precision")
        self.hash_domain = combine_domains(
            self.hash_domain, other.hash_domain, "HyperLogLog"
        )
        np.maximum(self.registers, other.registers, out=self.registers)
        return self

    # ----------------------------------------------------------------- queries

    def estimate(self) -> float:
        """Ertl's improved estimator (arXiv:1702.01284, Algorithm 6):
        registers hold 0..q+1 with q = 64 - p; the histogram's empty
        (C[0]) and saturated (C[q+1]) counts enter through sigma/tau
        corrections instead of a range switch."""
        m, q = self.m, 64 - self.p
        c = np.bincount(self.registers, minlength=q + 2)
        z = m * _tau(1.0 - int(c[q + 1]) / m)
        for k in range(q, 0, -1):
            z = 0.5 * (z + int(c[k]))
        z += m * _sigma(int(c[0]) / m)
        # z == 0 only when every register is saturated: unbounded
        return m * m / (2.0 * math.log(2.0) * z) if z else math.inf

    def relative_std_error(self) -> float:
        return 1.04 / np.sqrt(self.m)

    # ------------------------------------------------------------------- serde

    def owned_size(self) -> int:
        return len(self.to_bytes())

    def to_bytes(self) -> bytes:
        return (
            struct.pack("<4sBB", _MAGIC, self.p, self.hash_domain)
            + self.registers.tobytes()
        )

    @classmethod
    def from_bytes(cls, data: bytes) -> "HyperLogLog":
        magic = bytes(data[:4])
        if magic == b"HL01":  # legacy (pre hash-domain): domain unset
            p = data[4]
            sk = cls(p=p)
            sk.registers = np.frombuffer(
                data, dtype=np.uint8, count=sk.m, offset=5
            ).copy()
            return sk
        magic, p, domain = struct.unpack("<4sBB", data[:6])
        if magic != _MAGIC:
            raise ValueError("not a HyperLogLog blob")
        sk = cls(p=p)
        sk.hash_domain = int(domain)
        sk.registers = np.frombuffer(data, dtype=np.uint8, count=sk.m, offset=6).copy()
        return sk

    def __repr__(self) -> str:  # pragma: no cover
        return f"HyperLogLog(p={self.p}, est={self.estimate():.1f})"


def _sigma(x: float) -> float:
    """x + sum_k x^(2^k) 2^(k-1) — the empty-register correction
    (infinite when every register is empty: the estimate is then 0)."""
    if x == 1.0:
        return float("inf")
    y, z = 1.0, x
    while True:
        x *= x
        z_old = z
        z += x * y
        y += y
        if z == z_old:
            return z


def _tau(x: float) -> float:
    """(1 - x - sum_k (1 - x^(2^-k))^2 2^-k) / 3 — the saturated-register
    correction (0 unless some register hit q + 1)."""
    if x == 0.0 or x == 1.0:
        return 0.0
    y, z = 1.0, 1.0 - x
    while True:
        x = math.sqrt(x)
        z_old = z
        y *= 0.5
        z -= (1.0 - x) ** 2 * y
        if z == z_old:
            return z / 3.0
