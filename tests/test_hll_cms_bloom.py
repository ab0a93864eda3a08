"""HLL / count-min / Bloom property tests against published bounds
(BASELINE.md: sigma ~= 1.04/sqrt(m); err <= eps*N w.p. 1-delta;
FPR ~= (1 - e^(-kn/m))^k) plus exact merge-law tests: these three have
set-semantics states, so associativity/commutativity hold as exact
state equality (FIXTURES.md §C)."""

import numpy as np
import pytest

from sketchlib.core.bloom import BloomFilter
from sketchlib.core.cms import CountMinSketch
from sketchlib.core.hashing import hash_i64, hash_str
from sketchlib.core.hll import HyperLogLog

# ----------------------------------------------------------------------- HLL


@pytest.mark.parametrize("n", [1, 100, 10_000, 1_000_000])
def test_hll_accuracy(n):
    h = HyperLogLog(p=14)
    h.add_hashes(hash_i64(np.arange(n), seed=1))
    sigma = h.relative_std_error()
    assert abs(h.estimate() - n) / n <= 4 * sigma


@pytest.mark.parametrize("n", [35_000, 40_000, 45_000])
def test_hll_accuracy_around_small_range_switch(n):
    """The classic estimator switches from linear counting to the raw
    estimate at 2.5·m (40 960 at p = 14) and is biased by a few percent
    just above it; the improved estimator has no switch.  Every seed
    must stay inside the 4-sigma bar, and the mean error well inside
    one sigma."""
    sigma = HyperLogLog(p=14).relative_std_error()
    errs = []
    for seed in range(8):
        h = HyperLogLog(p=14)
        h.add_hashes(hash_i64(np.arange(n) + seed * 10_000_000, seed=seed))
        errs.append((h.estimate() - n) / n)
    assert max(abs(e) for e in errs) <= 4 * sigma
    assert abs(np.mean(errs)) <= sigma


def test_hll_estimate_extremes():
    h = HyperLogLog(p=10)
    assert h.estimate() == 0.0
    h.registers[:] = 64 - h.p + 1  # every register saturated
    assert h.estimate() == float("inf")


def test_hll_deferred_clz_feed_bit_identical():
    """The clz-bound fast feed must produce BIT-IDENTICAL registers to
    the naive feed (clz on every hash, unconditional maximum.at) across
    batch orders, including the adversarial all-zero-suffix hashes that
    exercise the w == 0 / cur == 0 edge cases."""
    from sketchlib.core.hashing import clz64

    rng = np.random.default_rng(5)
    batches = [rng.integers(0, 2**64, 40_000, dtype=np.uint64) for _ in range(5)]
    # adversarial: hashes whose low 64-p bits are all zero (w == 0,
    # rho saturates at 64-p+1) and tiny values (idx 0, cur stays 0)
    batches.append((np.arange(64, dtype=np.uint64) << np.uint64(50)))
    batches.append(np.arange(64, dtype=np.uint64))
    for p in (6, 14):
        fast = HyperLogLog(p=p)
        naive = HyperLogLog(p=p)
        for b in batches:
            fast.add_hashes(b)
            idx = (b >> np.uint64(64 - p)).astype(np.int64)
            w = b << np.uint64(p)
            rho = np.minimum(clz64(w) + 1, 64 - p + 1).astype(np.uint8)
            np.maximum.at(naive.registers, idx, rho)
        np.testing.assert_array_equal(fast.registers, naive.registers)


def test_hll_duplicates_dont_count():
    h = HyperLogLog(p=12)
    keys = np.arange(5000)
    for _ in range(3):
        h.add_hashes(hash_i64(keys, seed=2))
    assert abs(h.estimate() - 5000) / 5000 <= 4 * h.relative_std_error()


def test_hll_merge_exact_laws():
    a, b, c = (HyperLogLog(p=10) for _ in range(3))
    a.add_hashes(hash_i64(np.arange(0, 3000)))
    b.add_hashes(hash_i64(np.arange(2000, 6000)))
    c.add_hashes(hash_i64(np.arange(5000, 9000)))

    def m(*sks):
        acc = HyperLogLog(p=10)
        for s in sks:
            acc.merge(s)
        return acc.registers

    ab_c = m(a, b, c)
    np.testing.assert_array_equal(ab_c, m(c, b, a))  # commutative
    left = HyperLogLog(p=10).merge(a).merge(b)
    right = HyperLogLog(p=10).merge(b).merge(c)
    np.testing.assert_array_equal(
        left.merge(c).registers, HyperLogLog(p=10).merge(a).merge(right).registers
    )  # associative
    np.testing.assert_array_equal(
        m(a), HyperLogLog(p=10).merge(a).merge(HyperLogLog(p=10)).registers
    )  # identity
    merged = HyperLogLog(p=10).merge(a).merge(b).merge(c)
    assert abs(merged.estimate() - 9000) / 9000 <= 4 * merged.relative_std_error()


def test_hll_serde():
    h = HyperLogLog(p=11)
    h.add_hashes(hash_str(["a", "b", "c"]))
    h2 = HyperLogLog.from_bytes(h.to_bytes())
    np.testing.assert_array_equal(h.registers, h2.registers)
    assert h2.p == 11


# ----------------------------------------------------------------------- CMS


def test_cms_never_underestimates_and_bound():
    rng = np.random.default_rng(0)
    # zipf-ish stream over 2000 keys
    keys = rng.zipf(1.3, 200_000) % 2000
    cms = CountMinSketch.from_error_bounds(eps=0.001, delta=0.01)
    cms.add_hashes(hash_i64(keys))
    true = np.bincount(keys, minlength=2000)
    probe = np.arange(2000)
    est = cms.estimate_hashes(hash_i64(probe))
    assert np.all(est >= true)
    # err <= eps*N for >= (1-delta) of keys (here: for all, generous width)
    overs = est - true
    assert np.mean(overs <= cms.error_bound()) >= 0.99


def test_cms_heavy_hitters_identified():
    rng = np.random.default_rng(1)
    keys = np.concatenate([np.repeat(7, 50_000), rng.integers(100, 10_000, 50_000)])
    cms = CountMinSketch(depth=5, width=8192)
    cms.add_hashes(hash_i64(keys))
    est7 = cms.estimate_hashes(hash_i64(np.array([7])))[0]
    assert 50_000 <= est7 <= 50_000 + cms.error_bound()


def test_cms_weighted_counts():
    cms = CountMinSketch(depth=4, width=1024)
    cms.add_hashes(hash_i64(np.array([1, 2])), counts=np.array([10, 5]))
    est = cms.estimate_hashes(hash_i64(np.array([1, 2])))
    assert est[0] >= 10 and est[1] >= 5
    assert cms.total == 15


def test_cms_merge_exact_laws():
    streams = [np.arange(i * 100, i * 100 + 500) for i in range(3)]
    sks = []
    for s in streams:
        c = CountMinSketch(depth=4, width=512)
        c.add_hashes(hash_i64(s))
        sks.append(c)

    def m(order):
        acc = CountMinSketch(depth=4, width=512)
        for i in order:
            acc.merge(sks[i])
        return acc

    np.testing.assert_array_equal(m([0, 1, 2]).table, m([2, 0, 1]).table)
    assert m([0, 1, 2]).total == sum(500 for _ in streams)
    # merged estimate == single-stream build estimate
    single = CountMinSketch(depth=4, width=512)
    single.add_hashes(hash_i64(np.concatenate(streams)))
    np.testing.assert_array_equal(m([0, 1, 2]).table, single.table)


def test_cms_serde():
    c = CountMinSketch(depth=3, width=256)
    c.add_hashes(hash_i64(np.arange(100)))
    c2 = CountMinSketch.from_bytes(c.to_bytes())
    np.testing.assert_array_equal(c.table, c2.table)
    assert c2.total == 100


# --------------------------------------------------------------------- Bloom


def test_bloom_no_false_negatives():
    bf = BloomFilter.from_capacity(10_000, fpr=0.01)
    present = hash_i64(np.arange(10_000))
    bf.add_hashes(present)
    assert bf.contains_hashes(present).all()


def test_bloom_fpr_near_formula():
    bf = BloomFilter.from_capacity(10_000, fpr=0.01)
    bf.add_hashes(hash_i64(np.arange(10_000)))
    absent = hash_i64(np.arange(1_000_000, 1_100_000))
    fpr = bf.contains_hashes(absent).mean()
    assert fpr <= 3 * max(bf.expected_fpr(), 0.01)


def test_bloom_merge_exact_laws():
    a = BloomFilter(1 << 16, k=5)
    b = BloomFilter(1 << 16, k=5)
    a.add_hashes(hash_i64(np.arange(0, 1000)))
    b.add_hashes(hash_i64(np.arange(1000, 2000)))
    ab = BloomFilter(1 << 16, k=5).merge(a).merge(b)
    ba = BloomFilter(1 << 16, k=5).merge(b).merge(a)
    np.testing.assert_array_equal(ab.words, ba.words)
    # union contains both streams
    assert ab.contains_hashes(hash_i64(np.arange(0, 2000))).all()
    # idempotent
    aa = BloomFilter(1 << 16, k=5).merge(a).merge(a)
    np.testing.assert_array_equal(aa.words, a.words)


def test_bloom_serde():
    bf = BloomFilter(1 << 12, k=3)
    bf.add_hashes(hash_str(["x", "y"]))
    bf2 = BloomFilter.from_bytes(bf.to_bytes())
    np.testing.assert_array_equal(bf.words, bf2.words)
    assert bf2.contains_hashes(hash_str(["x", "y"])).all()


def test_legacy_blob_decode():
    """Pre-upgrade serialized states (no hash-domain byte / no salt)
    must still load — a streaming job's exactly-once ledger or a saved
    report written before the r3 format bump resumes after upgrade.
    Legacy states carry DOMAIN_UNSET, so they merge with anything."""
    import struct

    from sketchlib import serde
    from sketchlib.core.spacesaving import SpaceSaving
    from sketchlib.core.theta import ThetaSketch

    # hand-craft the old layouts byte-for-byte
    h = HyperLogLog(p=8)
    h.add_hashes(hash_i64(np.arange(100)))
    legacy_hll = struct.pack("<4sB", b"HL01", 8) + h.registers.tobytes()
    rt = serde.from_bytes(legacy_hll)
    assert isinstance(rt, HyperLogLog) and rt.hash_domain == 0
    np.testing.assert_array_equal(rt.registers, h.registers)
    rt.merge(h)  # unset domain merges with anything

    c = CountMinSketch(depth=3, width=64)
    c.add_hashes(hash_i64(np.arange(50)))
    legacy_cms = struct.pack("<4s i i q", b"CM01", 3, 64, c.total) + c.table.tobytes()
    rt = serde.from_bytes(legacy_cms)
    assert isinstance(rt, CountMinSketch) and rt.total == c.total

    b = BloomFilter(m_bits=1 << 10, k=3)
    b.add_hashes(hash_i64(np.arange(20)))
    legacy_bloom = struct.pack("<4s q i q", b"BF01", b.m, b.k, b.n_added) + b.words.tobytes()
    rt = serde.from_bytes(legacy_bloom)
    assert isinstance(rt, BloomFilter) and rt.n_added == 20

    t = ThetaSketch(k=16)
    t.add_hashes(hash_i64(np.arange(40)))
    legacy_theta = struct.pack("<4s i q", b"TH01", 16, t.hashes.size) + t.hashes.tobytes()
    rt = serde.from_bytes(legacy_theta)
    assert isinstance(rt, ThetaSketch) and rt.hashes.size == t.hashes.size

    s = SpaceSaving(capacity=8)
    s.add_hashes(hash_i64(np.arange(30)))
    n = len(s.counts)
    keys = np.fromiter(s.counts.keys(), dtype=np.uint64, count=n)
    cnts = np.fromiter(s.counts.values(), dtype=np.int64, count=n)
    errs = np.fromiter((s.errors.get(int(k), 0) for k in keys), dtype=np.int64, count=n)
    legacy_ss = (
        struct.pack("<4s i q i", b"SS01", 8, s.total, n)
        + keys.tobytes() + cnts.tobytes() + errs.tobytes()
    )
    rt = serde.from_bytes(legacy_ss)
    assert isinstance(rt, SpaceSaving) and rt.total == s.total

    from sketchlib.core.reservoir import ReservoirSample

    r = ReservoirSample(capacity=16, seed=3)
    r.add_buffer(np.arange(100, dtype=float))
    order = np.argsort(r.keys, kind="stable")
    legacy_rs = (
        struct.pack("<4s i q q q", b"RS02", 16, 3, r.count, r.values.size)
        + r.keys[order].tobytes() + r.values[order].tobytes()
    )
    rt = serde.from_bytes(legacy_rs)
    assert isinstance(rt, ReservoirSample) and rt.salt == 0
    np.testing.assert_array_equal(np.sort(rt.sample()), np.sort(r.sample()))


def test_serde_dispatch():
    from sketchlib import serde

    sk = HyperLogLog(p=8)
    sk.add_hashes(hash_i64(np.arange(10)))
    rt = serde.from_bytes(serde.to_bytes(sk))
    assert isinstance(rt, HyperLogLog)
    blobs = []
    for lo in (0, 5):
        s = HyperLogLog(p=8)
        s.add_hashes(hash_i64(np.arange(lo, lo + 5)))
        blobs.append(s.to_bytes())
    merged = serde.from_bytes(serde.merge_blobs(blobs))
    assert isinstance(merged, HyperLogLog)
