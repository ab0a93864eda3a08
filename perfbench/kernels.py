"""Single-threaded replay of the ``sketchlib.core`` kernels on the driver
over a seeded slice of a workload's input, on the four axes of the
EDBT 2023 quantile-sketch study (update, merge, query, size) plus
serde."""

from __future__ import annotations

import time

import numpy as np

from sketchlib.core.bloom import BloomFilter
from sketchlib.core.cms import CountMinSketch
from sketchlib.core.hashing import hash_f64
from sketchlib.core.hll import HyperLogLog
from sketchlib.core.kll import KLL
from sketchlib.core.tdigest import TDigest

PROBE = np.linspace(0.001, 0.999, 101)
KINDS = ("tdigest", "kll", "hll", "bloom", "cms")


def _median_seconds(fn, reps: int = 5, min_s: float = 0.02) -> float:
    """Median over ``reps`` of the per-call time of ``fn``, each rep
    looping until it has run ``min_s``."""
    out = []
    for _ in range(reps):
        n, t0 = 0, time.perf_counter()
        while True:
            fn()
            n += 1
            dt = time.perf_counter() - t0
            if dt >= min_s:
                break
        out.append(dt / n)
    return float(np.median(out))


def replay(values: np.ndarray) -> dict[str, float]:
    """Layer metrics ``core.<axis>.<kind>`` for every sketch kind.

    update: values absorbed per second by a fresh sketch; merge: one
    merge of two sketches built over the two halves of the slice;
    query: one query call (101 quantiles plus 101 ranks, an estimate,
    or 1000 membership / frequency probes); serde: one to_bytes +
    from_bytes round trip; state_bytes: serialized size after the
    whole slice."""
    values = np.ascontiguousarray(values, dtype=np.float64)
    hashes = hash_f64(values)
    n_distinct = max(len(np.unique(hashes)), 1)
    probe_v = np.quantile(values, PROBE)
    make = {
        "tdigest": lambda: TDigest(delta=2000.0),
        "kll": lambda: KLL(k=200),
        "hll": lambda: HyperLogLog(p=14),
        "bloom": lambda: BloomFilter.from_capacity(n_distinct, 0.01),
        "cms": lambda: CountMinSketch(depth=5, width=16384),
    }
    query = {
        "tdigest": lambda s: (s.value_at_quantile(PROBE),
                              s.quantile_at_value(probe_v)),
        "kll": lambda s: (s.value_at_quantile(PROBE),
                          s.quantile_at_value(probe_v)),
        "hll": lambda s: s.estimate(),
        "bloom": lambda s: s.contains_hashes(hashes[:1000]),
        "cms": lambda s: s.estimate_hashes(hashes[:1000]),
    }
    half = len(values) // 2
    out: dict[str, float] = {}
    for kind in KINDS:
        def build(lo=0, hi=len(values)):
            s = make[kind]()
            if kind in ("tdigest", "kll"):
                s.add_buffer(values[lo:hi])
            else:
                s.add_hashes(hashes[lo:hi])
            return s

        t_update = _median_seconds(build, reps=3)
        full = build()
        cls = type(full)
        a_blob, b_blob = build(0, half).to_bytes(), build(half).to_bytes()
        # merge mutates its receiver: time it on fresh copies and take
        # the copy cost back out
        t_copy = _median_seconds(lambda: cls.from_bytes(a_blob))
        t_merge = _median_seconds(
            lambda: cls.from_bytes(a_blob).merge(cls.from_bytes(b_blob))
        ) - 2 * t_copy
        out[f"core.update_values_per_s.{kind}"] = len(values) / t_update
        out[f"core.merge_us.{kind}"] = max(t_merge, 0.0) * 1e6
        out[f"core.query_us.{kind}"] = _median_seconds(
            lambda: query[kind](full)) * 1e6
        out[f"core.serde_us.{kind}"] = _median_seconds(
            lambda: cls.from_bytes(full.to_bytes())) * 1e6
        out[f"core.state_bytes.{kind}"] = len(full.to_bytes())
    return out
