"""High-level query API: the Spark-facing analogue of the reference's
``Digest`` trait surface (/root/reference/src/traits.rs:3-34) —
build+query in one call, with the partial/merge staging hidden."""

from __future__ import annotations

import math
from typing import Sequence

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from sketchlib import serde
from sketchlib.core.bloom import BloomFilter
from sketchlib.core.cms import CountMinSketch
from sketchlib.core.ddsketch import DDSketch
from sketchlib.core.hll import HyperLogLog
from sketchlib.core.kll import KLL
from sketchlib.core.tdigest import TDigest
from sketchlib.spark.aggregate import (
    KIND_ARRAY,
    KIND_ARRAY_HASH,
    KIND_DOUBLE,
    KIND_HASH64,
    grouped_sketch,
    sketch_column,
    sketch_columns,
)


def _quantile_factory(kind: str, **params):
    if kind == "tdigest":
        delta = params.get("delta", 2000.0)
        scale = params.get("scale", "k2")
        return lambda: TDigest(delta=delta, scale=scale)
    if kind == "kll":
        k = params.get("k", 200)
        seed = params.get("seed", 42)
        return lambda: KLL(k=k, seed=seed)
    if kind in ("dd", "ddsketch"):
        alpha = params.get("alpha", 0.01)
        max_bins = params.get("max_bins", 2048)
        return lambda: DDSketch(alpha=alpha, max_bins=max_bins)
    raise ValueError(f"unknown quantile sketch {kind!r}")


def approx_quantiles(
    df: DataFrame,
    col: str,
    probabilities: Sequence[float],
    sketch: str = "tdigest",
    is_array: bool = False,
    tail: str = "low",
    **params,
):
    """Distributed quantile estimate; returns (values, sketch).

    ``tail="high"`` (sketch="kll" only): relative compactors concentrate
    accuracy near rank 0, so the default build is exact-ish at p0.001
    but coarse at p0.9999 (ACCURACY.md §7).  ``"high"`` negates the
    column JVM-side before sketching and returns a ``HighTailView``
    that flips queries back — p99.9/p99.99 get the protected-tail
    accuracy at 1x state (``SymDigest`` covers both tails at 2x).
    t-digest's scale functions are already tail-symmetric; asking for
    ``tail="high"`` there is a misuse and raises."""
    if tail not in ("low", "high"):
        raise ValueError(f"tail must be 'low' or 'high', got {tail!r}")
    if tail == "high" and sketch != "kll":
        # RCSketch is also rank-0-protected but needs input_length up
        # front, so it has no factory here; t-digest's scale functions
        # are tail-symmetric and need no flipping
        raise ValueError(
            "tail='high' applies to the relative-compactor sketch "
            "('kll'); t-digest is already tail-symmetric"
        )
    factory = _quantile_factory(sketch, **params)
    kind = KIND_ARRAY if is_array else KIND_DOUBLE
    if tail == "high":
        neg = (
            F.transform(F.col(col), lambda x: -x.cast("double"))
            if is_array
            else (-F.col(col).cast("double"))
        )
        df = df.select(neg.alias(col))
    sk = sketch_column(df, col, factory, kind)
    if sk is None:
        return [float("nan")] * len(probabilities), None
    if tail == "high":
        from sketchlib.core.wrappers import HighTailView

        sk = HighTailView(sk)
    vals = sk.value_at_quantile(np.asarray(probabilities, dtype=np.float64))
    return [float(v) for v in np.atleast_1d(vals)], sk


def approx_distinct(
    df: DataFrame, col: str, p: int = 14, is_array: bool = False
):
    """HyperLogLog distinct count; returns (estimate, sketch)."""
    kind = KIND_ARRAY_HASH if is_array else KIND_HASH64
    sk = sketch_column(df, col, lambda: HyperLogLog(p=p), kind)
    if sk is None:
        return 0.0, HyperLogLog(p=p)
    return sk.estimate(), sk


def build_cms(
    df: DataFrame,
    col: str,
    depth: int = 5,
    width: int = 16384,
    is_array: bool = False,
) -> CountMinSketch:
    """Count-min over a key column (hashed JVM-side)."""
    kind = KIND_ARRAY_HASH if is_array else KIND_HASH64
    sk = sketch_column(
        df, col, lambda: CountMinSketch(depth=depth, width=width), kind,
        collect_threshold=32,  # fat states: keep driver collect small
    )
    return sk if sk is not None else CountMinSketch(depth=depth, width=width)


def build_bloom(
    df: DataFrame,
    col: str,
    capacity: int | None = None,
    fpr: float = 0.01,
    m_bits: int | None = None,
    k: int | None = None,
) -> BloomFilter:
    """Bloom filter over a key column (hashed JVM-side)."""
    if m_bits is not None and k is not None:
        factory = lambda: BloomFilter(m_bits=m_bits, k=k)  # noqa: E731
    else:
        cap = capacity if capacity is not None else 1_000_000
        proto = BloomFilter.from_capacity(cap, fpr)
        m, kk = proto.m, proto.k
        factory = lambda: BloomFilter(m_bits=m, k=kk)  # noqa: E731
    sk = sketch_column(df, col, factory, KIND_HASH64, collect_threshold=32)
    return sk if sk is not None else factory()


def _spacesaving_topk(df: DataFrame, col: str, k: int, capacity: int):
    """SpaceSaving top-k over xxhash64(col): list of
    (key_hash_int64, est_count, max_err) — the formal guarantee is
    that every item with true count > N/capacity is tracked and
    est_count never undercounts."""
    from sketchlib.core.spacesaving import SpaceSaving

    ss = sketch_column(
        df, col, lambda: SpaceSaving(capacity=capacity), KIND_HASH64,
        collect_threshold=32,
    )
    if ss is None:
        return []
    return [
        (int(np.uint64(h).astype(np.int64)), int(c), int(e))
        for h, c, e in ss.top_k(k)
    ]


def heavy_hitters_spacesaving(
    df: DataFrame, col: str, k: int = 10, capacity: int = 4096
) -> DataFrame:
    """Top-k via a distributed SpaceSaving sketch: one scan, no
    candidate pass; guaranteed to track every item with true count >
    N/capacity.  Returns DataFrame[key_hash, est_count, max_err] —
    identities are xxhash64 keys (``heavy_hitters`` recovers values)."""
    rows = _spacesaving_topk(df, col, k, capacity)
    return df.sparkSession.createDataFrame(
        rows, "key_hash bigint, est_count bigint, max_err bigint"
    )


def heavy_hitters(
    df: DataFrame,
    col: str,
    k: int = 10,
    backend: str = "spacesaving",
    capacity: int = 4096,
    depth: int = 5,
    width: int = 65536,
    candidates_per_partition: int | None = None,
) -> DataFrame:
    """Top-k frequent values without a raw-row shuffle:
    DataFrame[col, est_count] (est_count never undercounts).

    Default backend is **SpaceSaving** — the only one with a formal
    guarantee (every item with true count > N/capacity is tracked):
    one sketch scan over xxhash64(col), then one filtered scan that
    recovers the values of the <= k winning hashes (predicate-pushdown
    ``isin`` — never a full-column distinct shuffle).

    ``backend="cms"`` keeps the two-scan count-min path as a
    cross-check.  Its candidate pass runs a per-partition SpaceSaving
    (capacity C = ``candidates_per_partition``) over the raw values:
    within partition p the tracked set provably contains every item
    with count > N_p/C, and summing that bound over partitions means
    the UNION of tracked sets is a guaranteed superset of every item
    with global count > N/C — the same formal guarantee as the default
    backend (the former dict-based local-top heuristic could drop a
    globally-hot item's partial counts mid-stream).  All candidates
    are then probed against the broadcast CMS (distributed, never
    collected, no arbitrary pre-cut) and the top-k by estimate
    returned; CMS estimates never undercount."""
    import pandas as pd

    if backend == "spacesaving":
        top = _spacesaving_topk(df, col, k, capacity)
        spark = df.sparkSession
        f = df.schema[col]
        if not top:
            return spark.createDataFrame(
                [], f"{f.name} {f.dataType.simpleString()}, est_count long"
            )
        counts = spark.createDataFrame(
            top, "__h bigint, est_count bigint, max_err bigint"
        )
        values = (
            df.select(col, F.xxhash64(F.col(col)).alias("__h"))
            .filter(F.col("__h").isin([h for h, _c, _e in top]))
            .distinct()
        )
        return (
            values.join(F.broadcast(counts), "__h")
            .select(col, "est_count")
            .orderBy(F.desc("est_count"), F.asc(col))
            .limit(k)
        )
    if backend != "cms":
        raise ValueError(f"unknown heavy-hitters backend {backend!r}")

    cms = build_cms(df, col, depth=depth, width=width)
    # capacity picks the guarantee threshold N/C: heavy hitters only a
    # few x above the mean (high-cardinality near-uniform keys) need C
    # comfortably above the distinct-count/partition ratio — 64 was
    # enough for skewed streams but lost barely-hot keys to eviction
    # churn when cardinality >> C (caught by the sf0.01 gate); 1024
    # entries is still O(KB) per partition
    C = candidates_per_partition or max(32 * k, 1024)
    f = df.schema[col]
    out_schema = f"{f.name} {f.dataType.simpleString()}, cnt long"

    def local_ss(it):
        # Per-partition SpaceSaving over raw VALUES (capacity C, O(C)
        # memory): admission-by-min-eviction preserves the published
        # guarantee that every item with partition count > N_p/C is in
        # the final tracked set.  Batched value_counts updates are
        # equivalent to the sequential algorithm (a new key admitted
        # with batch-count c gets min+c exactly as c single updates
        # would).  Min-eviction uses the standard lazy heap (stale
        # entries skipped on pop) — O(log C) amortized instead of an
        # O(C) scan per eviction.  The tracked set is emitted WHOLE —
        # no top-C cut — so the union over partitions is the
        # guaranteed superset.
        import heapq

        counts: dict = {}
        heap: list = []  # (count, key), possibly stale
        for pdf in it:
            for v, c in pdf[col].value_counts().items():
                c = int(c)
                cur = counts.get(v)
                if cur is not None:
                    counts[v] = cur + c
                    heapq.heappush(heap, (cur + c, v))
                elif len(counts) < C:
                    counts[v] = c
                    heapq.heappush(heap, (c, v))
                else:
                    while True:
                        mv, mk = heap[0]
                        if counts.get(mk) == mv:
                            break
                        heapq.heappop(heap)  # stale entry
                    heapq.heappop(heap)
                    del counts[mk]
                    counts[v] = mv + c
                    heapq.heappush(heap, (mv + c, v))
            if len(heap) > 8 * C:
                # compact stale entries: without this the heap grows
                # with total updates, not with C
                heap = [(cv, kv) for kv, cv in counts.items()]
                heapq.heapify(heap)
        if counts:
            yield pd.DataFrame(
                {col: list(counts.keys()), "cnt": list(counts.values())}
            )

    candidates = df.select(col).mapInPandas(local_ss, out_schema).select(col)
    est = cms_frequencies(cms, candidates, col)
    return est.orderBy(F.desc("est_count"), F.asc(col)).limit(k)


def range_partition_bounds(
    df: DataFrame,
    col: str,
    n_partitions: int,
    sketch: str = "tdigest",
    is_array: bool = False,
    **params,
) -> list[float]:
    """Balanced range-partition split points from one sketch scan:
    the (i/n)-quantiles for i in 1..n-1.

    Why a sketch and not ``repartitionByRange`` alone: Spark's range
    partitioner re-samples per JOB; a 100-TB pipeline that writes
    range-bucketed output, repartitions several stages, or shares split
    points across engines wants ONE cheap pass producing explicit,
    persistable bounds.  On skewed keys the quantile bounds equalize
    rows-per-partition where equal-width ranges would hotspot."""
    if n_partitions < 2:
        return []
    qs = [i / n_partitions for i in range(1, n_partitions)]
    vals, _sk = approx_quantiles(
        df, col, qs, sketch=sketch, is_array=is_array, **params
    )
    if _sk is None:  # empty input: no meaningful split points
        return []
    # enforce strictly non-decreasing bounds (interp jitter on ties)
    out = []
    prev = -np.inf
    for v in vals:
        prev = max(v, prev)
        out.append(float(prev))
    return out


def build_theta(df: DataFrame, col: str, k: int = 4096, is_array: bool = False):
    """KMV/theta distinct sketch over a key column (JVM-side hashing)."""
    from sketchlib.core.theta import ThetaSketch

    kind = KIND_ARRAY_HASH if is_array else KIND_HASH64
    sk = sketch_column(df, col, lambda: ThetaSketch(k=k), kind)
    return sk if sk is not None else ThetaSketch(k=k)


def corpus_overlap(
    df_a: DataFrame, df_b: DataFrame, col: str, k: int = 4096
) -> dict:
    """Set-relationship estimates between two key columns (the
    contamination / corpus-overlap check): one scan per side, then
    theta-sketch algebra.  Returns estimates for |A|, |B|, the
    intersection, the Jaccard similarity, and |A \\ B|."""
    a = build_theta(df_a, col, k=k)
    b = build_theta(df_b, col, k=k)
    return {
        "distinct_a": a.estimate(),
        "distinct_b": b.estimate(),
        "intersection": a.intersect_estimate(b),
        "union": a.union_estimate(b),
        "jaccard": a.jaccard_estimate(b),
        "a_minus_b": a.difference_estimate(b),
        "rse": a.relative_std_error(),
    }


#: the per-group states frame persisted by the most recent
#: distributed-path overlap_matrix call (None when released) — see
#: release_overlap_cache — the shared one-slot contract (cache.py)
_overlap_cache = None


def _get_overlap_cache():
    global _overlap_cache
    if _overlap_cache is None:
        from sketchlib.spark.cache import SingleSlotCache

        _overlap_cache = SingleSlotCache()
    return _overlap_cache


def release_overlap_cache() -> None:
    """Unpersist the per-group sketch-states frame cached by the most
    recent distributed-path :func:`overlap_matrix` call (no-op when
    none is held).  Called automatically at the start of every
    overlap_matrix run, so loops hold at most one cached frame; call
    it explicitly once the last returned frame has been materialized.
    Releasing early is always safe — an unevaluated consumer just
    recomputes the grouped sketches instead of reading the cache."""
    _get_overlap_cache().release()


def overlap_matrix(
    df: DataFrame,
    group_col: str,
    col: str,
    k: int = 4096,
    is_array: bool = False,
    max_groups: int = 50_000,
    driver_max_groups: int = 512,
    target_block: int = 48,
) -> DataFrame:
    """Pairwise set-overlap estimates between every pair of groups of
    one table — "how much does each source's key set overlap every
    other source's" (vocabulary overlap, shared-document detection,
    cross-source contamination triage) in ONE scan.

    Plan: per-group KMV/theta sketches through the grouped
    map-side-combine staging (``grouped_sketch`` — raw rows never
    shuffle, one <=k-hash state per partition x group moves), the G
    merged states collected driver-side (G x ~8k bytes — G is the
    number of groups, assumed small; the 100-TB shape is billions of
    rows across tens of sources), then theta-sketch set algebra over
    all G*(G-1)/2 pairs driver-side on KB data.  Compare: the exact
    answer is a distinct self-join whose shuffle carries every
    (group, key) row — this carries one bounded sketch per group.

    Returns a SMALL DataFrame[group_a, group_b, distinct_a,
    distinct_b, intersection, union, jaccard, rse] with group_a <
    group_b in sort order, ordered (group_a, group_b).  ``rse`` is the
    per-sketch relative standard error ~ 1/sqrt(k-2); intersection
    error additionally scales with 1/jaccard (theta-sketch algebra —
    tiny overlaps need a larger k).  Rows with a NULL group key are
    EXCLUDED (``grouped_sketch`` drops null-key rows, matching
    pd.factorize); ``fillna`` the group column upstream to give the
    unlabeled slice its own row.

    ``is_array=True`` treats ``col`` as a token array (the
    pre-tokenized training-sequence shape): the per-group sets are the
    DISTINCT TOKENS of each group, hashed element-wise in the Arrow
    feeder — no explode, no shuffle of exploded rows.

    Group cardinality is probed upfront (the states frame is persisted
    so the probe and the consumer share one evaluation of the heavy
    agg): above ``max_groups`` the call REFUSES with a pointer at the
    assumed-small-G contract (a high-cardinality group column — e.g.
    grouping by a key by mistake — would otherwise quietly build a
    G^2/2-row product); group values must be mutually orderable (the
    canonical group_a < group_b orientation), checked on the probe.

    Up to ``driver_max_groups`` groups the pairwise algebra runs
    driver-side on the collected KB states (G^2/2 tiny numpy ops —
    cheapest plan by far at tens of sources).  Beyond it the pairs are
    computed EXECUTOR-SIDE by a blocked all-pairs stage: groups hash
    into B = ceil(G / target_block) blocks, every state row ships to
    its B block-pair tasks (one explode of a B-element task-id array —
    shuffle volume G x B states, ~sqrt of the naive pair-row product),
    and each task runs the SAME per-pair sketch algebra over its <=
    2*target_block deserialized states, so both paths return
    identical values and driver RSS stays flat at any G.  In the
    distributed path the states frame stays persisted until the
    returned frame is materialized; at most one such frame is held
    (each call releases the previous — :func:`release_overlap_cache`
    drops the last)."""
    import pandas as pd

    from sketchlib.core.theta import ThetaSketch

    def _pair_stats(ga, gb, a, b):
        if gb < ga:
            ga, gb, a, b = gb, ga, b, a
        return (
            ga,
            gb,
            float(a.estimate()),
            float(b.estimate()),
            float(a.intersect_estimate(b)),
            float(a.union_estimate(b)),
            float(a.jaccard_estimate(b)),
            float(max(a.relative_std_error(), b.relative_std_error())),
        )

    release_overlap_cache()
    kind = KIND_ARRAY_HASH if is_array else KIND_HASH64
    states = grouped_sketch(
        df, [group_col], col, lambda: ThetaSketch(k=k), kind
    ).persist()
    # cardinality gate EXECUTOR-SIDE first (advisor r7): collecting the
    # keys of a mistakenly-keyed group column could itself OOM the
    # driver before the guard fires; the count runs on the persisted
    # frame the consumer needs anyway
    n_groups = states.count()
    if n_groups > max_groups:
        states.unpersist()
        raise ValueError(
            f"overlap_matrix: {n_groups} distinct groups exceeds "
            f"max_groups={max_groups}.  The op builds G*(G-1)/2 pair "
            "rows — it assumes a SMALL group column (sources, shards, "
            "languages), not a key.  Raise max_groups only if the "
            "quadratic output is really what you want."
        )
    keys = [r[0] for r in states.select(group_col).collect()]
    try:
        keys.sort()  # orderability probe for the group_a < group_b contract
    except TypeError:
        states.unpersist()
        raise TypeError(
            f"overlap_matrix: values of group column {group_col!r} must "
            "be mutually orderable (canonical group_a < group_b pairs)"
        )
    gtype = df.select(group_col).schema.fields[0].dataType.simpleString()
    out_schema = (
        f"group_a {gtype}, group_b {gtype}, distinct_a double, "
        "distinct_b double, intersection double, union double, "
        "jaccard double, rse double"
    )
    spark = df.sparkSession

    if len(keys) <= driver_max_groups:
        rows = states.collect()
        states.unpersist()
        sks: dict = {}
        for r in rows:
            sk = serde.from_bytes(r["state"])
            g = r[group_col]
            if g in sks:
                sks[g] = sks[g].merge(sk)  # defensive: duplicate state rows
            else:
                sks[g] = sk
        groups = sorted(sks)  # no None keys: grouped_sketch drops nulls
        out = [
            _pair_stats(ga, gb, sks[ga], sks[gb])
            for i, ga in enumerate(groups)
            for gb in groups[i + 1 :]
        ]
        return spark.createDataFrame(out, out_schema)

    # blocked all-pairs stage
    _get_overlap_cache().hold(states)
    n_blocks = max(2, -(-len(keys) // target_block))
    cols = [group_col, "state"]

    def _task_pairs(pdf: pd.DataFrame) -> pd.DataFrame:
        p, q = divmod(int(pdf["__task"].iloc[0]), n_blocks)
        sks: dict = {}
        blocks: dict = {}
        for g, blob, blk in zip(
            pdf[group_col], pdf["state"], pdf["__block"]
        ):
            sk = serde.from_bytes(blob)
            if g in sks:
                sks[g] = sks[g].merge(sk)  # defensive: duplicate rows
            else:
                sks[g] = sk
                blocks[g] = int(blk)
        gs = sorted(sks)
        if p == q:
            out = [
                _pair_stats(ga, gb, sks[ga], sks[gb])
                for i, ga in enumerate(gs)
                for gb in gs[i + 1 :]
            ]
        else:
            side_p = [g for g in gs if blocks[g] == p]
            side_q = [g for g in gs if blocks[g] == q]
            out = [
                _pair_stats(ga, gb, sks[ga], sks[gb])
                for ga in side_p
                for gb in side_q
            ]
        return pd.DataFrame(
            out,
            columns=[
                "group_a", "group_b", "distinct_a", "distinct_b",
                "intersection", "union", "jaccard", "rse",
            ],
        )

    blk = F.pmod(F.xxhash64(F.col(group_col)), F.lit(n_blocks))
    fanned = (
        states.select(*cols, blk.cast("int").alias("__block"))
        .withColumn(
            "__task",
            F.explode(
                F.transform(
                    F.sequence(F.lit(0), F.lit(n_blocks - 1)),
                    lambda q: F.least(F.col("__block"), q) * n_blocks
                    + F.greatest(F.col("__block"), q),
                )
            ),
        )
    )
    return (
        fanned.groupBy("__task")
        .applyInPandas(_task_pairs, schema=out_schema)
        .orderBy("group_a", "group_b")
    )


def bloom_contains(df: DataFrame, col: str, bloom: BloomFilter, out_col: str = "member") -> DataFrame:
    """Append a membership column by probing a broadcast Bloom filter.

    The filter bytes ship once per executor inside the serialized
    function; probing is a vectorized numpy gather per Arrow batch.
    """
    blob = bloom.to_bytes()
    cols = df.columns

    def fn(batches):
        bf = BloomFilter.from_bytes(blob)
        for b in batches:
            h = (
                b.column(len(cols))
                .to_numpy(zero_copy_only=False)
                .astype(np.int64)
                .view(np.uint64)
            )
            got = bf.contains_hashes(h)
            yield pa.RecordBatch.from_arrays(
                [b.column(i) for i in range(len(cols))] + [pa.array(got)],
                names=cols + [out_col],
            )

    hashed = df.select(*cols, F.xxhash64(F.col(col)).alias("__h"))
    schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields
    )
    return hashed.mapInArrow(fn, f"{schema}, {out_col} boolean")


def with_quantile_rank(
    df: DataFrame,
    col: str,
    sketch: str = "tdigest",
    rank_col: str = "q_rank",
    buckets: int | None = None,
    bucket_col: str = "q_bucket",
    **params,
) -> DataFrame:
    """Annotate every row with its approximate quantile rank — the
    sketch CDF evaluated at the row's value — and, with ``buckets``,
    a curriculum bucket ``min(floor(rank * buckets), buckets - 1)``
    (the standard percentile-binning step, e.g. bucketing documents
    by length percentile for curriculum ordering).

    Two passes over ``df``: one distributed sketch build (an action;
    the same t-digest/KLL path as ``approx_quantiles``, KB-sized
    state), then the state ships broadcast inside the probe function
    and every Arrow batch is ranked with one vectorized
    ``quantile_at_value`` call — no shuffle, no per-row Python.
    Accuracy carries the sketch's rank-error bar (BASELINE.md /
    ACCURACY.md: ~0.005 mid-q for the defaults).  NULL values get
    NULL rank/bucket."""
    if rank_col in df.columns or (buckets and bucket_col in df.columns):
        raise ValueError(f"{rank_col!r}/{bucket_col!r} already present")
    if buckets is not None and buckets < 1:
        raise ValueError(f"buckets must be >= 1, got {buckets}")
    factory = _quantile_factory(sketch, **params)
    sk = sketch_column(df, col, factory, KIND_DOUBLE)
    if sk is None:  # empty input: keep schema, all-NULL annotations
        out = df.withColumn(rank_col, F.lit(None).cast("double"))
        if buckets is not None:
            out = out.withColumn(bucket_col, F.lit(None).cast("int"))
        return out
    blob = sk.to_bytes()
    cls = type(sk)
    cols = df.columns

    idx = cols.index(col)

    def fn(batches):
        s = cls.from_bytes(blob)
        for b in batches:
            # arrow cast keeps nulls; null/NaN inputs rank as NaN
            # (mapped back to SQL NULL below), and are masked out of
            # the probe so the CDF kernel only sees finite values
            arr = b.column(idx).cast(pa.float64()).to_numpy(
                zero_copy_only=False
            )
            mask = np.isnan(arr)
            r = np.asarray(
                s.quantile_at_value(np.where(mask, 0.0, arr)),
                dtype=np.float64,
            )
            yield pa.RecordBatch.from_arrays(
                [b.column(i) for i in range(len(cols))]
                + [pa.array(np.where(mask, np.nan, r), from_pandas=True)],
                names=cols + [rank_col],
            )

    schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields
    )
    out = df.mapInArrow(fn, f"{schema}, {rank_col} double")
    # arrow NaN -> SQL NULL for null inputs
    out = out.withColumn(
        rank_col, F.when(~F.isnan(rank_col), F.col(rank_col))
    )
    if buckets is not None:
        out = out.withColumn(
            bucket_col,
            F.when(
                F.col(rank_col).isNotNull(),
                F.least(
                    F.floor(F.col(rank_col) * buckets), F.lit(buckets - 1)
                ),
            ).cast("int"),
        )
    return out


def cms_frequencies(
    cms: CountMinSketch, spark_df: DataFrame, col: str
) -> DataFrame:
    """Per-distinct-key CMS estimates: DataFrame[col, est_count].

    Distinct keys are computed JVM-side; estimates probe the broadcast
    CMS per Arrow batch.
    """
    blob = cms.to_bytes()

    def fn(batches):
        sk = CountMinSketch.from_bytes(blob)
        for b in batches:
            h = (
                b.column(1)
                .to_numpy(zero_copy_only=False)
                .astype(np.int64)
                .view(np.uint64)
            )
            est = sk.estimate_hashes(h)
            yield pa.RecordBatch.from_arrays(
                [b.column(0), pa.array(est, type=pa.int64())],
                names=[b.schema.names[0], "est_count"],
            )

    distinct = spark_df.select(col).distinct()
    hashed = distinct.select(F.col(col), F.xxhash64(F.col(col)).alias("__h"))
    f = spark_df.schema[col]
    return hashed.mapInArrow(
        fn, f"{f.name} {f.dataType.simpleString()}, est_count long"
    )


def grouped_distinct(
    df: DataFrame,
    keys: list[str],
    col: str,
    p: int = 14,
    salt_buckets: int = 0,
) -> DataFrame:
    """Per-group HLL distinct counts: DataFrame[*keys, estimate double,
    rse double].  Same grouped map-side-combine + salted-merge staging
    as grouped_quantiles — raw rows never shuffle, one HLL state per
    (partition x key) moves."""
    states = grouped_sketch(
        df, keys, col, lambda: HyperLogLog(p=p), KIND_HASH64,
        salt_buckets=salt_buckets,
    )
    key_schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}"
        for f in df.select(*keys).schema.fields
    )

    def extract(pdf):
        import pandas as pd

        sk = serde.from_bytes(pdf["state"].iloc[0])
        out = {k: [pdf[k].iloc[0]] for k in keys}
        out["estimate"] = [float(sk.estimate())]
        out["rse"] = [float(sk.relative_std_error())]
        return pd.DataFrame(out)

    return states.groupBy(*keys).applyInPandas(
        extract, f"{key_schema}, estimate double, rse double"
    )


def grouped_heavy_hitters(
    df: DataFrame,
    keys: list[str],
    col: str,
    k: int = 5,
    capacity: int = 1024,
    salt_buckets: int = 0,
) -> DataFrame:
    """Per-group top-k frequent values:
    DataFrame[*keys, col, est_count, max_err].

    Stage 1 builds one SpaceSaving sketch per group over
    ``xxhash64(col)`` through the grouped map-side-combine staging (raw
    rows never shuffle; one KB-sized state per partition x group
    moves).  Stage 2 recovers the <= groups*k winning hashes to values
    in ONE filtered scan (predicate-pushdown ``isin`` — never a
    full-column distinct shuffle) and broadcast-joins them back.

    Per-group guarantee (SpaceSaving): every value whose in-group count
    exceeds N_group/capacity is tracked, and est_count never
    undercounts (est - max_err <= true <= est)."""
    from sketchlib.core.spacesaving import SpaceSaving

    states = grouped_sketch(
        df, keys, col, lambda: SpaceSaving(capacity=capacity), KIND_HASH64,
        salt_buckets=salt_buckets,
    )
    key_schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}"
        for f in df.select(*keys).schema.fields
    )

    def extract(pdf):
        import pandas as pd

        sk = serde.from_bytes(pdf["state"].iloc[0])
        top = sk.top_k(k)
        out = {kk: [pdf[kk].iloc[0]] * len(top) for kk in keys}
        out["__h"] = [int(np.uint64(h).astype(np.int64)) for h, _c, _e in top]
        out["est_count"] = [int(c) for _h, c, _e in top]
        out["max_err"] = [int(e) for _h, _c, e in top]
        return pd.DataFrame(out)

    tops = states.groupBy(*keys).applyInPandas(
        extract, f"{key_schema}, __h long, est_count long, max_err long"
    )
    spark = df.sparkSession
    top_rows = tops.collect()  # <= groups*k rows — KBs
    if not top_rows:
        f = df.schema[col]
        return spark.createDataFrame(
            [],
            f"{key_schema}, {f.name} {f.dataType.simpleString()}, "
            "est_count long, max_err long",
        )
    hashes = sorted({r["__h"] for r in top_rows})
    values = (
        df.select(col, F.xxhash64(F.col(col)).alias("__h"))
        .filter(F.col("__h").isin(hashes))
        .distinct()
    )
    tops_df = spark.createDataFrame(
        top_rows, f"{key_schema}, __h long, est_count long, max_err long"
    )
    return (
        values.join(F.broadcast(tops_df), "__h")
        .select(*keys, col, "est_count", "max_err")
        .orderBy(*keys, F.desc("est_count"), F.asc(col))
    )


def _string_order_bounds(
    df: DataFrame,
    col: str,
    n_buckets: int,
    seed: int,
    sample_cap: int = 4096,
) -> list:
    """Monotonic bucket bounds for a non-numeric order column, from a
    seeded hash-order sample (TakeOrderedAndProject — no full sort, one
    small job).  The bounds are evenly-spaced order statistics of the
    sample; bound quality affects only bucket BALANCE, never the
    selection (bucketing is monotonic and equal keys share a bucket),
    exactly like the sketch-derived numeric bounds."""
    rows = (
        df.select(F.col(col).alias("__v"))
        .where(F.col("__v").isNotNull())
        .orderBy(F.xxhash64("__v", F.lit(seed)))
        .limit(sample_cap)
        .collect()
    )
    vals = sorted({r["__v"] for r in rows})
    if len(vals) < 2:
        return []
    bounds, prev = [], None
    for i in range(1, n_buckets):
        v = vals[min(i * len(vals) // n_buckets, len(vals) - 1)]
        if v != prev:
            bounds.append(v)
            prev = v
    return bounds


def _plan_partitions(df: DataFrame, assume: int) -> int:
    """Planned partition count via the JVM-side accessor (~0.2ms on a
    scan; the queryExecution is reused at execution — df.rdd would
    build the Python RDD wrapper for ~160ms).  Falls back to
    ``assume`` on internal API drift.

    Goes through ``queryExecution().toRdd()`` and NOT ``Dataset.rdd``:
    the latter wraps the conversion in a listener-visible execution
    event whose observed metrics are EMPTY, and any un-fired
    Observation upstream latches that first event — silently zeroing
    the caller's metrics (found via the pipeline spec runner, where
    every step count after a shuffle_rows read 0).

    The probe plans with AQE DISABLED (a fresh Dataset is created so
    its lazy QueryExecution picks the toggled conf up; restored in
    ``finally``): under AQE, ``toRdd()`` on a post-shuffle frame
    materializes every upstream query stage — i.e. the probe SILENTLY
    EXECUTES the whole input pipeline once before the caller's real
    action runs it again (measured: +4s per tokens_pipeline invocation
    from pack_sequences' probe alone).  With AQE off the partition
    count comes from the static plan (shuffle.partitions), executing
    nothing; scans are unaffected either way.  The toggle only spans
    driver-side planning of the probe Dataset and never affects result
    correctness of concurrently planned queries (AQE is a physical
    optimization)."""
    try:
        sess = df.sparkSession
        old = sess.conf.get("spark.sql.adaptive.enabled", "true")
        try:
            sess.conf.set("spark.sql.adaptive.enabled", "false")
            probe = df.where(F.lit(True))  # fresh lazy QueryExecution
            return probe._jdf.queryExecution().toRdd().getNumPartitions()
        finally:
            sess.conf.set("spark.sql.adaptive.enabled", old)
    except Exception:  # pragma: no cover - internal API drift
        return assume


def _plan_size_bytes(df: DataFrame, assume: int) -> int:
    """Catalyst's optimized-plan size estimate in bytes (driver-side,
    no job; for a parquet scan this is essentially the file bytes).
    Falls back to ``assume`` on internal API drift.  Used by the
    spread gates to decide whether a narrow plan is narrow because the
    input is SMALL (leave it alone — repartitioning a few thousand
    rows to 2x cores costs more scheduling than it buys) or because a
    sizeable file planned few row groups (spread it)."""
    try:
        return int(
            str(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
        )
    except Exception:  # pragma: no cover - internal API drift
        return assume


#: partition gate shared by the corpus operators that spread + cache
#: (dedup/ngram.py, dedup/spans.py): at or below this planned
#: partition count an input is "small" — worth persisting its derived
#: frame, and cheap enough for the single-stage plans
SPREAD_CACHE_MIN_PARTITIONS = 64


def _spread_and_gate(
    df: DataFrame, id_col: str, threshold: int = SPREAD_CACHE_MIN_PARTITIONS
):
    """(spread_df, nparts, small): hash-by-``id_col`` repartition to
    the session's shuffle parallelism when the source plans fewer
    partitions (a single-file scan plans 1-2 and would run every
    downstream build there; hash, never round-robin — round-robin
    local-sorts every wide row for retry determinism), plus the
    driver-side small-input verdict both callers gate caching (and
    ngram its plan choice) on.  No-op at scale."""
    nparts = _plan_partitions(df, threshold + 1)
    target = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    out = df.repartition(target, F.col(id_col)) if nparts < target else df
    return out, nparts, nparts <= threshold


def _hash_bucket_expr(order, order_buckets: int, normalized: bool = False):
    """Monotonic ~uniform bucket id from a 64-bit hash order key's
    HIGH BITS (signed arithmetic shiftright keeps ordering).  With
    ``normalized=True`` the id is offset from the signed range into
    [0, 2^bits) — required by dense-offset consumers (element_at
    indexing / with_global_rank's ``bucket_expr`` >=0 guard); the
    default keeps the raw signed id (ordering-only consumers).  The
    ONE definition of the shift formula — keep the two ranges from
    drifting apart."""
    import math

    shift = min(
        max(64 - math.ceil(math.log2(max(order_buckets, 2))), 1), 63
    )
    bucket = F.shiftright(order, shift)
    return (bucket + F.lit(1 << (63 - shift))) if normalized else bucket


def _order_and_bucket(
    df: DataFrame,
    order_col: str | None,
    seed: int,
    order_buckets: int,
    use_bucketed: bool,
):
    """Shared order/bucket derivation of the exact distributed prefix
    sum (see sample_by_token_budget's docstring for the plan shape):
    returns (order expression, monotonic bucket expression or None).
    ``None`` order_col = seeded xxhash64 over ALL columns (an unbiased
    reproducible draw whose bucket is free — the hash's high bits);
    numeric order columns bucket by sketch split points; anything else
    by evenly-spaced order statistics of a seeded sample."""
    import math

    if order_col is None:
        order = F.xxhash64(*[F.col(c) for c in df.columns], F.lit(seed))
        if not use_bucketed:
            return order, None
        return order, _hash_bucket_expr(order, order_buckets)
    order = F.col(order_col)
    if not use_bucketed:
        return order, None
    dt = df.schema[order_col].dataType.simpleString()
    if dt.startswith(("array", "struct", "map")):
        # orderable but not sample-boundable (python-side values are
        # unhashable/uncomparable across engines): keep the
        # single-window plan for complex order keys
        return order, None
    if dt in ("tinyint", "smallint", "int", "bigint", "float", "double"):
        # monotonic bucket id from sketch split points: count how many
        # bounds the value is >= (codegen'd O(order_buckets) per row,
        # no shuffle); NULLs sort first and compare false everywhere
        # => bucket 0, matching nulls-first window order
        bounds = range_partition_bounds(
            df, order_col, order_buckets, sketch="tdigest"
        )
        if not bounds:
            return order, None  # degenerate domain: single window
        return order, F.aggregate(
            F.array(*[F.lit(float(b)) for b in bounds]),
            F.lit(0),
            lambda acc, b: acc
            + F.when(F.col(order_col).cast("double") >= b, 1).otherwise(0),
        )
    # string/other order key: bounds from a seeded sample; the >=
    # predicate uses the SAME Catalyst ordering as the window's
    # orderBy, so bucketing stays monotonic with equal keys sharing a
    # bucket (NULLs => bucket 0, matching nulls-first)
    bounds = _string_order_bounds(df, order_col, order_buckets, seed)
    if not bounds:
        return order, None
    return order, F.aggregate(
        F.array(*[F.lit(b) for b in bounds]),
        F.lit(0),
        lambda acc, b: acc + F.when(F.col(order_col) >= b, 1).otherwise(0),
    )


def _exact_running_prior(
    df: DataFrame,
    size_col: str,
    order,
    bucket,
    part_cols: list[str],
) -> DataFrame:
    """Append ``__prior`` = exact running sum of ``size_col`` over
    ``order`` within each ``part_cols`` group (globally when empty),
    EXCLUDING the current row.  ``bucket`` None = one window per group
    (fine when the input is small — the adaptive gates decide); else
    the two-phase distributed prefix sum: per-(group, bucket) sums via
    map-side partial agg, per-bucket starting offsets via a window over
    at most order_buckets rows per group, within-bucket running sums
    over ~rows/order_buckets-row partitions.  Bucketing is monotonic
    and equal order keys share a bucket, so the result is EXACTLY the
    single-window answer."""
    from pyspark.sql.window import Window

    if bucket is None:
        w = (
            Window.partitionBy(*part_cols)
            .orderBy(order)
            .rowsBetween(Window.unboundedPreceding, -1)
        )
        return df.withColumn(
            "__prior", F.coalesce(F.sum(F.col(size_col)).over(w), F.lit(0))
        )
    bucketed = df.withColumn("__ob", bucket)
    woff = (
        Window.partitionBy(*part_cols)
        .orderBy("__ob")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = (
        bucketed.groupBy(*part_cols, "__ob")
        .agg(F.sum(size_col).alias("__bsum"))
        .withColumn(
            "__off", F.coalesce(F.sum("__bsum").over(woff), F.lit(0))
        )
        .drop("__bsum")
    )
    win = (
        Window.partitionBy(*part_cols, "__ob")
        .orderBy(order)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    prior = F.col("__off") + F.coalesce(
        F.sum(F.col(size_col)).over(win), F.lit(0)
    )
    return (
        bucketed.join(F.broadcast(offsets), list(part_cols) + ["__ob"])
        .withColumn("__prior", prior)
        .drop("__ob", "__off")
    )


def sample_by_token_budget(
    df: DataFrame,
    budgets: dict,
    source_col: str = "source",
    size_col: str = "n_tok",
    order_col: str | None = None,
    seed: int = 42,
    order_buckets: int = 1024,
    bucketed_min_partitions: int = 256,
) -> DataFrame:
    """Deterministic per-source token-budget mixing — the standard
    training-data recipe "take B_s tokens from each source": within
    every source, documents are taken in a deterministic order until
    the running token sum reaches the source's budget (the document
    crossing the budget is included, so every budget makes progress
    even when one doc exceeds it).

    Order: ``order_col`` (e.g. a curriculum or id order — exactly
    reproducible by any engine) or, when None, a seeded xxhash64 over
    ALL columns of the row — an unbiased pseudo-random draw,
    reproducible across Spark runs, in which fully-identical rows are
    the only possible ties (and identical rows are interchangeable, so
    the selected CONTENT is still deterministic).  On tables with wide
    payload columns prefer ``order_col`` over an id: the default hashes
    every byte of every row just to order.

    Scale shape (round 4): the naive plan — ONE window partitioned by
    source — ships a source's ENTIRE row set to a single task's sort
    (a 10^10-doc source at 100 TB is one straggler).  The running sum
    is instead computed as an EXACT two-phase distributed prefix sum:

    1. each row gets an order-domain bucket that is MONOTONIC in the
       order key (hash order: the hash's high bits; numeric
       ``order_col``: ``range_partition_bounds`` split points from one
       sketch scan — our own operator, composed);
    2. per-(source, bucket) token sums (map-side partial agg, tiny
       result) get per-bucket starting offsets via a window over at
       most ``order_buckets`` rows per source — bounded;
    3. the within-bucket running sum is a window over (source, bucket)
       — each partition holds ~rows/order_buckets rows, and the global
       prior is offset + within-bucket prior, EXACTLY the single-window
       result (bucketing is monotonic, and equal order keys share a
       bucket so tie semantics are unchanged).

    A non-numeric ``order_col`` buckets by evenly-spaced order
    statistics of a seeded hash-order sample of the key (one tiny
    TakeOrderedAndProject job) — same exactness argument, the bounds
    only steer balance.  Rows from sources without a budget are dropped
    AT THE SCAN (pushdown-able isin); only budgeted rows shuffle.

    Adaptive gate (round 5): below ``bucketed_min_partitions`` input
    partitions the single-window plan is already tiny, and the bucketed
    plan's two extra shuffles + bounds scan are pure constant overhead
    — so it is taken verbatim, decided driver-side from the planned
    partition count (~0.2ms, no extra job), mirroring the ann.py
    two-level top-k gate.  Set ``bucketed_min_partitions=0`` to force
    the bucketed plan.  Returns the selected rows of ``df`` unchanged."""
    if not budgets:
        return df.limit(0)
    budget_map = F.create_map(
        *[F.lit(x) for kv in budgets.items() for x in kv]
    )
    filtered = df.filter(F.col(source_col).isin(list(budgets)))
    use_bucketed = order_buckets > 1 and (
        _plan_partitions(filtered, assume=bucketed_min_partitions + 1)
        >= bucketed_min_partitions
    )
    order, bucket = _order_and_bucket(
        filtered, order_col, seed, order_buckets, use_bucketed
    )
    withp = _exact_running_prior(
        filtered, size_col, order, bucket, [source_col]
    )
    return withp.filter(
        F.col("__prior") < budget_map[F.col(source_col)]
    ).drop("__prior")


def temperature_budgets(
    df: DataFrame,
    total: int,
    source_col: str = "source",
    size_col: str = "n_tok",
    alpha: float = 0.5,
) -> dict:
    """Per-source token budgets for temperature-based mixing (the
    standard multilingual/multi-source pretraining recipe, e.g. mT5):
    source ``s`` holding ``n_s`` tokens gets
    ``total * w_s // sum(w)`` with weight ``w_s = floor(n_s ** alpha)``
    — flattening the natural distribution toward uniform as ``alpha``
    drops from 1.  All arithmetic past the weights is INTEGER, so the
    budget split is bit-reproducible by any engine.  The weights
    themselves are integer-exact for ``alpha`` 0.5 (``math.isqrt``;
    equal to ``floor(sqrt(double))`` for any realistic token count —
    the rounding argument holds to ~2^52) and 1.0; other alphas go
    through float ``pow`` (deterministic for one libm, not across
    engines — documented, not a gate path).

    One tiny driver-side job (a row per source).  Sources with NULL
    name or non-positive totals get no budget."""
    if total < 0:
        raise ValueError(f"total must be >= 0, got {total}")
    if alpha < 0:
        raise ValueError(f"alpha must be >= 0, got {alpha}")
    rows = (
        df.filter(F.col(source_col).isNotNull())
        .groupBy(source_col)
        .agg(F.sum(size_col).alias("__n"))
        .collect()
    )
    sizes = {r[source_col]: r["__n"] for r in rows}
    if alpha == 0.5:
        w = {s: math.isqrt(n) for s, n in sizes.items() if n and n > 0}
    elif alpha == 1.0:
        w = {s: int(n) for s, n in sizes.items() if n and n > 0}
    else:
        w = {
            s: int(math.floor(n**alpha))
            for s, n in sizes.items()
            if n and n > 0
        }
    sw = sum(w.values())
    if sw == 0:
        return {}
    # zero-budget sources are dropped: keeping them would shuffle
    # every row of a long-tail source through the prefix-sum window
    # only for `prior < 0` to discard them all (the SQL oracle also
    # selects nothing for budget 0 — behavior-identical)
    out = {s: total * ws // sw for s, ws in w.items()}
    return {s: b for s, b in out.items() if b > 0}


def sample_by_temperature(
    df: DataFrame,
    total: int,
    source_col: str = "source",
    size_col: str = "n_tok",
    alpha: float = 0.5,
    **kwargs,
) -> DataFrame:
    """Temperature mixing end-to-end: compute ``temperature_budgets``
    (one tiny aggregate job) and take exactly those budgets with the
    deterministic ``sample_by_token_budget`` prefix rule (``kwargs``
    pass through: order_col, seed, order_buckets, ...)."""
    budgets = temperature_budgets(df, total, source_col, size_col, alpha)
    return sample_by_token_budget(
        df, budgets, source_col=source_col, size_col=size_col, **kwargs
    )


def pack_sequences(
    df: DataFrame,
    seq_len: int,
    size_col: str = "n_tok",
    order_col: str | None = None,
    group_col: str | None = None,
    seed: int = 42,
    order_buckets: int = 1024,
    bucketed_min_partitions: int = 256,
) -> DataFrame:
    """Causal-LM sequence packing: documents are concatenated in a
    deterministic order and chunked into fixed ``seq_len`` training
    windows, documents crossing window boundaries (the standard
    GPT-style packed-pretraining layout — zero padding by
    construction).  Appends to every row:

    - ``seq_id``     — index of the training sequence holding the
      doc's FIRST token
    - ``seq_offset`` — position of that first token within it
    - ``n_seqs``     — how many sequences the doc spans

    so writers can materialize each window by gathering the docs with
    ``seq_id <= w < seq_id + n_seqs``.  The layout is a pure function
    of the exact global running token sum, computed with the same
    two-phase distributed prefix sum as ``sample_by_token_budget``
    (adaptive: single window below ``bucketed_min_partitions`` planned
    partitions) — crucially WITHOUT a per-key partition at all when
    ``group_col`` is None: the offsets window ranks at most
    ``order_buckets`` rows and every running-sum partition holds
    ~rows/order_buckets rows, so a 10^10-doc corpus never funnels into
    one task.  ``group_col`` packs each group into its own independent
    sequence space (e.g. per-source curricula).  Order: ``order_col``
    (reproducible by any engine) or a seeded xxhash64 row shuffle when
    None.  Rows with NULL or non-positive ``size_col`` contribute no
    tokens and are dropped (documented contract — a 0-token doc has no
    position in the token stream)."""
    if seq_len <= 0:
        raise ValueError(f"seq_len must be positive, got {seq_len}")
    filtered = df.filter(F.col(size_col) > 0)
    part_cols = [group_col] if group_col else []
    use_bucketed = order_buckets > 1 and (
        _plan_partitions(filtered, assume=bucketed_min_partitions + 1)
        >= bucketed_min_partitions
    )
    order, bucket = _order_and_bucket(
        filtered, order_col, seed, order_buckets, use_bucketed
    )
    withp = _exact_running_prior(filtered, size_col, order, bucket, part_cols)
    # integer `div`, NOT float division: the running token sum of a
    # 100-TB corpus exceeds 2^53, where a double quotient can round
    # across an integer and misplace a document
    L = int(seq_len)
    return (
        withp.withColumn("__prior", F.col("__prior").cast("long"))
        .withColumn("seq_id", F.expr(f"__prior div {L}"))
        .withColumn("seq_offset", F.pmod("__prior", F.lit(L)).cast("long"))
        .withColumn(
            "n_seqs",
            F.expr(
                f"(pmod(__prior, {L}) + CAST({size_col} AS BIGINT) - 1) "
                f"div {L} + 1"
            ),
        )
        .drop("__prior")
    )


def materialize_packed(
    df: DataFrame,
    tokens_col: str,
    seq_len: int,
    order_col: str | None = None,
    group_col: str | None = None,
    seed: int = 42,
    order_buckets: int = 1024,
    bucketed_min_partitions: int = 256,
) -> DataFrame:
    """Materialize the packed training windows themselves:
    DataFrame[seq_id, n_tokens, tokens] where ``tokens`` is the
    concatenated token stream chunk of length ``seq_len`` (the final
    window may be shorter — pad or drop at the writer).  With
    ``group_col``, one independent sequence space per group (output
    gains the group column).

    Plan shape (all Catalyst, zero Python): ``pack_sequences`` lays
    out each document, ``explode(sequence(0, n_seqs-1))`` emits one
    row per (document, window) intersection carrying the
    ``F.slice`` of the token array that lands in that window, and a
    ``groupBy(seq_id)`` reassembles each window via
    ``flatten(transform(array_sort(collect_list(struct(pos, slice)))))``
    — struct sort orders by in-window position (distinct docs occupy
    disjoint ranges, so no ties).  Every group holds at most
    ``seq_len`` tokens and at most ``seq_len`` slices, so the shuffle
    is perfectly bounded per reducer regardless of corpus size."""
    sized = df.withColumn("__n", F.size(F.col(tokens_col)).cast("long"))
    packed = pack_sequences(
        sized, seq_len, size_col="__n", order_col=order_col,
        group_col=group_col, seed=seed, order_buckets=order_buckets,
        bucketed_min_partitions=bucketed_min_partitions,
    )
    L = int(seq_len)
    g = F.col("seq_id") * L + F.col("seq_offset")  # global start
    win = (F.col("seq_id") + F.col("__j")).alias("__win")
    win_start = (F.col("seq_id") + F.col("__j")) * L
    start_in_doc = F.greatest(win_start - g, F.lit(0).cast("long"))
    end_in_doc = F.least(win_start + L - g, F.col("__n"))
    pos_in_win = F.greatest(g - win_start, F.lit(0).cast("long"))
    contrib = packed.select(
        *([group_col] if group_col else []),
        F.explode(
            F.sequence(F.lit(0).cast("long"), F.col("n_seqs") - 1)
        ).alias("__j"),
        "seq_id", "seq_offset", "__n", tokens_col,
    ).select(
        *([group_col] if group_col else []),
        win,
        F.struct(
            pos_in_win.alias("pos"),
            F.slice(
                F.col(tokens_col),
                (start_in_doc + 1).cast("int"),
                (end_in_doc - start_in_doc).cast("int"),
            ).alias("part"),
        ).alias("__piece"),
    )
    keys = ([group_col] if group_col else []) + ["__win"]
    return (
        contrib.groupBy(*keys)
        .agg(
            F.flatten(
                F.transform(
                    F.array_sort(F.collect_list("__piece")),
                    lambda s: s["part"],
                )
            ).alias("tokens")
        )
        .select(
            *([group_col] if group_col else []),
            F.col("__win").alias("seq_id"),
            F.size("tokens").cast("long").alias("n_tokens"),
            "tokens",
        )
    )


def with_global_rank(
    df: DataFrame,
    order_col: str,
    tie_cols: Sequence[str] = (),
    rank_col: str = "rank",
    n_shards: int | None = None,
    shard_col: str = "shard",
    shard_mode: str = "striped",
    seed: int = 42,
    order_buckets: int = 1024,
    bucketed_min_partitions: int = 256,
    bucket_expr=None,
) -> DataFrame:
    """Exact 1-based global rank of every row under ``ORDER BY
    order_col, *tie_cols`` (ascending, nulls first) — the distributed
    replacement for ``row_number() OVER (ORDER BY ...)``, whose naive
    plan ships the ENTIRE table into one task's sort.  Optional
    ``n_shards`` appends a 0-based ``shard`` column in one of two
    layouts: ``shard_mode="striped"`` (default) is round-robin by rank
    (``(rank - 1) % n_shards``) — every shard a same-size interleaved
    sample of the curriculum order, each reader seeing the full
    difficulty spectrum; ``"contiguous"`` is SQL ``NTILE(n) - 1`` —
    adjacent rank ranges, sizes differing by at most one, the layout
    for staged curricula (shard 0 = the easiest slice).  Contiguous
    needs the total row count: free in the bucketed plan (the counts
    job already ran), one extra ``count()`` action in the small
    single-window plan — which makes contiguous mode two-job in EVERY
    plan, so the nondeterministic-input caveat below applies to it
    regardless of plan (guarded the same way: a rank beyond the
    counted total fails loudly).

    Plan shape — classic two-phase distributed ranking: (1) a bucket
    id MONOTONIC in ``order_col`` (sketch split points for numerics,
    sampled order statistics for strings, via the shared
    :func:`_order_and_bucket` — one tiny job), (2) per-bucket row
    counts (map-side partial agg, ≤ ``order_buckets`` result rows)
    collected once and turned into a broadcast LITERAL offset map —
    no offsets self-join, no extra shuffle, and no Catalyst
    inferred-filter hazard on an expression-rooted join key, (3)
    ``row_number`` within each ~n/order_buckets-row bucket partition
    plus the bucket's offset.  Below ``bucketed_min_partitions``
    planned input partitions the single-window plan is taken verbatim
    (driver-side gate, ~0.2ms, no counts job).

    Ranks are deterministic only under a TOTAL order: include a unique
    key (e.g. the doc id) in ``tie_cols``, otherwise tied rows receive
    an arbitrary permutation of their tie range.  The bucketed plan
    evaluates the input in TWO jobs (counts, then ranking), so the
    input must be deterministic — persist it first if it contains
    ``rand()``/``sample()``/``limit()``; a bucket unseen by the counts
    job fails the ranking job loudly rather than emitting wrong ranks.  For descending
    order, pass a negated numeric column (``df.withColumn("neg_score",
    -F.col("score"))``).  Cross-engine note: ascending-nulls-first
    matches Spark's default; DuckDB defaults to NULLS LAST — order on
    non-null keys (or align the engine's null order) when comparing."""
    if n_shards is not None and n_shards < 1:
        raise ValueError(f"n_shards must be >= 1, got {n_shards}")
    if not 1 <= order_buckets <= (1 << 20):
        # the per-bucket offsets ship as a driver-built literal array
        # dense over 0..max bucket (~order_buckets entries), and the
        # hash-bucket path casts the bucket to int — a huge value
        # would overflow the cast / bloat the plan obscurely instead
        # of failing here
        raise ValueError(
            f"order_buckets must be in [1, 2^20], got {order_buckets}"
        )
    if shard_mode not in ("striped", "contiguous"):
        raise ValueError(
            f"shard_mode must be striped/contiguous, got {shard_mode!r}"
        )
    guarded = ("__ord", "__ob") + (
        (rank_col, shard_col) if n_shards is not None else (rank_col,)
    )
    for c in guarded:
        if c in df.columns:
            raise ValueError(f"output column {c!r} already exists")
    from pyspark.sql.window import Window

    use_bucketed = order_buckets > 1 and (
        _plan_partitions(df, assume=bucketed_min_partitions + 1)
        >= bucketed_min_partitions
    )
    if bucket_expr is not None:
        # caller-supplied bucket: must be MONOTONIC in the order key
        # and land in a small non-negative integer range (the offsets
        # array is dense over 0..max).  Lets hash-ordered callers
        # (shuffle_rows) bucket by the hash's high bits — zero split-
        # point jobs and O(1)/row instead of the O(order_buckets)/row
        # bounds fold.  Misuse fails loudly via the det_guard below.
        bucket = bucket_expr if use_bucketed else None
    else:
        _, bucket = _order_and_bucket(
            df, order_col, seed, order_buckets, use_bucketed
        )
    # materialize the composite order key as a real column (window
    # ORDER BY on a struct expression resolves fine; a named column
    # keeps the plan readable and prunes once)
    keyed = df.withColumn(
        "__ord", F.struct(F.col(order_col), *[F.col(c) for c in tie_cols])
    )
    total: int | None = None
    if bucket is None:
        ranked = keyed.withColumn(
            rank_col,
            F.row_number().over(Window.orderBy("__ord")).cast("long"),
        )
    else:
        bucketed = keyed.withColumn("__ob", bucket)
        counts = dict(
            (r["__ob"], r["n"])
            for r in bucketed.groupBy("__ob")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        )
        # dense offset ARRAY, not a literal map: every bucket id from
        # _order_and_bucket's non-hash paths is a count of bounds
        # passed, i.e. 0..len(bounds) — and element_at on a
        # constant-folded array literal is O(1) per row where
        # GetMapValue on a literal map is a linear scan
        maxb = max(counts) if counts else 0
        offs, run = [], 0
        for ob in range(maxb + 1):
            offs.append(run)
            run += counts.get(ob, 0)
        total = run
        off_arr = F.array(*[F.lit(o) for o in offs])
        within = F.row_number().over(
            Window.partitionBy("__ob").orderBy("__ord")
        )
        # assert_true fails the JOB (instead of silently NULLing the
        # rank) if the ranking job sees a bucket the counts job did
        # not: the input re-evaluated differently between the two jobs
        # — i.e. a nondeterministic frame (rand()/sample()/limit()
        # upstream), which this two-job plan cannot rank correctly
        det_guard = F.coalesce(
            F.assert_true(
                (F.col("__ob") >= F.lit(0)) & (F.col("__ob") <= F.lit(maxb)),
                F.lit(
                    "with_global_rank: unseen bucket id — the input "
                    "is nondeterministic across jobs; persist it or "
                    "remove rand()/sample()/limit() upstream"
                ),
            ).cast("long"),
            F.lit(0),
        )
        ranked = bucketed.withColumn(
            rank_col,
            (
                F.element_at(off_arr, F.col("__ob") + F.lit(1))
                + within
                + det_guard
            ).cast("long"),
        ).drop("__ob")
    out = ranked.drop("__ord")
    if n_shards is not None:
        if shard_mode == "striped":
            shard = F.pmod(F.col(rank_col) - F.lit(1), F.lit(n_shards))
        else:
            n_total = total if total is not None else df.count()
            # NTILE(n)-1: the first (N % n) shards hold ceil(N/n) rows.
            # `div` keeps the arithmetic integer-exact (a double
            # division misrounds above 2^53)
            q, rem = divmod(n_total, n_shards)
            if q == 0:
                shard = F.col(rank_col) - F.lit(1)
            else:
                cutoff = rem * (q + 1)
                shard = F.when(
                    F.col(rank_col) <= F.lit(cutoff),
                    F.expr(f"(`{rank_col}` - 1) div {q + 1}"),
                ).otherwise(
                    F.lit(rem)
                    + F.expr(f"(`{rank_col}` - 1 - {cutoff}) div {q}")
                )
            # contiguous mode makes EVERY plan two-job (the count is a
            # separate action) — same nondeterminism hazard as the
            # bucketed det_guard, same loud failure: a rank beyond the
            # counted N means the input re-evaluated differently
            shard = shard + F.coalesce(
                F.assert_true(
                    F.col(rank_col) <= F.lit(n_total),
                    F.lit(
                        "with_global_rank: rank exceeds the counted "
                        "total — the input is nondeterministic across "
                        "jobs; persist it or remove rand()/sample()/"
                        "limit() upstream"
                    ),
                ).cast("long"),
                F.lit(0),
            )
        out = out.withColumn(shard_col, shard.cast("long"))
    return out


def shuffle_rows(
    df: DataFrame,
    seed: int = 42,
    key_cols: list[str] | None = None,
    rank_col: str = "shuffle_rank",
    n_shards: int | None = None,
    shard_col: str = "shard",
    order_buckets: int = 1024,
    bucketed_min_partitions: int = 256,
) -> DataFrame:
    """Deterministic global shuffle — the "randomize the corpus before
    training" step: every row gets a reproducible pseudo-random
    position (1..N, a permutation) derived from a seeded xxhash64 of
    ``key_cols`` (all columns when None), optionally striped into
    ``n_shards`` balanced interleaved shards.  Same data + same seed =
    same order, on any partitioning, across reruns — so a training run
    is resumable and an ablation rerun sees the identical stream.

    Implementation: :func:`with_global_rank` over the materialized
    hash key — the exact two-phase ranking plan (hash high bits are
    the monotonic order bucket; no single-task global sort).  Hash
    ties are possible only between byte-identical key tuples; pass a
    unique ``key_cols`` (e.g. the doc id) for a strict permutation."""
    keys = key_cols if key_cols is not None else list(df.columns)
    if "__shuf" in df.columns:
        raise ValueError("column '__shuf' already exists")
    keyed = df.withColumn(
        "__shuf", F.xxhash64(*[F.col(c) for c in keys], F.lit(seed))
    )
    # the order key is a seeded hash, so its HIGH BITS are already a
    # monotonic ~uniform bucket — no split-point sketch job and O(1)
    # per-row bucketing (vs the O(order_buckets)/row bounds fold the
    # generic numeric path needs); normalized into [0, 2^bits) for
    # the dense offsets array (shared _hash_bucket_expr definition)
    hash_bucket = _hash_bucket_expr(
        F.col("__shuf"), order_buckets, normalized=True
    ).cast("int")
    out = with_global_rank(
        keyed,
        "__shuf",
        rank_col=rank_col,
        n_shards=n_shards,
        shard_col=shard_col,
        order_buckets=order_buckets,
        bucketed_min_partitions=bucketed_min_partitions,
        bucket_expr=hash_bucket,
    )
    return out.drop("__shuf")


def top_k_per_group(
    df: DataFrame,
    group_cols: Sequence[str],
    k: int,
    order_col: str | None = None,
    descending: bool = False,
    tie_cols: Sequence[str] = (),
    rank_col: str = "rank",
    seed: int = 42,
    pre_salt: int = 64,
    two_level_min_partitions: int = 512,
) -> DataFrame:
    """Exact top-``k`` rows of every group under ``ORDER BY order_col
    [DESC], *tie_cols`` — "the N longest docs per language", "the N
    newest events per user".  ``order_col=None`` orders by a seeded
    xxhash64 over ALL columns instead: a deterministic uniform draw of
    ``k`` rows per group ("sample N docs per domain"), reproducible
    across runs and repartitioning.

    Scale shape: Spark 3.5+'s rank-limit pushdown (WindowGroupLimit)
    already partial-top-ks each TASK before the shuffle, so even the
    single-window plan moves at most tasks*k rows per group — but at
    10^5 tasks that is still 10^5*k rows sorted in ONE task for a hot
    group.  Above ``two_level_min_partitions`` planned input
    partitions (driver-side check, ~0.2ms, mirroring the ann.py
    two-level top-k) a first window over (group, task-salt) keeps each
    salt's local top-k, so the final per-group window ranks at most
    ``pre_salt * k`` rows regardless of task count.
    Top-k of per-salt top-ks is exactly the global top-k under a total
    order, so both plans return identical rows; include a unique key
    in ``tie_cols`` for deterministic ranks — in hash mode too, where
    it breaks the (rare but real at 10^9-row groups) 64-bit hash
    collision between distinct rows.

    Appends ``rank_col`` (1-based within group) and returns the
    winning rows; all input columns pass through."""
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if not group_cols:
        raise ValueError("group_cols must be non-empty")
    for c in (rank_col, "__s", "__r"):
        if c in df.columns:
            raise ValueError(f"output column {c!r} already exists")
    from pyspark.sql.window import Window

    if order_col is None:
        base = F.xxhash64(*[F.col(c) for c in df.columns], F.lit(seed))
    else:
        base = F.col(order_col)
    # tie_cols apply in hash mode too: a 64-bit collision between two
    # DISTINCT rows straddling rank k would otherwise order them
    # arbitrarily, breaking run/plan reproducibility at scale
    ordering = [base.desc() if descending else base.asc()] + [
        F.col(c).asc() for c in tie_cols
    ]
    groups = [F.col(c) for c in group_cols]
    pre = df
    # on accessor drift assume big: the two-level plan is the safe one
    big = _plan_partitions(df, assume=two_level_min_partitions + 1)
    if big > two_level_min_partitions:
        salted = df.withColumn(
            "__s", F.spark_partition_id() % F.lit(pre_salt)
        )
        w1 = Window.partitionBy(*groups, F.col("__s")).orderBy(*ordering)
        pre = (
            salted.withColumn("__r", F.row_number().over(w1))
            .filter(F.col("__r") <= k)
            .drop("__r", "__s")
        )
    w = Window.partitionBy(*groups).orderBy(*ordering)
    return (
        pre.withColumn(rank_col, F.row_number().over(w).cast("long"))
        .filter(F.col(rank_col) <= k)
    )


def bloom_filtered_join(
    big: DataFrame,
    small: DataFrame,
    on: str,
    how: str = "inner",
    capacity: int | None = None,
    fpr: float = 0.001,
) -> DataFrame:
    """Join ``big`` to ``small`` on the shared key column ``on``,
    pruning ``big`` with a broadcast Bloom filter of ``small``'s keys
    BEFORE the join's shuffle — at 100 TB the win is that non-matching
    fact rows (often >90% when the dim side is filtered) never enter
    the Exchange.  The result is EXACT: the Bloom admits no false
    negatives, and its false positives are eliminated by the real join
    that follows; ``fpr`` trades filter size against leftover shuffle
    volume only.

    Only ``inner`` and ``left_semi`` joins are supported — outer/anti
    flavors must keep the very rows the filter prunes.  ``capacity``
    sizes the filter (default 1M distinct keys; oversizing is cheap —
    bits scale ~1.2 bytes/key at 0.1% fpr).  The filter is built with
    one aggregation over ``small`` (our own mergeable Bloom — usable
    from the direct engine and any other runtime, unlike Spark's
    internal runtime-filter injection, and reusable across joins via
    :func:`build_bloom` + :func:`bloom_contains` directly).  Probing
    is one vectorized Arrow pass appended to ``big``'s scan."""
    if how not in ("inner", "left_semi"):
        raise ValueError(
            f"bloom_filtered_join supports inner/left_semi, got {how!r}"
        )
    if "__bf" in big.columns:
        raise ValueError("output column '__bf' already exists")
    bloom = build_bloom(small, on, capacity=capacity, fpr=fpr)
    pruned = (
        bloom_contains(big, on, bloom, out_col="__bf")
        .filter(F.col("__bf"))
        .drop("__bf")
    )
    return pruned.join(small, on=on, how=how)


def split_by_weights(
    df: DataFrame,
    weights: dict[str, float],
    key_cols: list[str] | None = None,
    seed: int = 42,
    key_expr=None,
) -> dict[str, DataFrame]:
    """Deterministic multi-way split (train/val/test & co): returns
    ``{name: DataFrame}`` where each row lands in EXACTLY one split —
    disjoint and exhaustive by construction, because every split
    filters the same hash key against adjacent half-open ranges of
    [0, 2^20).

    The decision depends only on the row's key (seeded xxhash64 of
    ``key_cols``, all columns when None), so membership is stable
    under repartitioning, input growth (new rows never flip old
    assignments), and re-runs — the properties an eval holdout must
    have so test docs can never leak into training between releases.
    Range boundaries follow ``weights``' insertion order; weights are
    normalized to sum to 1 (a weight so small its range rounds to zero
    hash values raises — an eval split that can never receive a row is
    a silent leak of its entire domain into the neighbouring split).
    ``key_expr`` overrides the hash with a caller-supplied integer
    Column (cross-engine verification, curriculum keys); it is reduced
    ``pmod 2^20`` so any integer key keeps the split exhaustive.

    100-TB shape: each split is ONE map-side filter on the scan — no
    shuffle, no state, no action here; consuming all splits costs one
    scan each (or cache the keyed frame once upstream — or, to write
    all splits in a single pass, :func:`with_split_label`)."""
    ranges = _split_ranges(weights)
    h = _split_key(df, key_cols, seed, key_expr)
    return {
        name: df.filter((h >= F.lit(lo)) & (h < F.lit(hi)))
        for name, lo, hi in ranges
    }


#: hash-domain resolution of the deterministic splitters: membership
#: ranges are half-open integer intervals of [0, 2^20)
_SPLIT_SCALE = 1 << 20


def _split_ranges(weights: dict[str, float]) -> list[tuple[str, int, int]]:
    """(name, lo, hi) half-open ranges of [0, 2^20) in insertion
    order, validated: every weight positive and wide enough to own at
    least one hash value after rounding."""
    if not weights:
        raise ValueError("weights must be non-empty")
    for name, w in weights.items():
        if not w > 0:
            raise ValueError(f"weight for split {name!r} must be > 0")
    total = float(sum(weights.values()))
    ranges: list[tuple[str, int, int]] = []
    cum = 0.0
    lo = 0
    names = list(weights)
    for i, name in enumerate(names):
        cum += float(weights[name]) / total
        # the last range's upper bound is pinned to `scale` so rounding
        # can never orphan the top of the hash domain
        hi = (
            _SPLIT_SCALE
            if i == len(names) - 1
            else int(round(_SPLIT_SCALE * cum))
        )
        if hi <= lo:
            raise ValueError(
                f"weight for split {name!r} rounds to an empty hash "
                f"range at 2^20 resolution (weight {weights[name]!r} of "
                f"total {total!r}); use a weight >= ~2**-19 of the total"
            )
        ranges.append((name, lo, hi))
        lo = hi
    return ranges


def _split_key(df, key_cols, seed, key_expr):
    """The integer membership key in [0, 2^20): seeded xxhash64 of
    ``key_cols`` (all columns when None), or the caller's ``key_expr``
    reduced pmod 2^20 (identity for in-range keys; out-of-range /
    negative keys fold into the domain instead of silently matching no
    range)."""
    if key_expr is not None:
        return F.pmod(key_expr, F.lit(_SPLIT_SCALE))
    keys = key_cols if key_cols is not None else list(df.columns)
    return F.pmod(
        F.xxhash64(*[F.col(c) for c in keys], F.lit(seed)),
        F.lit(_SPLIT_SCALE),
    )


def with_split_label(
    df: DataFrame,
    weights: dict[str, float],
    key_cols: list[str] | None = None,
    seed: int = 42,
    key_expr=None,
    label_col: str = "split",
) -> DataFrame:
    """Append the split NAME each row belongs to — same membership rule
    as :func:`split_by_weights` (identical ranges, key, and seed), as
    one column instead of N filtered frames.  This is the single-scan
    shape for materializing every split at once:
    ``with_split_label(df, w).write.partitionBy("split")`` reads the
    input ONCE where writing N filtered frames scans it N times."""
    if label_col in df.columns:
        raise ValueError(f"output column {label_col!r} already exists")
    ranges = _split_ranges(weights)
    h = _split_key(df, key_cols, seed, key_expr)
    expr = F.lit(ranges[-1][0])  # the last range owns the top; chain
    for name, lo, hi in reversed(ranges[:-1]):
        expr = F.when(h < F.lit(hi), F.lit(name)).otherwise(expr)
    return df.withColumn(label_col, expr)


def split_train_eval(
    df: DataFrame,
    eval_fraction: float,
    key_cols: list[str] | None = None,
    seed: int = 42,
    key_expr=None,
):
    """Two-way convenience wrapper over :func:`split_by_weights`:
    returns ``(train_df, eval_df)``."""
    if not 0.0 < eval_fraction < 1.0:
        raise ValueError("eval_fraction must be in (0, 1)")
    parts = split_by_weights(
        df,
        {"eval": eval_fraction, "train": 1.0 - eval_fraction},
        key_cols=key_cols,
        seed=seed,
        key_expr=key_expr,
    )
    return parts["train"], parts["eval"]


def sample_stratified(
    df: DataFrame,
    strata_cols: list[str],
    fractions: dict,
    key_cols: list[str] | None = None,
    seed: int = 42,
    default_fraction: float = 0.0,
    key_expr=None,
) -> DataFrame:
    """Deterministic stratified sampling: keep each row of stratum s
    with probability ``fractions[s]`` (``default_fraction`` for
    unlisted strata), decided by a seeded hash of ``key_cols`` (all
    columns when None) — so the SAME rows are selected on every run,
    every engine with the same hash, and every subset of the data
    (adding files never flips earlier decisions, unlike
    ``df.sample``'s partition-index-seeded Bernoulli draw).

    Strata keys are the tuple of ``strata_cols`` values; for
    single-column strata ``fractions`` maps plain values.  The plan is
    ONE map-side filter — no shuffle, no action, no state: the 100-TB
    shape is a full scan at worst, and Catalyst prunes strata with
    fraction 0 via the pushed-down isin when ``default_fraction`` is 0.

    Keep rule: ``pmod(xxhash64(key_cols, seed), 2^20) < fraction *
    2^20`` — exact to ~1e-6 in the keep probability.  ``key_expr``
    overrides the hash with a caller-supplied integer Column in
    [0, 2^20) — e.g. an arithmetic Weyl key any SQL engine computes
    identically, for cross-engine verification."""
    if not 0.0 <= default_fraction <= 1.0:
        raise ValueError("default_fraction must be in [0, 1]")
    for k, v in fractions.items():
        if not 0.0 <= v <= 1.0:
            raise ValueError(f"fraction for stratum {k!r} must be in [0, 1]")
    scale = 1 << 20
    if key_expr is not None:
        h = key_expr
    else:
        keys = key_cols if key_cols is not None else list(df.columns)
        h = F.pmod(
            F.xxhash64(*[F.col(c) for c in keys], F.lit(seed)), F.lit(scale)
        )
    # typed predicate chain, NOT string-concat key matching: F.lit of
    # the python value compares in the COLUMN's type (a string-cast
    # match would silently miss bool/date strata whose Spark cast
    # differs from python str(), and separator bytes could collide);
    # eqNullSafe makes None a matchable stratum value
    def match(key) -> "F.Column":
        parts = key if len(strata_cols) > 1 else (key,)
        cond = None
        for c, v in zip(strata_cols, parts):
            eq = F.col(c).eqNullSafe(F.lit(v))
            cond = eq if cond is None else (cond & eq)
        return cond

    frac = F.lit(float(default_fraction))
    for k, v in fractions.items():
        frac = F.when(match(k), F.lit(float(v))).otherwise(frac)
    out = df.filter(h < (frac * scale).cast("long"))
    if default_fraction == 0.0:
        # unlisted strata can never pass: add pushdown-able per-column
        # isin prefilters (a necessary condition of membership in any
        # listed stratum) so the scan prunes them; None-keyed strata
        # can't ride isin (null never matches IN), so pruning applies
        # per column only when no listed key uses None there
        for i, c in enumerate(strata_cols):
            vals = [
                (k if len(strata_cols) > 1 else (k,))[i] for k in fractions
            ]
            if None not in vals:
                out = out.filter(F.col(c).isin(vals))
    return out


def profile_table(
    df: DataFrame,
    columns: list[str] | None = None,
    hll_p: int = 12,
) -> DataFrame:
    """One-stop table profile: DataFrame[column, dtype, n_rows,
    n_nulls, approx_distinct] — the ANALYZE-style statistics a
    pipeline wants before choosing join strategies, salt levels, or
    partition counts.

    Exactly TWO scans regardless of column count: one Catalyst
    aggregation for the exact row/null counts of every column, and one
    ``sketch_columns`` pass building every column's HyperLogLog in a
    single read (tagged partials, tree-merged).  ``approx_distinct``
    is corrected for the null phantom (``xxhash64(NULL)`` hashes to
    the seed constant, which the sketch would count as one value) and
    carries the usual HLL error (~1.04/sqrt(2^p)).  With
    ``columns=None`` map-typed columns are skipped (Spark's hash
    expressions reject MapType); name one explicitly to get the
    AnalysisException."""
    from sketchlib.core.hll import HyperLogLog

    cols = columns if columns is not None else [
        f.name for f in df.schema.fields
        if not f.dataType.simpleString().startswith("map")
    ]
    dtypes = dict(df.dtypes)
    agg_row = df.agg(
        F.count(F.lit(1)).alias("__n"),
        *[
            F.sum(F.col(c).isNull().cast("long")).alias(f"__nulls_{i}")
            for i, c in enumerate(cols)
        ],
    ).first()
    n_rows = int(agg_row["__n"])
    sketches = sketch_columns(
        df, {c: ((lambda: HyperLogLog(p=hll_p)), KIND_HASH64) for c in cols}
    )
    rows = []
    for i, c in enumerate(cols):
        n_nulls = int(agg_row[f"__nulls_{i}"] or 0)
        sk = sketches.get(c)
        est = float(sk.estimate()) if sk is not None else 0.0
        if n_nulls > 0:
            est = max(est - 1.0, 0.0)
        rows.append((c, dtypes.get(c, ""), n_rows, n_nulls, int(round(est))))
    return df.sparkSession.createDataFrame(
        rows,
        "column string, dtype string, n_rows long, n_nulls long, "
        "approx_distinct long",
    )


def grouped_quantiles(
    df: DataFrame,
    keys: list[str],
    col: str,
    probabilities: Sequence[float],
    sketch: str = "tdigest",
    is_array: bool = False,
    salt_buckets: int = 0,
    **params,
) -> DataFrame:
    """Per-group quantiles: DataFrame[*keys, q double, value double].

    The estimate extraction runs in applyInPandas over the (tiny)
    per-group state rows.
    """
    factory = _quantile_factory(sketch, **params)
    kind = KIND_ARRAY if is_array else KIND_DOUBLE
    states = grouped_sketch(df, keys, col, factory, kind, salt_buckets=salt_buckets)
    probs = [float(p) for p in probabilities]
    key_schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in df.select(*keys).schema.fields
    )

    def extract(pdf):
        import pandas as pd

        sk = serde.from_bytes(pdf["state"].iloc[0])
        vals = np.atleast_1d(sk.value_at_quantile(np.array(probs)))
        out = {k: [pdf[k].iloc[0]] * len(probs) for k in keys}
        out["q"] = probs
        out["value"] = [float(v) for v in vals]
        return pd.DataFrame(out)

    return states.groupBy(*keys).applyInPandas(
        extract, f"{key_schema}, q double, value double"
    )
