"""The four workloads: seeded inputs, exact reference answers and the
jobs of one cycle.

Each workload generates its inputs from the seed into parquet files
(``setup``), then computes exact answers from the same data on the
driver with numpy and plain Python (``reference``, kept out of every
timed region).  A job is one library call whose result is materialized
(``call``), followed by a check against the reference (``check``).
With an enabled tracer, ``call`` wraps each call into a layer in a
span; where a public function hides a layer boundary the benchmark
needs, the traced call makes the same library calls that function
makes, one layer at a time, and must return the same result."""

from __future__ import annotations

import hashlib
import math
import os
import zlib
from collections import defaultdict
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from sketchlib import serde
from sketchlib.core.hll import HyperLogLog
from sketchlib.spark import api
from sketchlib.spark.aggregate import (
    KIND_ARRAY,
    KIND_ARRAY_HASH,
    KIND_DOUBLE,
    KIND_HASH64,
    _sorted_blobs,
    build_partials,
)
from sketchlib.spark.direct import build_partials_direct, sketch_parquet

PROBS = np.array([0.001, 0.01, 0.05, 0.1, 0.25, 0.5, 0.75, 0.9, 0.95,
                  0.99, 0.999])
# ACCURACY.md §1: rank error <= 0.005 for t-digest d=2000 and KLL k=200
RANK_BAR = 0.005
FILES = 8  # parquet files per input table; 2 x local[4] direct-scan tasks


def hll_bar(p: int) -> float:
    """Accuracy bar for one HLL estimate: four relative standard errors
    (1.04 / sqrt(2^p)), a miss probability of about 6e-5 per estimate."""
    return 4 * 1.04 / math.sqrt(1 << p)


@dataclass
class Outcome:
    """What a checked job reports."""

    items: int
    ok: bool = True
    detail: str = ""
    state_bytes: int = 0
    rank_err: float | None = None
    distinct_err: float | None = None
    counts: dict = field(default_factory=dict)


@dataclass
class Job:
    name: str
    call: object  # (tracer) -> result
    check: object  # (result) -> Outcome
    cleanup: object = None  # () -> None, run after the check, untimed


def _rng(seed: int, name: str) -> np.random.Generator:
    return np.random.default_rng([seed, zlib.crc32(name.encode())])


def _write_parquet(path: str, table: pa.Table, files: int = FILES) -> None:
    os.makedirs(path, exist_ok=True)
    bounds = np.linspace(0, table.num_rows, files + 1).astype(int)
    for i in range(files):
        pq.write_table(table.slice(bounds[i], bounds[i + 1] - bounds[i]),
                       os.path.join(path, f"part-{i:05d}.parquet"))


def _checksum(*arrays) -> str:
    h = hashlib.sha256()
    for a in arrays:
        h.update(np.ascontiguousarray(a).tobytes())
    return h.hexdigest()[:16]


class ExactRanks:
    """Exact rank intervals from distinct-value counts: a value v has
    ranks [#(x < v), #(x <= v)] out of n."""

    def __init__(self, values: np.ndarray):
        self.uniq, cnt = np.unique(values, return_counts=True)
        self.cum = np.concatenate(([0], np.cumsum(cnt)))
        self.n = int(self.cum[-1])

    def interval(self, v):
        v = np.asarray(v, dtype=np.float64)
        lo = self.cum[np.searchsorted(self.uniq, v, "left")]
        hi = self.cum[np.searchsorted(self.uniq, v, "right")]
        return lo, hi

    def quantile_error(self, probs, estimates) -> float:
        """Largest distance of p*n from the rank interval of the
        estimate for p, as a share of n."""
        lo, hi = self.interval(estimates)
        t = np.asarray(probs) * self.n
        return float(np.max(np.maximum(0, np.maximum(lo - t, t - hi)))
                     / self.n)

    def rank_error(self, values, ranks) -> float:
        """Largest distance of an estimated rank (a share of n) from the
        exact rank interval of its value."""
        lo, hi = self.interval(values)
        r = np.asarray(ranks) * self.n
        return float(np.max(np.maximum(0, np.maximum(lo - r, r - hi)))
                     / self.n)


def merged(tr, rows):
    """The driver-side final merge ``tree_merge`` makes when the partials
    fit under its collect threshold: states in sorted order,
    deserialized, merged left to right."""
    with tr.span("aggregate.merge"):
        blobs = _sorted_blobs(r["state"] for r in rows)
        with tr.span("serde.from_bytes"):
            sks = [serde.from_bytes(b) for b in blobs]
        with tr.span("core.merge"):
            acc = sks[0]
            for s in sks[1:]:
                acc.merge(s)
    return acc


def partials(tr, layer, df):
    """Collect a partials frame inside a ``<layer>.partials`` span and
    count its rows, values, state bytes and task build time."""
    with tr.span(f"{layer}.partials"):
        rows = df.collect()
    tr.count(f"{layer}.partials", len(rows))
    tr.count(f"{layer}.values", sum(r["items"] for r in rows))
    tr.count(f"{layer}.partial_bytes", sum(len(r["state"]) for r in rows))
    tr.count(f"{layer}.task_busy_s", sum(r["build_secs"] for r in rows))
    return rows


# ------------------------------------------------------------ token_scan


class TokenScan:
    """Global builds over a seeded token table (direct pyarrow scan) and
    a seeded continuous double column (DataFrame path)."""

    name = "token_scan"
    cycle_s = 4.3  # nominal seconds per cycle, 4-core box
    n_docs = 8_000
    n_doubles = 1_200_000

    def __init__(self, spark, root, seed):
        self.spark, self.seed = spark, seed
        self.tok_path = os.path.join(root, "tokens")
        self.dbl_path = os.path.join(root, "doubles")

    def setup(self):
        from sketchlib.spark.datagen import token_sequences

        token_sequences(self.spark, self.n_docs, seed=self.seed,
                        partitions=FILES).write.parquet(self.tok_path)
        rng = _rng(self.seed, self.name)
        n = self.n_doubles
        x = np.where(rng.random(n) < 0.7, rng.lognormal(3.0, 1.0, n),
                     rng.normal(200.0, 20.0, n))
        _write_parquet(self.dbl_path, pa.table({"x": x}))
        self.docs = self.spark.read.parquet(self.tok_path)
        self.dbl = self.spark.read.parquet(self.dbl_path)

    def reference(self):
        t = pq.read_table(self.tok_path, columns=["doc_id", "tokens"])
        toks = t.column("tokens").combine_chunks().flatten().to_numpy()
        x = pq.read_table(self.dbl_path).column("x").to_numpy()
        self.tok_ranks = ExactRanks(toks)
        self.n_tok_distinct = len(self.tok_ranks.uniq)
        self.n_docids = len(set(t.column("doc_id").to_pylist()))
        self.x_ranks = ExactRanks(x)
        self.checksum = _checksum(toks, x)
        self.input_size = (f"{self.n_docs} docs, {toks.size} tokens, "
                           f"{x.size} doubles")
        self.kernel_values = toks[:200_000].astype(np.float64)

    def _direct(self, tr, factory, kind):
        if not tr.enabled:
            return sketch_parquet(self.spark, self.tok_path, "tokens",
                                  factory, kind)
        return merged(tr, partials(tr, "direct", build_partials_direct(
            self.spark, self.tok_path, "tokens", factory, kind)))

    def _quantiles(self, tr, sketch):
        if not tr.enabled:
            return api.approx_quantiles(self.dbl, "x", PROBS, sketch=sketch)
        factory = api._quantile_factory(sketch)
        sk = merged(tr, partials(tr, "aggregate", build_partials(
            self.dbl, "x", factory, KIND_DOUBLE)))
        with tr.span("api.query"):
            vals = sk.value_at_quantile(PROBS)
        return [float(v) for v in vals], sk

    def _distinct(self, tr):
        if not tr.enabled:
            return api.approx_distinct(self.docs, "doc_id")
        sk = merged(tr, partials(tr, "aggregate", build_partials(
            self.docs, "doc_id", lambda: HyperLogLog(p=14), KIND_HASH64)))
        with tr.span("api.query"):
            return sk.estimate(), sk

    def _query_direct(self, tr, sk):
        with tr.span("api.query"):
            if isinstance(sk, HyperLogLog):
                return sk.estimate(), sk
            return [float(v) for v in sk.value_at_quantile(PROBS)], sk

    def jobs(self):
        from sketchlib.core.tdigest import TDigest

        def quantile_check(ranks, items):
            def check(res):
                vals, sk = res
                err = ranks.quantile_error(PROBS, vals)
                return Outcome(items, err <= RANK_BAR,
                               f"rank err {err:.2e}",
                               state_bytes=len(sk.to_bytes()), rank_err=err)
            return check

        def distinct_check(exact, items):
            def check(res):
                est, sk = res
                err = abs(est - exact) / exact
                return Outcome(items, err <= hll_bar(14),
                               f"distinct err {err:.2e}",
                               state_bytes=len(sk.to_bytes()),
                               distinct_err=err)
            return check

        n_tok, n_x = self.tok_ranks.n, self.x_ranks.n
        return [
            Job("direct_tdigest_tokens",
                lambda tr: self._query_direct(tr, self._direct(
                    tr, lambda: TDigest(delta=2000.0), KIND_ARRAY)),
                quantile_check(self.tok_ranks, n_tok)),
            Job("direct_hll_tokens",
                lambda tr: self._query_direct(tr, self._direct(
                    tr, lambda: HyperLogLog(p=14), KIND_ARRAY_HASH)),
                distinct_check(self.n_tok_distinct, n_tok)),
            Job("agg_tdigest_doubles", lambda tr: self._quantiles(
                tr, "tdigest"), quantile_check(self.x_ranks, n_x)),
            Job("agg_kll_doubles", lambda tr: self._quantiles(tr, "kll"),
                quantile_check(self.x_ranks, n_x)),
            Job("agg_hll_doc_id", self._distinct,
                distinct_check(self.n_docids, self.n_docs)),
        ]


# ---------------------------------------------------------- grouped_skew


class GroupedSkew:
    """Per-key sketches over Zipf-skewed keys, most with few values: the
    per-partition dict of sketches, state serde, the state shuffle and
    the salted merge do the work.  Every key costs several milliseconds
    of per-group Python in the merge and extract stages, so the key
    count is what keeps a job inside a run."""

    name = "grouped_skew"
    cycle_s = 5.5  # nominal seconds per cycle, 4-core box
    probs = np.array([0.1, 0.5, 0.9])
    hll_p = 10
    SHIFT = 1 << 32  # > distinct values: key * SHIFT + value index
    n_keys = 200
    n_rows = 80_000

    def __init__(self, spark, root, seed):
        self.spark, self.seed = spark, seed
        self.path = os.path.join(root, "grouped")

    def setup(self):
        rng = _rng(self.seed, self.name)
        # Zipf(1.1) key ranks over n_keys, scattered over the id space
        w = 1.0 / np.arange(1, self.n_keys + 1) ** 1.1
        rank = rng.choice(self.n_keys, self.n_rows, p=w / w.sum())
        keys = rng.permutation(self.n_keys)[rank].astype(np.int64)
        v = rng.lognormal(8.0, 1.5, self.n_rows)
        _write_parquet(self.path, pa.table({"k": keys, "v": v}))
        self.df = self.spark.read.parquet(self.path)

    def reference(self):
        t = pq.read_table(self.path)
        k = t.column("k").to_numpy()
        v = t.column("v").to_numpy()
        # exact per-key ranks: a value's index among the distinct values
        # of the whole column, under its key, as one sortable integer
        self.uniq = np.unique(v)
        self.comp = np.sort(k * self.SHIFT + np.searchsorted(self.uniq, v))
        self.gkeys, self.gstart, self.gcount = np.unique(
            self.comp // self.SHIFT, return_index=True, return_counts=True)
        self.gdistinct = np.unique(np.unique(self.comp) // self.SHIFT,
                                   return_counts=True)[1]
        self.checksum = _checksum(k, v)
        self.input_size = (
            f"{self.n_rows} values over {len(self.gkeys)} keys (largest "
            f"key {int(self.gcount.max())} values)")
        self.kernel_values = v[:200_000]

    def _key_index(self, keys):
        idx = np.searchsorted(self.gkeys, keys)
        if np.any(idx >= len(self.gkeys)) or np.any(
            self.gkeys[np.minimum(idx, len(self.gkeys) - 1)] != keys
        ):
            raise AssertionError("result holds a key absent from the input")
        return idx

    def check_quantiles(self, tbl) -> Outcome:
        keys = tbl.column("k").to_numpy()
        q = tbl.column("q").to_numpy()
        est = tbl.column("value").to_numpy()
        idx = self._key_index(keys)
        n, start = self.gcount[idx], self.gstart[idx]
        base = keys * self.SHIFT
        lo = np.searchsorted(self.comp, base + np.searchsorted(
            self.uniq, est, "left"), "left") - start
        hi = np.searchsorted(self.comp, base + np.searchsorted(
            self.uniq, est, "right"), "left") - start
        t = q * n
        # one rank of slack: interpolating between two adjacent order
        # statistics is exact for every p in a group of a few values
        dist = np.maximum(0, np.maximum(lo - t, t - hi) - 1)
        err = float(np.max(dist / n))
        complete = tbl.num_rows == len(self.gkeys) * len(self.probs)
        return Outcome(self.n_rows, complete and err <= RANK_BAR,
                       f"rank err {err:.2e}, rows {tbl.num_rows}",
                       rank_err=err)

    def check_distinct(self, tbl) -> Outcome:
        idx = self._key_index(tbl.column("k").to_numpy())
        exact = self.gdistinct[idx]
        diff = np.abs(tbl.column("estimate").to_numpy() - exact)
        err = float(np.max(diff / exact))
        # tiny groups: two values sharing a register is one collision
        # away from exact, outside what the asymptotic error describes
        ok = (tbl.num_rows == len(self.gkeys)
              and np.all(diff <= hll_bar(self.hll_p) * exact + 2))
        return Outcome(self.n_rows, bool(ok), f"worst group err {err:.2e}",
                       distinct_err=err)

    def jobs(self):
        def quantiles(tr):
            with tr.span("api.grouped_quantiles"):
                return api.grouped_quantiles(
                    self.df, ["k"], "v", self.probs, sketch="tdigest",
                    salt_buckets=4).toArrow()

        def distinct(tr):
            with tr.span("api.grouped_distinct"):
                return api.grouped_distinct(self.df, ["k"], "v",
                                            p=self.hll_p).toArrow()

        return [Job("grouped_quantiles", quantiles, self.check_quantiles),
                Job("grouped_distinct", distinct, self.check_distinct)]

    def census(self, tr):
        """State rows and bytes per cycle: the grouped states both jobs
        build, measured once after the timed loop."""
        from pyspark.sql import functions as F

        from sketchlib.spark.aggregate import grouped_sketch

        p = self.hll_p  # the factory ships to executors: no ``self``
        factories = [
            (api._quantile_factory("tdigest"), KIND_DOUBLE, 4),
            (lambda: HyperLogLog(p=p), KIND_HASH64, 0),
        ]
        for factory, kind, salt in factories:
            with tr.span("aggregate.grouped_sketch"):
                r = grouped_sketch(self.df, ["k"], "v", factory, kind,
                                   salt_buckets=salt).agg(
                    F.count("*").alias("rows"),
                    F.sum(F.length("state")).alias("bytes"),
                    F.sum("items").alias("items"),
                    F.sum("build_secs").alias("busy"),
                ).first()
            tr.count("aggregate.group_state_rows", r["rows"])
            tr.count("aggregate.group_state_bytes", r["bytes"])
            tr.count("aggregate.values", r["items"])
            tr.count("aggregate.task_busy_s", r["busy"])


# ------------------------------------------------------------ rank_probe


class RankProbe:
    """The read path: every input row probed against a broadcast sketch
    (t-digest and KLL ranks, bloom membership, CMS frequencies)."""

    name = "rank_probe"
    cycle_s = 4.5  # nominal seconds per cycle, 4-core box
    bloom_fpr = 0.01
    cms_depth, cms_width = 5, 16384
    n_rows = 500_000
    key_space = 50_000
    n_members = 2_000

    def __init__(self, spark, root, seed):
        self.spark, self.seed = spark, seed
        self.path = os.path.join(root, "rows")
        self.member_path = os.path.join(root, "members")

    def setup(self):
        rng = _rng(self.seed, self.name)
        n = self.n_rows
        x = np.where(rng.random(n) < 0.6, rng.lognormal(2.0, 1.2, n),
                     rng.gamma(4.0, 25.0, n))
        w = 1.0 / np.arange(1, self.key_space + 1) ** 1.05
        key = rng.permutation(self.key_space)[
            rng.choice(self.key_space, n, p=w / w.sum())
        ].astype(np.int64)
        members = rng.choice(self.key_space, self.n_members, replace=False)
        _write_parquet(self.path, pa.table(
            {"id": np.arange(n, dtype=np.int64), "x": x, "key": key}))
        _write_parquet(self.member_path,
                       pa.table({"key": members.astype(np.int64)}), 1)
        self.df = self.spark.read.parquet(self.path)
        self.members_df = self.spark.read.parquet(self.member_path)

    def reference(self):
        t = pq.read_table(self.path)
        ids = t.column("id").to_numpy()
        x = t.column("x").to_numpy()
        key = t.column("key").to_numpy()
        members = pq.read_table(self.member_path).column("key").to_numpy()
        self.x_by_id = np.empty_like(x)
        self.x_by_id[ids] = x
        self.x_ranks = ExactRanks(x)
        self.key_by_id = np.empty_like(key)
        self.key_by_id[ids] = key
        self.members = np.unique(members)
        self.ukeys, self.kcount = np.unique(key, return_counts=True)
        self.checksum = _checksum(ids, x, key, members)
        self.input_size = (f"{self.n_rows} rows, {len(self.ukeys)} distinct "
                           f"keys, {len(self.members)} bloom members")
        self.kernel_values = x[:200_000]

    def check_rank(self, tbl) -> Outcome:
        ids = tbl.column("id").to_numpy()
        r = tbl.column("q_rank").to_numpy()
        err = self.x_ranks.rank_error(self.x_by_id[ids], r)
        ok = len(np.unique(ids)) == self.n_rows and err <= RANK_BAR
        return Outcome(self.n_rows, ok, f"rank err {err:.2e}", rank_err=err)

    def check_bloom(self, res) -> Outcome:
        tbl, bloom = res
        ids = tbl.column("id").to_numpy()
        member = tbl.column("member").to_numpy(zero_copy_only=False)
        keys = self.key_by_id[ids]
        truth = np.isin(keys, self.members)
        false_neg = int(np.sum(truth & ~member))
        # false-positive rate over distinct non-member keys: per-row
        # rates would hinge on whether a few hot keys collide
        fp_keys = np.unique(keys[~truth & member])
        non_members = np.setdiff1d(self.ukeys, self.members).size
        fpr = fp_keys.size / non_members
        ok = (len(ids) == self.n_rows and false_neg == 0
              and fpr <= 2 * self.bloom_fpr)
        return Outcome(self.n_rows, ok, f"fn {false_neg}, fpr {fpr:.4f}",
                       state_bytes=len(bloom.to_bytes()))

    def check_cms(self, res) -> Outcome:
        tbl, cms = res
        keys = tbl.column("key").to_numpy()
        est = tbl.column("est_count").to_numpy()
        order = np.argsort(keys)
        keys, est = keys[order], est[order]
        same = np.array_equal(keys, self.ukeys)
        over = est - self.kcount if same else np.array([-1])
        # count-min never undercounts; it overcounts by more than
        # e/width * n for at most a share e^-depth of the keys
        bound = math.e / self.cms_width * self.n_rows
        share = float(np.mean(over > bound))
        ok = same and over.min() >= 0 and share <= math.exp(-self.cms_depth)
        return Outcome(self.n_rows, ok,
                       f"min over {over.min()}, share over bound {share:.4f}",
                       state_bytes=len(cms.to_bytes()))

    def jobs(self):
        def rank(sketch):
            def call(tr):
                with tr.span("api.rank_build"):
                    out = api.with_quantile_rank(self.df, "x", sketch=sketch)
                with tr.span("api.rank_probe"):
                    return out.select("id", "q_rank").toArrow()
            return call

        def bloom(tr):
            with tr.span("api.rank_build"):
                bf = api.build_bloom(self.members_df, "key",
                                     capacity=self.n_members,
                                     fpr=self.bloom_fpr)
            with tr.span("api.rank_probe"):
                return api.bloom_contains(self.df, "key", bf).select(
                    "id", "member").toArrow(), bf

        def cms(tr):
            with tr.span("api.rank_build"):
                sk = api.build_cms(self.df, "key", depth=self.cms_depth,
                                   width=self.cms_width)
            with tr.span("api.rank_probe"):
                return api.cms_frequencies(sk, self.df, "key").toArrow(), sk

        return [Job("rank_tdigest", rank("tdigest"), self.check_rank),
                Job("rank_kll", rank("kll"), self.check_rank),
                Job("bloom_contains", bloom, self.check_bloom),
                Job("cms_frequencies", cms, self.check_cms)]


# -------------------------------------------------------------- curation

STOPWORDS = ["the", "a", "of", "and", "to", "in", "is", "it"]


def _word_list(rng, n, alphabet, lo, hi):
    words: set[str] = set()
    while len(words) < n:
        size = int(rng.integers(lo, hi + 1))
        words.add("".join(rng.choice(alphabet, size)))
    return sorted(words)


def _grams(doc: np.ndarray, w: int):
    return [tuple(doc[i:i + w]) for i in range(len(doc) - w + 1)]


def jaccard_pairs(docs: dict[int, np.ndarray], w: int, threshold: float):
    """Exact word ``w``-gram set Jaccard of every pair sharing a gram:
    {(id_a, id_b): jaccard} for id_a < id_b and jaccard >= threshold."""
    sets = {i: set(_grams(d, w)) for i, d in docs.items()}
    post = defaultdict(list)
    for i in sorted(sets):
        for g in sets[i]:
            post[g].append(i)
    inter: dict[tuple, int] = defaultdict(int)
    for ids in post.values():
        for a in range(len(ids)):
            for b in range(a + 1, len(ids)):
                inter[(ids[a], ids[b])] += 1
    out = {}
    for (a, b), c in inter.items():
        j = c / (len(sets[a]) + len(sets[b]) - c)
        if j >= threshold:
            out[(a, b)] = j
    return out


def _keep_min_per_component(ids, pairs):
    parent = {i: i for i in ids}

    def find(i):
        while parent[i] != i:
            parent[i] = parent[parent[i]]
            i = parent[i]
        return i

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return [i for i in ids if find(i) == i]


class Curation:
    """A declarative curation pipeline and exact n-gram Jaccard pairs over
    a seeded text corpus with planted junk, exact duplicates, near
    duplicates and boilerplate spans."""

    name = "curation"
    cycle_s = 15.0  # nominal seconds per cycle, 4-core box
    eval_mod = 37  # decontamination eval slice: doc_id % 37 = 0
    seq_len = 512
    minhash_t = 0.8
    ngram_w, ngram_t = 3, 0.5
    n_orig = 800

    def __init__(self, spark, root, seed):
        self.spark, self.seed = spark, seed
        self.path = os.path.join(root, "docs")

    @property
    def spec(self):
        return {"steps": [
            {"op": "quality_filter", "min_score": 0.5},
            {"op": "dedup_exact"},
            {"op": "dedup_minhash", "threshold": self.minhash_t},
            {"op": "decontaminate", "shingle_w": 5,
             "eval_filter": f"doc_id % {self.eval_mod} = 0"},
            {"op": "dedup_spans", "tokens": True, "w": 5},
            {"op": "materialize_packed", "seq_len": self.seq_len,
             "order_col": "doc_id"},
        ]}

    def setup(self):
        rng = _rng(self.seed, self.name)
        letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
        symbols = np.array(list("0123456789#$%&*+=@"))
        vocab = STOPWORDS + _word_list(rng, 3000, letters, 3, 9)
        n_clean = len(vocab)
        vocab += _word_list(rng, 300, symbols, 2, 6)
        boiler = [rng.integers(len(STOPWORDS), n_clean, 10)
                  for _ in range(4)]

        def clean_doc(doc_id):
            n = int(rng.integers(60, 161))
            words = np.where(
                rng.random(n) < 0.25, rng.integers(0, len(STOPWORDS), n),
                rng.integers(len(STOPWORDS), n_clean, n))
            if doc_id % self.eval_mod and rng.random() < 0.15:
                words = np.concatenate(
                    (words, boiler[int(rng.integers(0, 4))]))
            return words

        docs: list[np.ndarray] = []
        junk = set()
        for i in range(self.n_orig):
            if rng.random() < 0.05:
                junk.add(i)
                docs.append(rng.integers(n_clean, len(vocab),
                                         int(rng.integers(20, 61))))
            else:
                docs.append(clean_doc(i))
        clean = [i for i in range(self.n_orig) if i not in junk]
        for src in rng.choice(clean, len(clean) // 16, replace=False):
            docs.append(docs[src].copy())  # exact duplicate
        for src in rng.choice(clean, len(clean) // 16, replace=False):
            d = docs[src].copy()  # near duplicate: one word replaced
            pos = int(rng.integers(0, len(d)))
            d[pos] = len(STOPWORDS) + (d[pos] + 1 - len(STOPWORDS)) % (
                n_clean - len(STOPWORDS))
            docs.append(d)
        self.vocab = np.array(vocab, dtype=object)
        self.junk_from = n_clean
        # ids are creation order (a copy's id exceeds its source's);
        # rows are written shuffled so copies spread over the files
        order = rng.permutation(len(docs))
        ids = order.astype(np.int64)
        texts = [" ".join(self.vocab[docs[i]]) for i in order]
        toks = [docs[i].astype(np.int32) for i in order]
        _write_parquet(self.path, pa.table({
            "doc_id": ids, "text": texts,
            "tokens": pa.array(toks, type=pa.list_(pa.int32())),
        }))
        self.df = self.spark.read.parquet(self.path)

    def reference(self):
        t = pq.read_table(self.path)
        ids = t.column("doc_id").to_numpy()
        toks = [np.asarray(x, dtype=np.int64)
                for x in t.column("tokens").to_pylist()]
        docs = dict(zip(ids.tolist(), toks))
        self.checksum = _checksum(ids, np.concatenate(toks))
        self.ngram = jaccard_pairs(docs, self.ngram_w, self.ngram_t)
        # pipeline, step by step
        quality = sorted(i for i, d in docs.items()
                         if d.max() < self.junk_from)
        first: dict[tuple, int] = {}
        for i in quality:
            first.setdefault(tuple(docs[i]), i)
        exact = sorted(first.values())
        near = jaccard_pairs({i: docs[i] for i in exact}, 3, self.minhash_t)
        minhash = _keep_min_per_component(exact, near)
        eval_grams = {g for i in minhash if i % self.eval_mod == 0
                      for g in _grams(docs[i], 5)}
        decon = [i for i in minhash
                 if not any(g in eval_grams for g in _grams(docs[i], 5))]
        occ: dict[tuple, int] = defaultdict(int)
        for i in decon:
            for g in _grams(docs[i], 5):
                occ[g] += 1
        kept = 0
        for i in decon:
            d = docs[i]
            covered = np.zeros(len(d), dtype=bool)
            for p, g in enumerate(_grams(d, 5)):
                if occ[g] >= 2:
                    covered[p:p + 5] = True
            kept += int((~covered).sum())
        windows = -(-kept // self.seq_len)
        self.step_rows = [len(quality), len(exact), len(minhash),
                          len(decon), len(decon), windows]
        self.packed_tokens = kept
        self.n_docs = len(docs)
        self.input_size = (
            f"{len(docs)} docs ({len(docs) - len(quality)} junk, "
            f"{len(quality) - len(exact)} exact and "
            f"{len(exact) - len(minhash)} near duplicates), "
            f"{sum(len(d) for d in toks)} tokens")
        self.kernel_values = np.concatenate(toks)[:200_000].astype(
            np.float64)

    def check_pipeline(self, res) -> Outcome:
        tbl, rows = res
        n_tok = int(np.sum(tbl.column("n_tokens").to_numpy()))
        seq = tbl.column("seq_id").to_numpy()
        ok = (rows == self.step_rows and n_tok == self.packed_tokens
              and np.array_equal(np.sort(seq), np.arange(len(seq))))
        return Outcome(self.n_docs, ok,
                       f"step rows {rows} vs {self.step_rows}, "
                       f"tokens {n_tok} vs {self.packed_tokens}",
                       counts={"step_rows": rows})

    def check_ngram(self, tbl) -> Outcome:
        got = dict(zip(zip(tbl.column("id_a").to_pylist(),
                           tbl.column("id_b").to_pylist()),
                       tbl.column("jaccard").to_pylist()))
        ok = got.keys() == self.ngram.keys() and all(
            abs(got[k] - v) < 1e-9 for k, v in self.ngram.items())
        return Outcome(self.n_docs, ok,
                       f"{len(got)} pairs vs {len(self.ngram)}",
                       counts={"ngram_pairs": len(got)})

    STEP_SPANS = ["pipeline.quality", "dedup.exact", "dedup.minhash",
                  "dedup.decontaminate", "dedup.spans", "pipeline.pack"]

    def _pipeline(self, tr):
        from pyspark.storagelevel import StorageLevel

        from sketchlib.pipeline import run_pipeline_spec

        pins: list = []
        try:
            if not tr.enabled:
                out, counters = run_pipeline_spec(self.df, self.spec, pins)
                tbl = out.select("seq_id", "n_tokens").toArrow()
                return tbl, [int(o.get["rows"]) for _, o in counters]
            # one step at a time, each output pinned and counted, so
            # every step's work lands in its own span
            df, rows = self.df, []
            for step, name in zip(self.spec["steps"], self.STEP_SPANS):
                with tr.span(name):
                    df, _ = run_pipeline_spec(df, {"steps": [step]}, pins)
                    df = df.persist(StorageLevel.MEMORY_AND_DISK)
                    pins.append(df)
                    rows.append(df.count())
            return df.select("seq_id", "n_tokens").toArrow(), rows
        finally:
            for p in pins:
                p.unpersist()

    def _ngram(self, tr):
        from sketchlib.dedup.ngram import ngram_jaccard_pairs

        with tr.span("dedup.ngram"):
            return ngram_jaccard_pairs(
                self.df.select("doc_id", "text"), w=self.ngram_w,
                threshold=self.ngram_t, hash_grams=True).toArrow()

    def _release(self):
        # minhash and n-gram dedup leave their per-call working frames
        # persisted; a repeat call on the same input would reuse them
        self.spark.catalog.clearCache()

    def jobs(self):
        return [Job("pipeline_spec", self._pipeline, self.check_pipeline,
                    self._release),
                Job("ngram_jaccard_pairs", self._ngram, self.check_ngram,
                    self._release)]

    def census(self, tr):
        """LSH candidate and verified pair counts of the minhash step,
        over the exact-deduplicated corpus, measured once."""
        from sketchlib.dedup.minhash import (
            lsh_candidate_pairs,
            minhash_near_duplicates,
            minhash_signatures,
        )
        from sketchlib.pipeline import run_pipeline_spec

        base, _ = run_pipeline_spec(
            self.df, {"steps": self.spec["steps"][:2]})
        with tr.span("dedup.lsh_census"):
            sig = minhash_signatures(base, col="text", id_col="doc_id")
            cands = lsh_candidate_pairs(sig, num_perm=64).count()
            verified = minhash_near_duplicates(
                base, threshold=self.minhash_t).count()
        self._release()
        tr.count("dedup.lsh_candidates", cands)
        tr.count("dedup.lsh_verified", verified)


WORKLOADS = {w.name: w for w in (TokenScan, GroupedSkew, RankProbe, Curation)}
