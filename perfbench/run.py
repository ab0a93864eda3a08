"""sketchlib benchmark driver: one workload, one seed, one closed loop.

    python3 perfbench/run.py --workload token_scan --seed 1 --seconds 10 \
        --trace 0

One driver process on ``local[nproc]`` and one caller: each job is one
library call (its result materialized) plus a check against exact
reference answers, and the next job starts when the previous returns.
Jobs run in cycles, one pass over the workload's jobs each; a run
times --seconds / (the workload's nominal cycle time) whole cycles, so
every run measures the same jobs.  The last stdout line is one JSON
object; with ``--trace 0`` it carries the end-to-end metrics, with
``--trace 1`` the per-layer metrics of a traced run (see
perfbench/README.md)."""

from __future__ import annotations

import time

T0 = time.monotonic()  # before any heavy import: setup_s starts here

import argparse  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import traceback  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# The driver JVM's heap, fixed and pre-touched.  With the library's
# default (an 8 GB heap grown on demand) the process tree's peak RSS
# moves by a quarter from run to run with garbage-collection timing;
# fixed, the heap is a constant that peak_rss_mb leaves out.
HEAP_MB = 2048

END_TO_END = {
    "setup_s": "s",
    "items_per_s": "1/s",
    "job_p50_s": "s",
    "job_tail_s": "s",
    "peak_rss_mb": "MB",
}

# per-layer metric -> unit; every traced run emits all of them, 0 where
# the workload does not reach the layer.  Times and counts are per
# cycle (one pass over the workload's jobs) unless the unit says
# otherwise.
PER_LAYER = {}
for _kind in ("tdigest", "kll", "hll", "bloom", "cms"):
    PER_LAYER[f"core.update_values_per_s.{_kind}"] = "1/s"
    PER_LAYER[f"core.merge_us.{_kind}"] = "us"
    PER_LAYER[f"core.query_us.{_kind}"] = "us"
    PER_LAYER[f"core.serde_us.{_kind}"] = "us"
    PER_LAYER[f"core.state_bytes.{_kind}"] = "bytes"
for _layer in ("direct", "aggregate"):
    PER_LAYER[f"{_layer}.partial_s"] = "s"
    PER_LAYER[f"{_layer}.task_busy_s"] = "s"
    PER_LAYER[f"{_layer}.values"] = "count"
    PER_LAYER[f"{_layer}.partials"] = "count"
    PER_LAYER[f"{_layer}.partial_bytes"] = "bytes"
PER_LAYER.update({
    "aggregate.merge_s": "s",
    "aggregate.merge_levels": "count",
    "aggregate.group_state_rows": "count",
    "aggregate.group_state_bytes": "bytes",
    "serde.from_bytes_s": "s",
    "api.rank_build_s": "s",
    "api.rank_probe_s": "s",
    "api.query_s": "s",
    "pipeline.quality_s": "s",
    "dedup.exact_s": "s",
    "dedup.minhash_s": "s",
    "dedup.decontaminate_s": "s",
    "dedup.spans_s": "s",
    "pipeline.pack_s": "s",
    "dedup.ngram_s": "s",
    "dedup.lsh_candidates": "count",
    "dedup.lsh_verified": "count",
    "dedup.lsh_yield": "ratio",
    "dedup.ngram_pairs": "count",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.shuffle_read_bytes": "bytes",
    "spark.shuffle_write_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "spark.gc_s": "s",
    "spark.task_skew": "ratio",
    "spark.failed_tasks": "count",
    "trace.overhead_s": "s",
    "trace.overhead_frac": "ratio",
})

# span name -> per-layer time metric (per cycle)
SPAN_METRICS = {
    "direct.partials": "direct.partial_s",
    "aggregate.partials": "aggregate.partial_s",
    "aggregate.merge": "aggregate.merge_s",
    "serde.from_bytes": "serde.from_bytes_s",
    "api.rank_build": "api.rank_build_s",
    "api.rank_probe": "api.rank_probe_s",
    "api.query": "api.query_s",
    "pipeline.quality": "pipeline.quality_s",
    "dedup.exact": "dedup.exact_s",
    "dedup.minhash": "dedup.minhash_s",
    "dedup.decontaminate": "dedup.decontaminate_s",
    "dedup.spans": "dedup.spans_s",
    "pipeline.pack": "pipeline.pack_s",
    "dedup.ngram": "dedup.ngram_s",
}
# loop counters -> per-layer metric of the same name (per cycle)
COUNTERS = [f"{layer}.{c}" for layer in ("direct", "aggregate")
            for c in ("values", "partials", "partial_bytes", "task_busy_s")]


def process_age() -> float:
    """Seconds since this process started, from /proc."""
    with open("/proc/self/stat") as f:
        start = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start / os.sysconf("SC_CLK_TCK")


def tail(times: list[float]) -> tuple[float, float]:
    """(value, percentile) of the highest percentile with at least ten
    samples beyond it.  Below 20 samples that percentile would lie below
    the median, so the tail is the maximum."""
    s = sorted(times)
    k = len(s) - 10
    if 2 * k < len(s):
        return s[-1], 100.0
    return s[k - 1], 100.0 * k / len(s)


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True,
                    choices=["token_scan", "grouped_skew", "rank_probe",
                             "curation"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return ap.parse_args(argv)


def start_spark(tmp: str):
    from sketchlib.spark.session import get_spark

    cores = len(os.sched_getaffinity(0))
    spark = get_spark(
        master=f"local[{cores}]", app_name="perfbench",
        extra_conf={
            "spark.driver.memory": f"{HEAP_MB}m",
            "spark.driver.extraJavaOptions":
                f"-Xms{HEAP_MB}m -XX:+AlwaysPreTouch -XX:-UsePerfData "
                f"-Djava.io.tmpdir={tmp}",
            "spark.local.dir": tmp,
            "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def adopt_orphans() -> None:
    """Make this process the reaper of its orphaned descendants.  When
    the JVM exits before the Python worker daemon it started, the daemon
    and its workers are reparented here rather than to init, so
    ``end_children`` still sees, waits for and reaps them."""
    import ctypes

    PR_SET_CHILD_SUBREAPER = 36
    ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1,
                                            0, 0, 0)


def _reap() -> None:
    """Collect the exit status of every child that has ended."""
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def end_children(grace: float) -> None:
    """Wait until every descendant of this process has exited and been
    reaped.  After ``grace`` seconds what is left gets SIGTERM, and five
    seconds later SIGKILL."""
    from perfbench.tracing import tree_pids

    deadline = time.monotonic() + grace
    sig = None
    while True:
        _reap()
        left = tree_pids(os.getpid())[1:]
        if not left:
            return
        if time.monotonic() > deadline:
            if sig == signal.SIGKILL:
                print(f"perfbench: processes {left} outlived SIGKILL",
                      file=sys.stderr)
                return
            sig = signal.SIGKILL if sig else signal.SIGTERM
            for pid in left:
                try:
                    os.kill(pid, sig)
                except ProcessLookupError:
                    pass
            deadline = time.monotonic() + 5
        time.sleep(0.05)


def stop_spark(spark) -> None:
    """Stop Spark, then the gateway JVM, and wait for the JVM to exit."""
    sc = spark.sparkContext
    gateway = sc._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(60)


SIGNALS = (signal.SIGTERM, signal.SIGINT, signal.SIGHUP)


def _terminate(signum, frame):
    # unwind through main's clean-up, which stops every child process
    sys.exit(128 + signum)


def _figures(out):
    """The parts of an outcome that depend only on the inputs."""
    return (out.state_bytes, out.rank_err, out.distinct_err, out.counts)


class Runner:
    """The closed loop over one workload's jobs."""

    def __init__(self, spark, workload, trace: bool):
        from perfbench.tracing import Tracer

        self.sc = spark.sparkContext
        self.jobs = workload.jobs()
        self.plain = Tracer(False)
        self.tracer = Tracer(True, self.sc)
        self.trace = trace
        self.records = []  # (job name, traced, seconds, Outcome)
        self.seq = 0

    def run_job(self, job, traced: bool):
        from perfbench.workloads import Outcome

        tr = self.tracer if traced else self.plain
        self.seq += 1
        tr.job = f"{self.seq}-{job.name}"
        self.sc.setJobGroup(f"pb-{tr.job}", job.name)
        t = time.monotonic()
        try:
            with tr.span(f"bench.{job.name}"):
                res = job.call(tr)
            dt = time.monotonic() - t
            out = job.check(res)
        except Exception as exc:  # a failed job is counted, not fatal
            dt = time.monotonic() - t
            traceback.print_exc()
            out = Outcome(0, False, f"raised {type(exc).__name__}")
        finally:
            if job.cleanup is not None:
                job.cleanup()
        if traced and out.ok:
            # the layer-by-layer calls must give the public call's answer
            twin = [r[3] for r in self.records if r[0] == job.name][-1]
            if _figures(out) != _figures(twin):
                out.ok, out.detail = False, f"traced {out.detail} differs"
        if not out.ok:
            print(f"FAILED {job.name}: {out.detail}", file=sys.stderr)
        self.records.append((job.name, traced, dt, out))

    def loop(self, cycles: int) -> None:
        for _ in range(cycles):
            for job in self.jobs:
                self.run_job(job, False)
                if self.trace:
                    self.run_job(job, True)


def end_to_end(runner, setup_s, peak_rss) -> tuple[dict, dict]:
    """(metrics for the JSON line, extra figures for the table)."""
    plain = [r for r in runner.records if not r[1]]
    times = [r[2] for r in plain]
    outs = [r[3] for r in plain]
    value, pct = tail(times)
    metrics = {
        "setup_s": setup_s,
        "items_per_s": sum(o.items for o in outs if o.ok) / sum(times),
        "job_p50_s": statistics.median(times),
        "job_tail_s": value,
        "peak_rss_mb": peak_rss / 2**20 - HEAP_MB,
    }
    ranks = [o.rank_err for o in outs if o.rank_err is not None]
    dists = [o.distinct_err for o in outs if o.distinct_err is not None]
    sizes = [o.state_bytes for o in outs if o.state_bytes]
    extra = {
        "job_tail_percentile": pct,
        "jobs_timed": len(times),
        "rank_err_max": max(ranks) if ranks else None,
        "distinct_rel_err": max(dists) if dists else None,
        "state_bytes": statistics.mean(sizes) if sizes else None,
        "failed_frac": sum(not o.ok for o in outs) / len(outs),
    }
    return metrics, extra


def per_layer(runner, cycles, census, kernel) -> dict:
    from perfbench.tracing import spark_stage_metrics, summarize_stages

    tr = runner.tracer
    m = {name: 0.0 for name in PER_LAYER}
    m.update(kernel)
    for span, metric in SPAN_METRICS.items():
        m[metric] += tr.seconds(span) / cycles
    for c in COUNTERS:
        m[c] += tr.counts.get(c, 0.0) / cycles
    for c, v in census.counts.items():
        m[c] += v
    cands = m["dedup.lsh_candidates"]
    m["dedup.lsh_yield"] = m["dedup.lsh_verified"] / cands if cands else 0.0
    traced = [r for r in runner.records if r[1]]
    pairs = [o.counts["ngram_pairs"] for _, _, _, o in traced
             if "ngram_pairs" in o.counts]
    m["dedup.ngram_pairs"] = pairs[-1] if pairs else 0.0

    groups = {s["group"]: s["name"] for s in tr.spans}
    jobs, stages = spark_stage_metrics(runner.sc, set(groups))
    spark = summarize_stages(jobs, stages)
    for k, v in spark.items():
        scale = 1 if k in ("task_skew", "failed_tasks") else cycles
        m[f"spark.{k}"] = v / scale
    # grouped merges run in executors: their time is the run time of the
    # shuffle-reading stages under the grouped calls, one stage a level
    grouped = [s for s in stages if groups[s["group"]].startswith(
        "api.grouped_") and s["shuffleReadBytes"] > 0]
    calls = sum(1 for s in tr.spans if s["name"].startswith("api.grouped_"))
    if calls:
        m["aggregate.merge_s"] += sum(
            s["executorRunTime"] for s in grouped) / 1e3 / cycles
        m["aggregate.merge_levels"] = len(grouped) / calls

    by_job: dict[str, list] = {}
    for name, traced, dt, _ in runner.records:
        by_job.setdefault(name, [[], []])[traced].append(dt)
    plain = sum(statistics.median(v[0]) for v in by_job.values())
    m["trace.overhead_s"] = sum(statistics.median(v[1]) - statistics.median(
        v[0]) for v in by_job.values())
    m["trace.overhead_frac"] = m["trace.overhead_s"] / plain
    return m


def print_jobs(runner) -> None:
    """One line per job: runs, median seconds, last check detail."""
    for job in runner.jobs:
        recs = [r for r in runner.records if r[0] == job.name and not r[1]]
        print(f"    {job.name:24s} x{len(recs):<4d} "
              f"{statistics.median(r[2] for r in recs):8.4f} s  "
              f"{recs[-1][3].detail}")


def print_span_table(tr, cycles) -> None:
    self_t = tr.self_times()
    calls: dict[str, int] = {}
    total: dict[str, float] = {}
    for s in tr.spans:
        calls[s["name"]] = calls.get(s["name"], 0) + 1
        total[s["name"]] = total.get(s["name"], 0.0) + s["end"] - s["start"]
    print(f"{'span':34s} {'calls':>6s} {'total_s/cycle':>14s} "
          f"{'self_s/cycle':>13s}")
    for name in sorted(total):
        print(f"{name:34s} {calls[name]:6d} {total[name] / cycles:14.4f} "
              f"{self_t[name] / cycles:13.4f}")


def fmt(v) -> str:
    if v is None:
        return "n/a"
    if isinstance(v, float) and not v.is_integer():
        return f"{v:.6g}"
    return str(int(v))


def main(argv=None) -> int:
    pre = process_age() - (time.monotonic() - T0)
    args = parse_args(argv)
    sys.path.insert(0, ROOT)  # the library and this package, from source
    try:
        import sketchlib  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: cannot import the library: {exc}", file=sys.stderr)
        return 2
    from perfbench.kernels import replay
    from perfbench.tracing import RssSampler, Tracer
    from perfbench.workloads import WORKLOADS

    out_dir = os.path.join(ROOT, ".perfbench")
    work = os.path.join(out_dir, f"{args.workload}-{args.seed}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["PYSPARK_PYTHON"] = sys.executable
    # no JVM, the launcher's included, writes /tmp/hsperfdata_<user>
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    # Python workers import the library from the same source tree
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(
            os.pathsep) if p])
    tempfile.tempdir = tmp
    adopt_orphans()
    for signum in SIGNALS:
        signal.signal(signum, _terminate)
    spark = None
    try:
        phases = {"imports": time.monotonic()}
        spark = start_spark(tmp)
        phases["spark"] = time.monotonic()
        w = WORKLOADS[args.workload](spark, os.path.join(work, "in"),
                                     args.seed)
        w.setup()
        phases["inputs"] = time.monotonic()
        w.reference()  # exact answers: excluded from setup_s
        phases["reference"] = time.monotonic()
        runner = Runner(spark, w, bool(args.trace))
        # a fixed number of cycles for a given --seconds, so that sample
        # counts, and the percentile job_tail_s reports, do not change
        # with machine speed
        cycles = max(1, round(args.seconds / w.cycle_s))
        for job in runner.jobs:  # warm-up cycle: lazy set-up, caches
            runner.run_job(job, False)
        runner.records.clear()
        phases["warm-up"] = time.monotonic()
        ref_s = phases["reference"] - phases["inputs"]
        setup_s = pre + phases["warm-up"] - T0 - ref_s
        with RssSampler() as rss:
            runner.loop(cycles)
        e2e, extra = end_to_end(runner, setup_s, rss.peak)

        cores = spark.sparkContext.defaultParallelism
        print(f"workload {w.name}: {w.input_size}; local[{cores}], "
              f"{cycles} cycles of {len(runner.jobs)} jobs, seed {args.seed}")
        marks = [T0 - pre] + list(phases.values())
        print("  setup phases (s): " + ", ".join(
            f"{k} {marks[i + 1] - marks[i]:.2f}"
            for i, k in enumerate(phases))
            + " (reference excluded from setup_s)")
        for name, unit in END_TO_END.items():
            print(f"  {name:22s} {fmt(e2e[name]):>14s} {unit}")
        pct = fmt(extra["job_tail_percentile"])
        print(f"  {'job_tail_percentile':22s} {pct:>14s} "
              f"(of {extra['jobs_timed']} timed jobs)")
        for name, unit in (("rank_err_max", "rank share"),
                           ("distinct_rel_err", "ratio"),
                           ("state_bytes", "bytes"),
                           ("failed_frac", "ratio")):
            print(f"  {name:22s} {fmt(extra[name]):>14s} {unit}")
        print_jobs(runner)

        metrics = e2e
        if args.trace:
            census = Tracer(True, spark.sparkContext)
            census.job = "census"
            if hasattr(w, "census"):
                w.census(census)
            kernel = replay(w.kernel_values)
            metrics = per_layer(runner, cycles, census, kernel)
            print_span_table(runner.tracer, cycles)
            for name, unit in PER_LAYER.items():
                print(f"  {name:34s} {fmt(metrics[name]):>14s} {unit}")
            os.makedirs(os.path.join(out_dir, "traces"), exist_ok=True)
            runner.tracer.dump(os.path.join(
                out_dir, "traces", f"{args.workload}-seed{args.seed}.json"))
        units = PER_LAYER if args.trace else END_TO_END
        failed = sum(not r[3].ok for r in runner.records)
        result = {
            "correct": failed == 0,
            "attempted": len(runner.records),
            "failed": failed,
            "metrics": {k: {"value": float(metrics[k]), "unit": u}
                        for k, u in units.items()},
        }
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        for signum in SIGNALS:  # a second signal must not cut this short
            signal.signal(signum, signal.SIG_IGN)
        try:
            if spark is not None:
                stop_spark(spark)
        except Exception:
            traceback.print_exc()
        # a JVM left by a failed start gets no stop call: no grace for it
        end_children(60 if spark is not None else 0)
        shutil.rmtree(work, ignore_errors=True)
    bad = [k for k, v in result["metrics"].items()
           if not math.isfinite(v["value"])]
    if bad:
        print(f"perfbench: non-finite metrics {bad}", file=sys.stderr)
        return 1
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
