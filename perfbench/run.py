"""The repo benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload ann_query --seed 1 --seconds 15 --trace 0

Run from the root of a checkout. Inputs are generated from --seed and
written as Parquet under .perfbench_work/; the program sees only those
files. One get_session(cpus=nproc) session, every other setting at the
program's default, and one closed-loop client. The last line of stdout
is the JSON result; with --trace 0 it holds the end-to-end metrics, with
--trace 1 the per-layer metrics from the spans. A record of the run
(result, effective configuration, sample counts) goes to
.perfbench_out/runs/ and a traced run's spans to .perfbench_out/spans/.
See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time
import traceback
import uuid
from contextlib import contextmanager

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "vector_search_test_spark"

# A run must end within this many seconds, even when Spark hangs.
WATCHDOG_S = 175
RSS_SAMPLE_S = 0.25

# (name, unit, better); BENCHMARK.json lists the same metrics
END_TO_END = [
    ("setup_s", "s", "lower"),
    ("request_p50_ms", "ms", "lower"),
    ("throughput_per_s", "1/s", "higher"),
    ("quality_ratio", "ratio", "higher"),
]

PER_LAYER = [
    ("session.get_session.s", "s", "lower"),
    ("ivf.ivf_build.s", "s", "lower"),
    ("ivf.ivf_save.s", "s", "lower"),
    ("ivf.ivf_save.files", "count", "lower"),
    ("ivf.ivf_save.bytes_per_vector", "B", "lower"),
    ("ivf.ivf_append.s", "s", "lower"),
    ("ivf.ivf_append.files", "count", "lower"),
    ("ivf.ivf_load.s", "s", "lower"),
    ("ivf.ivf_search.s", "s", "lower"),
    ("ivf.ivf_search.tail_s", "s", "lower"),
    ("ivf.ivf_search.jobs", "count", "lower"),
    ("ivf.ivf_search.stages", "count", "lower"),
    ("ivf.ivf_search.tasks", "count", "lower"),
    ("ivf.ivf_search.cpu_util", "ratio", "higher"),
    ("ivf.ivf_search.rows_scanned_per_result", "count", "lower"),
    ("ivf.ivf_search_all.s", "s", "lower"),
    ("ivf.ivf_search_all.stages", "count", "lower"),
    ("ivf.ivf_search_all.tasks", "count", "lower"),
    ("ivf.ivf_search_all.cpu_util", "ratio", "higher"),
    ("ivf.ivf_search_all.rows_scanned_per_result", "count", "lower"),
    ("embed.embed_text.s", "s", "lower"),
    ("embed.embed_text.tasks", "count", "lower"),
    ("embed.embed_text.cpu_util", "ratio", "higher"),
    ("cluster.similarity_clusters.s", "s", "lower"),
    ("cluster.similarity_clusters.jobs", "count", "lower"),
    ("cluster.similarity_clusters.cpu_util", "ratio", "higher"),
    ("cluster.similarity_clusters.clustered_ratio", "ratio", "higher"),
    ("curate.curate_corpus.s", "s", "lower"),
    ("curate.curate_corpus.jobs", "count", "lower"),
    ("curate.curate_corpus.kept_ratio", "ratio", "lower"),
    ("curate.quality_exact_dedup.s", "s", "lower"),
    ("curate.near_dedup.s", "s", "lower"),
    ("curate.decontam.s", "s", "lower"),
    ("curate.tail.s", "s", "lower"),
    ("spark.failed_tasks", "count", "lower"),
    ("bench.unit.self_s", "s", "lower"),
    ("trace.overhead_pct", "%", "lower"),
    ("process.peak_rss_mb", "MB", "lower"),
]


class Op:
    """One attempted operation; a failed output check fails it."""

    def __init__(self):
        self.reasons: list[str] = []

    def fail(self, reason: str) -> None:
        self.reasons.append(reason)

    def check(self, reason: str | None) -> None:
        if reason is not None:
            self.fail(reason)


class Context:
    def __init__(self, seed: int, work: str, tracer):
        self.seed = seed
        self.work = work
        self.tracer = tracer
        self.spark = None
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.requests: list[float] = []  # seconds per request
        self.rates: list[float] = []  # items per second, one per bulk operation
        self.quality_num = 0.0
        self.quality_den = 0

    def path(self, name: str) -> str:
        return os.path.join(self.work, name)

    def add_quality(self, num: float, den: int = 1) -> None:
        self.quality_num += num
        self.quality_den += den

    @contextmanager
    def op(self):
        op = Op()
        self.attempted += 1
        try:
            yield op
        except Exception:
            op.fail(traceback.format_exc(limit=4))
        if op.reasons:
            self.failed += 1
            self.errors.extend(op.reasons)
            print("operation failed: " + "; ".join(op.reasons), file=sys.stderr)


class RssSampler(threading.Thread):
    """Peak resident memory of the whole process tree, sampled."""

    def __init__(self):
        super().__init__(daemon=True)
        self.peak = 0
        self._halt = threading.Event()

    def run(self) -> None:
        from spans import tree_rss_bytes

        while not self._halt.is_set():
            self.peak = max(self.peak, tree_rss_bytes())
            self._halt.wait(RSS_SAMPLE_S)

    def stop(self) -> int:
        self._halt.set()
        self.join()
        return self.peak


def _descendants() -> list[int]:
    from spans import tree_pids

    return [p for p in tree_pids(os.getpid()) if p != os.getpid()]


def _kill_tree() -> None:
    for pid in _descendants():
        try:
            os.kill(pid, signal.SIGKILL)
        except OSError:
            pass


def _watchdog() -> None:
    print(f"run exceeded {WATCHDOG_S} s; killing it", file=sys.stderr)
    _kill_tree()
    os._exit(3)


def source_revision() -> dict:
    """The program's source identity: a digest of the package's files
    (a checkout need not be a git repository) and the git commit when
    there is one."""
    h = hashlib.sha256()
    pkg = os.path.join(ROOT, PACKAGE)
    for dirpath, dirs, files in os.walk(pkg):
        dirs.sort()
        for f in sorted(files):
            if f.endswith(".py"):
                p = os.path.join(dirpath, f)
                h.update(os.path.relpath(p, ROOT).encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    rev = {"source_sha256": h.hexdigest()[:16], "git_commit": None}
    if os.path.isdir(os.path.join(ROOT, ".git")):
        try:
            out = subprocess.run(
                ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                text=True, timeout=10,
            )
            rev["git_commit"] = out.stdout.strip() or None
        except (OSError, subprocess.TimeoutExpired):
            pass
    return rev


def layer_metrics(spans, cores: int, overhead_s: float, wall_s: float,
                  peak_rss: int) -> dict:
    """Every per-layer metric from the spans: a median per call, or a
    ratio of summed counts. A layer the workload never calls reads 0."""
    from spans import cpu_util, self_times
    from stats import percentile, tail_percentile

    by: dict[str, list] = {}
    for s in spans:
        by.setdefault(s.name, []).append(s)

    def med(name, f=lambda s: s.duration):
        vals = [f(s) for s in by.get(name, [])]
        return statistics.median(vals) if vals else 0.0

    def count(key):
        return lambda s: s.counts.get(key, 0)

    def ratio(name, num, den):
        d = sum(s.counts.get(den, 0) for s in by.get(name, []))
        return sum(s.counts.get(num, 0) for s in by.get(name, [])) / d if d else 0.0

    def util(s):
        return cpu_util(s, cores)

    searches = [s.duration for s in by.get("ivf.ivf_search", [])]
    tail_q = tail_percentile(len(searches))
    selfs = self_times(spans)
    out = {
        "session.get_session.s": med("session.get_session"),
        "ivf.ivf_save.bytes_per_vector": ratio("ivf.ivf_save", "bytes", "vectors"),
        "ivf.ivf_search.tail_s": percentile(searches, tail_q) if tail_q else 0.0,
        "ivf.ivf_search.rows_scanned_per_result": ratio("ivf.ivf_search", "rows_scanned", "results"),
        "ivf.ivf_search_all.rows_scanned_per_result": ratio(
            "ivf.ivf_search_all", "rows_scanned", "results"),
        "spark.failed_tasks": sum(s.counts.get("failed_tasks", 0) for s in spans),
        "bench.unit.self_s": med("bench.unit", lambda s: selfs[s.span_id]),
        "trace.overhead_pct": 100.0 * overhead_s / wall_s,
        "process.peak_rss_mb": peak_rss / 2**20,
    }
    for name, _, _ in PER_LAYER:
        if name in out:
            continue
        layer, _, what = name.rpartition(".")
        if what == "s":
            out[name] = med(layer)
        elif what == "cpu_util":
            out[name] = med(layer, util)
        else:
            out[name] = med(layer, count(what))
    return out


def end_to_end_metrics(ctx, setup_s: float) -> dict:
    return {
        "setup_s": setup_s,
        "request_p50_ms": 1000.0 * statistics.median(ctx.requests) if ctx.requests else 0.0,
        "throughput_per_s": statistics.median(ctx.rates) if ctx.rates else 0.0,
        "quality_ratio": ctx.quality_num / ctx.quality_den if ctx.quality_den else 0.0,
    }


def stop_spark(spark) -> None:
    """Stop the session, then the gateway JVM and its Python workers,
    and wait until each has ended."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    kids = _descendants()
    spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits when its stdin closes
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    deadline = time.monotonic() + 10
    alive = [p for p in kids if os.path.exists(f"/proc/{p}")]
    while alive and time.monotonic() < deadline:
        time.sleep(0.1)
        alive = [p for p in alive if os.path.exists(f"/proc/{p}")]
    for pid in alive:
        try:
            os.kill(pid, signal.SIGKILL)
        except OSError:
            pass


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"{PACKAGE}/ not found next to perfbench/; run from a checkout of the repo",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from spans import Timer, Tracer, write_spans
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    watchdog = threading.Timer(WATCHDOG_S, _watchdog)
    watchdog.daemon = True
    watchdog.start()

    run_id = uuid.uuid4().hex[:12]
    work = os.path.join(ROOT, ".perfbench_work", run_id)
    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(work)
    # Python workers import the package from the checkout; every scratch
    # file Spark, the JVM and Python write stays inside the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.makedirs(os.environ["TMPDIR"])
    # -XX:-UsePerfData: the JVM would otherwise write /tmp/hsperfdata_*
    os.environ["JAVA_TOOL_OPTIONS"] = (
        os.environ.get("JAVA_TOOL_OPTIONS", "")
        + f" -Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData"
    ).strip()

    cores = len(os.sched_getaffinity(0))
    tracer = (Tracer if args.trace else Timer)(run_id)
    ctx = Context(args.seed, work, tracer)
    wl = WORKLOADS[args.workload]()
    # peak memory is a per-layer metric; untraced runs skip the sampler,
    # whose /proc scans would compete with the client for the driver
    sampler = RssSampler() if args.trace else None
    if sampler:
        sampler.start()
    spark = None
    try:
        wl.prepare(ctx)  # input generation: not part of set-up time
        t_run = time.perf_counter()
        from vector_search_test_spark.session import get_session

        with tracer.span("session.get_session") as sess:
            spark = get_session(
                cpus=cores, extra_conf={"spark.ui.showConsoleProgress": "false"})
        tracer.attach(spark)
        ctx.spark = spark
        setup_s = sess.duration + wl.setup(ctx)
        tracer.flush()
        deadline = time.perf_counter() + args.seconds
        i = 0
        while time.perf_counter() < deadline:
            wl.step(ctx, i)
            i += 1
            tracer.flush()
        tracer.finish()
        wall_s = time.perf_counter() - t_run
        sc = spark.sparkContext
        config = {
            "workload": args.workload,
            "seed": args.seed,
            "seconds": args.seconds,
            "trace": args.trace,
            "master": sc.master,
            "default_parallelism": sc.defaultParallelism,
            "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
            "cores": cores,
            "params": wl.params,
            **source_revision(),
        }
    finally:
        if spark is not None:
            stop_spark(spark)
        peak_rss = sampler.stop() if sampler else 0
        shutil.rmtree(work, ignore_errors=True)
    watchdog.cancel()

    if args.trace:
        metrics = layer_metrics(tracer.spans, cores, tracer.overhead_s, wall_s, peak_rss)
        units = {n: u for n, u, _ in PER_LAYER}
    else:
        metrics = end_to_end_metrics(ctx, setup_s)
        units = {n: u for n, u, _ in END_TO_END}
    result = {
        "correct": ctx.failed == 0,
        "attempted": ctx.attempted,
        "failed": ctx.failed,
        "metrics": {n: {"value": metrics[n], "unit": units[n]} for n in units},
    }
    samples = {"requests": len(ctx.requests), "loop_steps": i,
               "quality_den": ctx.quality_den, "setup_s": setup_s,
               "request_s": [round(x, 4) for x in ctx.requests],
               "rates": [round(x, 3) for x in ctx.rates]}
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}-{run_id}"
    os.makedirs(os.path.join(out_dir, "runs"), exist_ok=True)
    with open(os.path.join(out_dir, "runs", tag + ".json"), "w") as f:
        json.dump({"config": config, "samples": samples, "errors": ctx.errors[:20],
                   "result": result}, f, indent=1)
    if args.trace:
        os.makedirs(os.path.join(out_dir, "spans"), exist_ok=True)
        write_spans(os.path.join(out_dir, "spans", tag + ".jsonl"), tracer.spans)

    print("config " + json.dumps(config, sort_keys=True))
    print("samples " + json.dumps(samples))
    for n, m in result["metrics"].items():
        print(f"{n} {m['value']:.6g} {m['unit']}")
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
