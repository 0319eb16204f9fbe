#!/usr/bin/env python3
"""h2spark extraction benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload readme_pages --seed 1 --seconds 6 --trace 0

Run from the repository root. One driver process starts Spark as
``local[<nproc>]`` and submits one pass at a time (a closed loop) for
``--seconds``; every pass's output is checked against the generator's
expected values and the run exits non-zero on any failure.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` prints the
per-layer metrics and writes its spans to ``perfbench/.work/``. Earlier
stdout lines give each metric by name and a ``RECORD`` line with the
seed and environment stamp; the last line is the result object.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import tempfile
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
# checked before h2spark and pyspark are imported, so a wrong name fails
# at once; workloads.WORKLOADS maps the same names to their classes
WORKLOAD_NAMES = ("readme_pages", "tiny_docs", "resume_job")
SETUPS = 3  # setup_s is the median of this many full set-ups


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0], allow_abbrev=False)
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=10.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    if args.workload not in WORKLOAD_NAMES:
        p.error(f"unknown workload {args.workload!r}; expected one of "
                f"{', '.join(WORKLOAD_NAMES)}")
    return args


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def env_stamp(cpus: int) -> dict:
    import pyarrow
    import pyspark

    commit = None
    if os.path.isdir(os.path.join(ROOT, ".git")):
        r = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"],
                           capture_output=True, text=True, timeout=30)
        commit = r.stdout.strip() or None
    h = hashlib.sha256()
    for base in ("h2spark", "perfbench"):
        for d, _, fs in sorted(os.walk(os.path.join(ROOT, base))):
            for f in sorted(fs):
                if f.endswith(".py"):
                    with open(os.path.join(d, f), "rb") as fh:
                        h.update(f.encode() + fh.read())
    return {
        "cpus": cpus, "git_commit": commit, "source_sha256": h.hexdigest()[:16],
        "python": platform.python_version(), "pyspark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
    }


# --- memory of the driver JVM and its Python workers -----------------------

def _tree_rss_bytes(root_pid: int) -> int:
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        children.setdefault(ppid, []).append(int(name))
    total, todo = 0, [root_pid]
    while todo:
        pid = todo.pop()
        # proportional set size: pages the forked Python workers share
        # with their daemon count once, not once per worker
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1]) * 1024
                        break
        except OSError:
            pass
        todo.extend(children.get(pid, ()))
    return total


class RssSampler:
    """Samples the summed RSS of a process tree every ``interval`` s."""

    def __init__(self, root_pid: int, interval: float = 0.05):
        self.root_pid, self.interval, self.peak = root_pid, interval, 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while True:
            self.peak = max(self.peak, _tree_rss_bytes(self.root_pid))
            if self._stop.wait(self.interval):
                return

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)


# --- Spark session ---------------------------------------------------------

def start_spark(cpus: int):
    from h2spark.pipeline.session import get_spark

    return get_spark(
        "perfbench", master=f"local[{cpus}]", shuffle_partitions=max(2 * cpus, 8),
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.memory": "2g",
            "spark.local.dir": os.environ["TMPDIR"],
            "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        },
    )


def stop_jvm() -> None:
    """Stop the gateway JVM this process launched and wait for it."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None) if gw is not None else None
    if gw is not None:
        gw.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        try:
            proc.stdin.close()
            proc.wait(timeout=30)
        except (OSError, subprocess.TimeoutExpired):
            proc.kill()
            proc.wait(timeout=30)


def warm_up(spark, cpus: int) -> None:
    """Start the Python workers and import the engine in each."""
    from pyspark.sql import functions as F

    from h2spark.fixtures import corpus_df
    from h2spark.golden import PAGE_SPEC
    from h2spark.pipeline.kernel import extract_spans_arrow

    docs = corpus_df(spark, 32 * cpus, n_partitions=cpus)
    extract_spans_arrow(docs, PAGE_SPEC).agg(F.count("error")).collect()


def setup(name: str, seed: int, cpus: int):
    """One full set-up: session start, worker warm-up, input generation
    and write. Returns (spark, workload, seconds)."""
    from workloads import WORKLOADS

    t0 = time.perf_counter()
    spark = start_spark(cpus)
    spark.sparkContext.setLogLevel("ERROR")
    warm_up(spark, cpus)
    wl = WORKLOADS[name](spark, WORK, seed, cpus)
    wl.setup()
    return spark, wl, time.perf_counter() - t0


def timed_passes(wl, seconds: float, min_passes: int = 3) -> list[dict]:
    passes, t_end = [], time.perf_counter() + seconds
    while len(passes) < min_passes or time.perf_counter() < t_end:
        passes.append(wl.run_pass())
    return passes


def docs_per_s(p: dict) -> float:
    return p["docs_ok"] / p["wall_s"]


def median(xs):
    """Median; a count keeps its integer type when the median is whole."""
    v = statistics.median(xs)
    return int(v) if all(isinstance(x, int) for x in xs) and v == int(v) else v


def end_to_end(wl, args, spark, setup_times) -> tuple[dict, list]:
    # the warm-up pass runs the workload's own code paths (JIT, spec
    # compile, first writes) once: checked, not timed
    warm = wl.run_pass()
    passes = timed_passes(wl, args.seconds)
    m = {
        "docs_per_s": (median([docs_per_s(p) for p in passes]), "docs/s"),
        "setup_s": (median(setup_times), "s"),
    }
    # finishing a killed pass that has no checkpoints means running it
    # again from scratch; the job resumes from its manifests instead
    m["resume_s"] = (median([t for p in passes for t in p.get("resume_s", [p["wall_s"]])]), "s")
    return m, [warm] + passes


def per_layer(wl, args, spark) -> tuple[dict, list]:
    from pyspark import SparkContext

    import layers
    from tracer import Tracer

    tr = Tracer()
    cpus = wl.cpus
    steps = wl.stages()
    prefix_times: dict[str, list[float]] = {name: [] for name, _ in steps}
    # rounds of an untraced pass, a traced pass (job shims on for the
    # job) and every stage prefix, so that all three share one window
    untraced, traced, job_metrics = [], [], []
    with RssSampler(SparkContext._gateway.proc.pid) as rss:
        warm = wl.run_pass()
        first, counts = layers.spark_counts(spark, wl.run_pass)
        untraced.append(first)
        t_end = time.perf_counter() + args.seconds
        while len(traced) < 3 or time.perf_counter() < t_end:
            if len(traced) == len(untraced):
                untraced.append(wl.run_pass())
            if wl.name == "resume_job":
                res, jm = layers.job_layers(wl, tr)
                traced.append(res)
                job_metrics.append(jm)
            else:
                traced.append(wl.run_pass(tracer=tr))
            layers.prefix_round(steps, tr, prefix_times)
    passes = [warm] + untraced + traced
    untraced_rate = median([docs_per_s(p) for p in untraced])
    traced_rate = median([docs_per_s(p) for p in traced])

    # peak RSS repeated only within ~40% across seeds on resume_job, so
    # it is a layer metric, not an end-to-end one
    m: dict = {"peak_rss_mb": (rss.peak / 2**20, "MB")}
    if job_metrics:
        for k, (_, unit) in job_metrics[0].items():
            m[k] = (median([jm[k][0] for jm in job_metrics]), unit)
        plan_s = m.pop("job.plan_build_s")[0]
        attributed = m.pop("job.attributed_s")[0]
    else:
        m.update(layers.zero_job_layers())
        plan_s = median([p["plan_s"] for p in traced])
        attributed = None
    m["spark.plan_build_s"] = (plan_s, "s")

    m.update(layers.engine_layers(wl.spec, wl.sample_rows(wl.engine_sample), tr))
    m.update(layers.stage_times(prefix_times))
    full_prefix = m.pop("prefix.full_s")[0]
    m.update(layers.partitioning(wl))
    m.update(counts)

    pass_wall = median([p["wall_s"] for p in traced])
    if attributed is None:
        attributed = full_prefix
    m["pass.wall_s"] = (pass_wall, "s")
    m["pass.unattributed_s"] = (pass_wall - attributed, "s")
    m["kernel.per_core_gap"] = (
        1 - untraced_rate / (cpus * m["engine.docs_per_s"][0]), "frac")
    m["trace.overhead_frac"] = (1 - traced_rate / untraced_rate, "frac")

    os.makedirs(WORK, exist_ok=True)
    span_file = os.path.join(WORK, f"trace-{wl.name}-{args.seed}.jsonl")
    tr.write(span_file)
    print(f"spans: {span_file} ({len(tr.spans)} spans)", file=sys.stderr)
    return m, passes


def prepare_env() -> None:
    """Keep every temporary file (package zip, Spark scratch, Python
    workers) inside the checkout, and make h2spark importable."""
    os.makedirs(os.path.join(WORK, "tmp"), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    # Spark prefers this variable to spark.local.dir
    os.environ["SPARK_LOCAL_DIRS"] = os.environ["TMPDIR"]
    tempfile.tempdir = os.environ["TMPDIR"]
    # every JVM spark-submit starts: temp files in the checkout, and no
    # perf-data file under /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData")
    for p in (HERE, ROOT):
        if p not in sys.path:
            sys.path.insert(0, p)


def main(argv=None) -> int:
    args = parse_args(argv)
    cpus = nproc()
    prepare_env()

    import h2spark  # noqa: F401  (fails fast outside a checkout)

    wl_dir = os.path.join(WORK, args.workload)
    shutil.rmtree(wl_dir, ignore_errors=True)  # left by an interrupted run
    spark = None
    try:
        setup_times = []
        # the traced run reports no set-up time, so it sets up once
        for k in range(1 if args.trace else SETUPS):
            if spark is not None:
                # later set-ups reuse the gateway JVM: a fresh JVM per
                # set-up would cost ~5 s more each, on every run
                spark.stop()
                spark = None
            spark, wl, dt = setup(args.workload, args.seed, cpus)
            setup_times.append(dt)
            print(f"setup {k}: {dt:.3f} s", file=sys.stderr)
        wl.prepare_gate()
        if args.trace:
            metrics, passes = per_layer(wl, args, spark)
        else:
            metrics, passes = end_to_end(wl, args, spark, setup_times)
        verdict = passes[0]["verdict"]
        for p in passes[1:]:
            verdict += p["verdict"]
        # counted, not time-based: every attempted document of every pass
        metrics_out = dict(metrics)
        if not args.trace:
            metrics_out["correct_frac"] = (
                (verdict.attempted - verdict.failed) / verdict.attempted, "frac")
        record = {
            "workload": args.workload, "seed": args.seed, "trace": args.trace,
            "seconds": args.seconds, "passes": len(passes),
            "pass_wall_s": [p["wall_s"] for p in passes],
            "pass_resume_s": [p["resume_s"] for p in passes if "resume_s" in p],
            "setup_times_s": setup_times,
            "env": env_stamp(cpus),
            "attempted": verdict.attempted, "failed": verdict.failed,
            "failed_frac": verdict.failed / verdict.attempted,
            "failures": [list(map(str, e)) for e in verdict.examples],
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics_out.items()},
        }
    finally:
        if spark is not None:
            spark.stop()
        stop_jvm()
        t0 = time.perf_counter()
        shutil.rmtree(wl_dir, ignore_errors=True)
        print(f"cleanup: {time.perf_counter() - t0:.1f} s", file=sys.stderr)

    for k, (v, u) in sorted(metrics_out.items()):
        print(f"{k} {v:.6g} {u}")
    with open(os.path.join(WORK, "records.jsonl"), "a") as f:
        f.write(json.dumps(record) + "\n")
    print("RECORD " + json.dumps(record))
    if verdict.failed:
        print(f"correctness gate: {verdict.failed} of {verdict.attempted} documents "
              f"failed, e.g. {verdict.examples}", file=sys.stderr)
    names = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))[
        "per_layer" if args.trace else "end_to_end"]
    result_metrics = {}
    for spec in names:
        v, u = metrics_out[spec["name"]]
        result_metrics[spec["name"]] = {"value": v, "unit": u}
    print(json.dumps({
        "correct": verdict.failed == 0,
        "attempted": verdict.attempted,
        "failed": verdict.failed,
        "metrics": result_metrics,
    }))
    return 0 if verdict.failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
