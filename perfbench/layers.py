"""Per-layer measurements for the traced run.

Every number here comes from timing calls into a layer's public
functions from this directory (spans inside ``h2spark/`` are future
work):

- engine: ``runner.reassemble``, ``treebuilder.parse_document``,
  ``extract.apply_struct`` and ``flatten.flatten_into`` called in turn,
  in process and single-threaded, over a seeded sample of the
  workload's own documents. ``tokenizer.tokenize_into`` streams tokens
  into the tree builder, so it is timed in a separate sweep over the
  same pages and subtracted from the parse span.
- Arrow boundary, Python side: ``runner.make_arrow_mapper`` over
  in-process RecordBatches of the same sample, minus the engine time.
- Spark stages: prefix pipelines, each adding one stage (scan,
  shuffle, identity ``mapInArrow``, kernel, query tail) before a noop
  sink, then the pass's own sink (digest or result collect).
- partitioning: bytes per kernel partition via ``spark_partition_id``.
- job and manifests: timing shims around the functions
  ``pipeline.job`` calls, installed for the traced iteration only.
"""

from __future__ import annotations

import os
import statistics
import time
from contextlib import contextmanager

import pyarrow as pa
from pyspark.sql import functions as F

from h2spark.core import selector as selector_mod
from h2spark.core.errors import FieldError
from h2spark.core.extract import apply_struct, compile_spec
from h2spark.core.flatten import flatten_into
from h2spark.core.runner import make_arrow_mapper, reassemble
from h2spark.core.tokenizer import tokenize_into
from h2spark.core.treebuilder import parse_document
from h2spark.pipeline.salting import with_doc_stats

from tracer import self_times
from workloads import SPAN_IN_T

ENGINE_LAYERS = ("runner.reassemble", "treebuilder.parse",
                 "extract.apply_struct", "flatten.flatten")


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def engine_sweep(cs, rows, tracer) -> None:
    """One single-threaded pass of the engine over ``rows``; spans are
    built from raw timestamps after the loop, so recording adds only
    the clock reads to the timed work."""
    stamps = []
    for r in rows:
        t0 = time.perf_counter()
        html, media, first = reassemble(r["spans"])
        t1 = time.perf_counter()
        try:
            root = parse_document(html).root_element()
        except ValueError:
            root = None
        t2 = time.perf_counter()
        raw = None
        if root is not None:
            try:
                _, raw = apply_struct(cs, root)
            except FieldError:
                pass
        t3 = time.perf_counter()
        if raw is not None:
            flatten_into(cs, raw, media, first, [], [], [], [])
        t4 = time.perf_counter()
        stamps.append((t0, t1, t2, t3, t4))
    sweep = tracer.add("engine.sweep", stamps[0][0], stamps[-1][4],
                       trace=tracer.new_trace())
    for ts in stamps:
        doc = tracer.add("engine.doc", ts[0], ts[4], parent=sweep["id"],
                         trace=sweep["trace"])
        for name, a, b in zip(ENGINE_LAYERS, ts, ts[1:]):
            tracer.add(name, a, b, parent=doc["id"], trace=sweep["trace"])


def tokenize_sweep(htmls, tracer) -> None:
    stamps = []
    for html in htmls:
        t0 = time.perf_counter()
        tokenize_into(html, [].append)
        stamps.append((t0, time.perf_counter()))
    sweep = tracer.add("tokenizer.sweep", stamps[0][0], stamps[-1][1],
                       trace=tracer.new_trace())
    for a, b in stamps:
        tracer.add("tokenizer.tokenize", a, b, parent=sweep["id"],
                   trace=sweep["trace"])


def _per_sweep(tracer, sweep_name: str, names) -> dict[str, list[float]]:
    """Self time of each named span summed per sweep of ``sweep_name``."""
    spans = tracer.spans
    st = self_times(spans)
    sweeps = {s["trace"]: [] for s in spans if s["name"] == sweep_name}
    out = {n: {t: 0.0 for t in sweeps} for n in names}
    for s in spans:
        if s["trace"] in sweeps and s["name"] in out:
            out[s["name"]][s["trace"]] += st[s["id"]]
    return {n: list(v.values()) for n, v in out.items()}


def _batches(rows, batch_rows: int = 2048):
    for k in range(0, len(rows), batch_rows):
        chunk = rows[k:k + batch_rows]
        yield pa.RecordBatch.from_arrays(
            [pa.array([r["doc_id"] for r in chunk], pa.string()),
             pa.array([r["spans"] for r in chunk], pa.list_(SPAN_IN_T))],
            names=["doc_id", "spans"])


def engine_layers(spec, rows, tracer, repeats: int = 3) -> dict:
    cs = compile_spec(spec)
    for _ in range(repeats):
        engine_sweep(cs, rows, tracer)
    htmls = [reassemble(r["spans"])[0] for r in rows]
    for _ in range(repeats):
        tokenize_sweep(htmls, tracer)
    per = _per_sweep(tracer, "engine.sweep", ENGINE_LAYERS + ("engine.doc",))
    tok = _median(_per_sweep(tracer, "tokenizer.sweep", ("tokenizer.tokenize",))
                  ["tokenizer.tokenize"])
    doc_totals = [sum(per[n][i] for n in ENGINE_LAYERS + ("engine.doc",))
                  for i in range(repeats)]
    engine_s = _median(doc_totals)

    # the Python side of the Arrow boundary: the production mapper over
    # the same documents, as in-process RecordBatches
    batches = list(_batches(rows))
    mapper = make_arrow_mapper(cs, ("doc_id",), "spans")
    mapper_s = []
    for _ in range(repeats):
        with tracer.span("runner.arrow_mapper", trace=tracer.new_trace()) as sp:
            for _out in mapper(iter(batches)):
                pass
        mapper_s.append(sp["end"] - sp["start"])

    # counts, outside every timed sweep: elements per tree and select()
    # calls per document
    calls = 0
    orig = selector_mod.CssSelector.select

    def counting_select(self, scope):
        nonlocal calls
        calls += 1
        return orig(self, scope)

    nodes = 0
    selector_mod.CssSelector.select = counting_select
    try:
        for html in htmls:
            try:
                root = parse_document(html).root_element()
            except ValueError:
                continue
            nodes += 1 + sum(1 for _ in root.iter_descendants())
            try:
                apply_struct(cs, root)
            except FieldError:
                pass
    finally:
        selector_mod.CssSelector.select = orig

    n = len(rows)
    return {
        "engine.sample_docs": (n, "count"),
        "runner.reassemble_s": (_median(per["runner.reassemble"]), "s"),
        "tokenizer.tokenize_s": (tok, "s"),
        "treebuilder.parse_s": (_median(per["treebuilder.parse"]) - tok, "s"),
        "extract.apply_struct_s": (_median(per["extract.apply_struct"]), "s"),
        "flatten.flatten_s": (_median(per["flatten.flatten"]), "s"),
        "engine.docs_per_s": (n / engine_s, "docs/s"),
        "treebuilder.nodes_per_doc": (nodes / n, "count"),
        "selector.select_calls_per_doc": (calls / n, "count"),
        "runner.arrow_overhead_s": (_median(mapper_s) - engine_s, "s"),
    }


def prefix_round(steps, tracer, times: dict[str, list[float]]) -> None:
    """Run the workload's cumulative prefix pipelines once each, in
    order, appending each one's wall time to ``times``."""
    for name, run in steps:
        with tracer.span(f"prefix.{name}", trace=tracer.new_trace()) as sp:
            run()
        times[name].append(sp["end"] - sp["start"])


def stage_times(times: dict[str, list[float]]) -> dict:
    """A stage's time is the difference of adjacent prefix medians.
    Also returns ``prefix.full_s``, the median of the longest prefix."""
    out, prev = {"flagship.post_s": (0.0, "s")}, 0.0
    for name, ts in times.items():
        med = _median(ts)
        out[f"{name}_s"] = (med - prev, "s")
        prev = med
    out["prefix.full_s"] = (prev, "s")
    return out


def partitioning(wl) -> dict:
    """Kernel partitions and their byte skew (max over median)."""
    kin = with_doc_stats(wl.kernel_input())
    rows = (kin.groupBy(F.spark_partition_id().alias("p"))
            .agg(F.sum("doc_bytes").alias("b")).collect())
    sizes = sorted(r["b"] for r in rows)
    return {
        "salting.partitions": (len(sizes), "count"),
        "salting.skew_bytes_max_over_median": (sizes[-1] / _median(sizes), "ratio"),
    }


def spark_counts(spark, run) -> tuple[object, dict]:
    """``run()``'s result and the jobs, stages and tasks it submitted,
    from statusTracker."""
    sc = spark.sparkContext
    group = f"perfbench-{time.monotonic_ns()}"
    sc.setJobGroup(group, "perfbench counted pass")
    try:
        result = run()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    tracker = sc.statusTracker()
    jobs = tracker.getJobIdsForGroup(group) or []
    stages = tasks = 0
    for j in jobs:
        info = tracker.getJobInfo(j)
        for s in (info.stageIds if info else []):
            si = tracker.getStageInfo(s)
            if si is not None and si.numTasks > 0:
                stages += 1
                tasks += si.numTasks
    return result, {"spark.jobs": (len(jobs), "count"), "spark.stages": (stages, "count"),
                    "spark.tasks": (tasks, "count")}


@contextmanager
def job_shims(tracer, calls: list):
    """Wrap the public functions ``pipeline.job`` calls with timing
    shims; each call appends (name, start, end, args) to ``calls`` and
    records a span. Restored on exit."""
    import h2spark.pipeline.job as job_mod
    from pyspark.sql.readwriter import DataFrameWriter

    targets = [
        (job_mod, "commit_manifest", "manifests.commit"),
        (job_mod, "completed_buckets", "manifests.completed_buckets"),
        (job_mod, "salted_repartition", "salting.salted_repartition"),
        (job_mod, "extract_spans_arrow", "kernel.extract_spans_arrow"),
        (DataFrameWriter, "parquet", "job.write"),
    ]
    saved = []
    for owner, attr, span_name in targets:
        orig = getattr(owner, attr)
        saved.append((owner, attr, orig))

        def shim(*a, _orig=orig, _name=span_name, **kw):
            t0 = time.perf_counter()
            try:
                return _orig(*a, **kw)
            finally:
                t1 = time.perf_counter()
                calls.append((_name, t0, t1, a))
                tracer.add(_name, t0, t1)

        setattr(owner, attr, shim)
    try:
        yield
    finally:
        for owner, attr, orig in saved:
            setattr(owner, attr, orig)


def _waves(calls, a: float, b: float) -> list[tuple[float, float]]:
    """Wave intervals inside [a, b]: each starts at a salted_repartition
    call and ends at the last manifest commit before the next one."""
    inside = sorted((c for c in calls if a <= c[1] <= b), key=lambda c: c[1])
    waves = []
    for c in inside:
        if c[0] == "salting.salted_repartition":
            waves.append([c[1], c[2]])
        elif c[0] == "manifests.commit" and waves:
            waves[-1][1] = c[2]
    return [tuple(w) for w in waves]


def job_layers(wl, tracer) -> tuple[dict, dict]:
    """One traced iteration of the resume workload with the shims on.
    Returns the iteration's result and the job metrics; the extra
    ``job.plan_build_s`` and ``job.attributed_s`` feed run.py's
    plan-build and unattributed-time metrics."""
    calls: list = []
    first = len(tracer.spans)
    with job_shims(tracer, calls):
        res = wl.run_pass(tracer=tracer)
    new = tracer.spans[first:]
    phases = [s for s in new if s["name"] in ("job.kill", "job.full", "job.resume")]
    # parent every shim span to the wave, else the phase, holding it
    containers = []
    for ps in phases:
        containers.append(ps)
        for a, b in _waves(calls, ps["start"], ps["end"]):
            containers.append(tracer.add("job.wave", a, b, parent=ps["id"],
                                         trace=ps["trace"]))
    for s in new:
        if s["parent"] is not None or s in phases:
            continue
        holders = [c for c in containers if c["start"] <= s["start"] <= c["end"]]
        if holders:
            c = min(holders, key=lambda c: c["end"] - c["start"])
            s["parent"], s["trace"] = c["id"], c["trace"]

    full = next(s for s in phases if s["name"] == "job.full")
    resume = [s for s in phases if s["name"] == "job.resume"][-1]

    def inside(name, ps):
        return [c for c in calls if c[0] == name and ps["start"] <= c[1] <= ps["end"]]

    def total(name, ps):
        return sum(c[2] - c[1] for c in inside(name, ps))

    waves = _waves(calls, full["start"], full["end"])
    processed = sum(c[3][1].n_docs for c in inside("manifests.commit", resume))
    # documents the resume still owed: those outside the buckets the
    # killed job committed (bucket = pmod(xxhash64(doc_id), n_buckets))
    done = sorted(b for w in wl.killed["ran_waves"] for b in w)
    owed = wl.docs.where(~F.pmod(F.xxhash64("doc_id"), F.lit(wl.n_buckets))
                         .isin(done)).count()
    if processed != owed:
        res["verdict"].failed += 1
        res["verdict"].examples.append(
            ("resume", f"resume processed {processed} docs, {owed} were owed"))
    data = os.path.join(wl.full_dir, "data")
    files = [os.path.join(d, f) for d, _, fs in os.walk(data) for f in fs
             if f.endswith(".parquet")]
    n_bytes = sum(os.path.getsize(f) for f in files)
    wl.discard(wl.full_dir)
    plan = total("salting.salted_repartition", full) + total("kernel.extract_spans_arrow", full)
    attributed = sum(b - a for a, b in waves) + total("manifests.completed_buckets", full)
    return res, {
        "job.waves": (len(waves), "count"),
        "job.wave_s": (_median([b - a for a, b in waves]), "s"),
        "job.files_written": (len(files), "count"),
        "job.bytes_written": (n_bytes, "bytes"),
        "manifests.commit_s": (total("manifests.commit", full), "s"),
        "manifests.completed_buckets_s": (total("manifests.completed_buckets", resume), "s"),
        "job.resume_docs_processed": (processed, "count"),
        "job.plan_build_s": (plan, "s"),
        "job.attributed_s": (attributed, "s"),
    }


def zero_job_layers() -> dict:
    """Job metrics of a workload that runs no job: no waves, no files."""
    return {
        "job.waves": (0, "count"), "job.wave_s": (0.0, "s"),
        "job.files_written": (0, "count"), "job.bytes_written": (0, "bytes"),
        "manifests.commit_s": (0.0, "s"), "manifests.completed_buckets_s": (0.0, "s"),
        "job.resume_docs_processed": (0, "count"),
    }
