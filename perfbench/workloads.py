"""The three seeded workloads, each driving a public entry point.

- ``readme_pages``: README-shaped pages (``h2spark.fixtures.corpus_df``)
  written once to parquet; a pass is ``salted_repartition`` ->
  ``extract_spans_arrow(PAGE_SPEC)`` -> per-document digest collected
  to the driver. The engine does most of the work.
- ``tiny_docs``: ``ops.flagship.q_flagship_extract_spans`` over a
  single-row-group ``documents.parquet`` of ~400 B pages with three
  flat fields; the ordered result is collected. Spark does most of the
  work.
- ``resume_job``: ``pipeline.job.run_extraction_job`` over a parquet
  copy of a README-shaped corpus where ~5% of the pages are the golden
  ``readme_err`` page. A run kills one job after half its waves; an
  iteration is a full job, then a resume that finishes a fresh copy of
  the killed job's output.

Inputs derive only from ``--seed``; expected outputs come from the
generators (see gate.py), never from the engine.
"""

from __future__ import annotations

import os
import random
import shutil
import time

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from h2spark.fixtures import corpus_df, split_into_spans, synth_corpus
from h2spark.golden import PAGE_SPEC, README_ERR_HTML
from h2spark.ops.flagship import FLAGSHIP_SPEC, docs_to_interleaved_spans, q_flagship_extract_spans
from h2spark.pipeline.job import run_extraction_job
from h2spark.pipeline.kernel import extract_spans_arrow
from h2spark.pipeline.salting import ensure_min_parallelism, salted_repartition

from gate import Verdict, check_digests, check_rows, flagship_expected_rows, page_expected

SPAN_IN_T = pa.struct([("kind", pa.string()), ("text", pa.string()),
                       ("media_ref", pa.string()), ("offset", pa.int32())])
SPAN_OUT_T = pa.struct([("kind", pa.string()), ("text", pa.string()),
                        ("media_ref", pa.string()), ("order", pa.int32())])

# sf ``documents`` vocabulary plus a few tokens that need HTML escaping
_SF_WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
_ESCAPED_WORDS = ["r&d", "x<y", "p>q"]
_LANGS = ["en", "zh", "es", "fr", "de"]
_LANG_WEIGHTS = [41, 15, 15, 15, 14]


def digests(df, spans_col: str = "spans_out"):
    """(doc_ids, digests) of an extraction output: one xxhash64 over
    the JSON of each document's span sequence and error. ``xxhash64``
    skips nulls, so hashing the columns directly would not tell a null
    array from an empty one; their JSON differs."""
    doc = F.to_json(F.struct(F.col(spans_col).alias("spans_out"), "error"))
    t = df.select("doc_id", F.xxhash64(doc).alias("h")).toArrow()
    return t.column("doc_id").to_pylist(), t.column("h").to_pylist()


def noop(df) -> None:
    """Run a DataFrame to completion into the noop sink."""
    df.write.format("noop").mode("overwrite").save()


def identity_arrow(df):
    """``df`` through an identity ``mapInArrow``: the JVM↔Python Arrow
    boundary with no work on the Python side."""
    return df.mapInArrow(lambda batches: batches, df.schema)


def expected_digests(spark, path: str, rows: list[dict]) -> dict:
    """Write the expected (doc_id, spans_out, error) rows to parquet and
    digest them exactly as ``digests`` digests an output."""
    t = pa.table({
        "doc_id": pa.array([r["doc_id"] for r in rows], pa.string()),
        "spans_out": pa.array([r["spans_out"] for r in rows], pa.list_(SPAN_OUT_T)),
        "error": pa.array([r["error"] for r in rows], pa.string()),
    })
    os.makedirs(path, exist_ok=True)
    pq.write_table(t, os.path.join(path, "part-0.parquet"))
    return dict(zip(*digests(spark.read.parquet(path))))


class Workload:
    """A workload owns its input directory and its correctness gate.

    - ``setup()`` generates and writes the inputs (timed as set-up);
    - ``prepare_gate()`` derives the expected outputs from the generator
      (the benchmark's own cost, untimed);
    - ``run_pass()`` runs one timed pass and returns its wall time and
      verdict;
    - ``stages()`` lists the cumulative prefix pipelines the traced run
      times, each ending in a noop sink except the last, which ends as
      the pass does; ``sample_rows()`` gives the pages the in-process
      engine sweeps extract with ``spec``.
    """

    name = ""
    spec = PAGE_SPEC
    engine_sample = 800  # pages per in-process engine sweep

    def __init__(self, spark, work_dir: str, seed: int, cpus: int):
        self.spark = spark
        self.seed = seed
        self.cpus = cpus
        self.dir = os.path.join(work_dir, self.name)


class ReadmePages(Workload):
    name = "readme_pages"
    n_docs = 12000

    def setup(self) -> None:
        self.input = os.path.join(self.dir, "input")
        corpus_df(self.spark, self.n_docs, seed=self.seed,
                  n_partitions=self.cpus).write.mode("overwrite").parquet(self.input)
        self.docs = self.spark.read.parquet(self.input)

    def prepare_gate(self) -> None:
        exp_rows = []
        for r in synth_corpus(self.n_docs, seed=self.seed, with_expected=True):
            spans_out, err = page_expected(r["spans"], r["expected"])
            exp_rows.append({"doc_id": r["doc_id"], "spans_out": spans_out, "error": err})
        self.expected = expected_digests(self.spark, os.path.join(self.dir, "expected"), exp_rows)

    def kernel_input(self):
        return salted_repartition(self.docs, 2 * self.cpus).select("doc_id", "spans")

    def build(self):
        return extract_spans_arrow(self.kernel_input(), PAGE_SPEC)

    def run_pass(self, tracer=None) -> dict:
        t0 = time.perf_counter()
        out = self.build()
        t1 = time.perf_counter()
        ids, hs = digests(out)
        t2 = time.perf_counter()
        if tracer is not None:
            root = tracer.add("pass", t0, t2, trace=tracer.new_trace())
            tracer.add("spark.plan_build", t0, t1, parent=root["id"], trace=root["trace"])
            tracer.add("spark.execute", t1, t2, parent=root["id"], trace=root["trace"])
        v = check_digests(self.expected, ids, hs)
        return {"wall_s": t2 - t0, "plan_s": t1 - t0, "verdict": v,
                "docs_ok": v.attempted - v.failed}

    def stages(self):
        return [
            ("spark.scan", lambda: noop(self.docs.select("doc_id", "spans"))),
            ("salting.shuffle", lambda: noop(self.kernel_input())),
            ("spark.arrow_boundary", lambda: noop(identity_arrow(self.kernel_input()))),
            ("kernel.stage", lambda: noop(self.build())),
            ("spark.collect", lambda: digests(self.build())),
        ]

    def sample_rows(self, n: int) -> list[dict]:
        rng = random.Random(f"sample:{self.seed}")
        keep = set(rng.sample(range(self.n_docs), min(n, self.n_docs)))
        return [r for i, r in enumerate(synth_corpus(self.n_docs, seed=self.seed))
                if i in keep]


def tiny_documents(n: int, seed: int) -> list[dict]:
    """sf-``documents``-shaped rows (doc_id, text, lang, source,
    n_chars): ~300 chars of words, five languages, twenty sources."""
    rng = random.Random(f"tiny:{seed}")
    ids = rng.sample(range(10 * n), n)  # fresh, unordered doc ids
    vocab = _SF_WORDS * 10 + _ESCAPED_WORDS
    docs = []
    for doc_id in ids:
        text = " ".join(rng.choices(vocab, k=rng.randint(8, 100)))
        docs.append({
            "doc_id": doc_id,
            "text": text,
            "lang": rng.choices(_LANGS, _LANG_WEIGHTS)[0],
            "source": f"src{rng.randrange(20)}",
            "n_chars": len(text),
        })
    return docs


class TinyDocs(Workload):
    name = "tiny_docs"
    n_docs = 40000
    spec = FLAGSHIP_SPEC
    engine_sample = 3000

    def setup(self) -> None:
        self.sf_dir = os.path.join(self.dir, "sf")
        os.makedirs(self.sf_dir, exist_ok=True)
        docs = tiny_documents(self.n_docs, self.seed)
        t = pa.table({
            "doc_id": pa.array([d["doc_id"] for d in docs], pa.int64()),
            "text": pa.array([d["text"] for d in docs], pa.string()),
            "lang": pa.array([d["lang"] for d in docs], pa.string()),
            "source": pa.array([d["source"] for d in docs], pa.string()),
            "n_chars": pa.array([d["n_chars"] for d in docs], pa.int64()),
        })
        # one row group, like the sf tables: the query's own
        # ensure_min_parallelism has to spread the scan
        pq.write_table(t, os.path.join(self.sf_dir, "documents.parquet"),
                       row_group_size=len(docs))
        self.docs = docs

    def prepare_gate(self) -> None:
        self.expected = flagship_expected_rows(self.docs)

    def build(self):
        return q_flagship_extract_spans(self.spark, self.sf_dir)

    def run_pass(self, tracer=None) -> dict:
        t0 = time.perf_counter()
        q = self.build()
        t1 = time.perf_counter()
        t = q.toArrow()
        t2 = time.perf_counter()
        if tracer is not None:
            root = tracer.add("pass", t0, t2, trace=tracer.new_trace())
            tracer.add("spark.plan_build", t0, t1, parent=root["id"], trace=root["trace"])
            tracer.add("spark.execute", t1, t2, parent=root["id"], trace=root["trace"])
        v = check_rows(self.expected, list(zip(*(c.to_pylist() for c in t.columns))))
        return {"wall_s": t2 - t0, "plan_s": t1 - t0, "verdict": v,
                "docs_ok": v.attempted - v.failed}

    def kernel_input(self):
        d = ensure_min_parallelism(
            self.spark.read.parquet(f"{self.sf_dir}/documents.parquet"))
        return d.select("doc_id", docs_to_interleaved_spans(d))

    def stages(self):
        def scan():
            return self.spark.read.parquet(f"{self.sf_dir}/documents.parquet").select(
                "doc_id", "text", "lang", "source")

        return [
            ("spark.scan", lambda: noop(scan())),
            ("salting.shuffle", lambda: noop(self.kernel_input())),
            ("spark.arrow_boundary", lambda: noop(identity_arrow(self.kernel_input()))),
            ("kernel.stage",
             lambda: noop(extract_spans_arrow(self.kernel_input(), FLAGSHIP_SPEC))),
            ("flagship.post", lambda: noop(self.build())),
            ("spark.collect", lambda: self.build().toArrow()),
        ]

    def sample_rows(self, n: int) -> list[dict]:
        """The span rows ``docs_to_interleaved_spans`` builds: the page
        split into thirds stored out of order, one media span."""
        rng = random.Random(f"sample:{self.seed}")
        rows = []
        for d in rng.sample(self.docs, min(n, len(self.docs))):
            html = flagship_html(d)
            third = len(html) // 3
            rows.append({"doc_id": str(d["doc_id"]), "spans": [
                {"kind": "text", "text": html[2 * third:], "media_ref": "", "offset": 2 * third},
                {"kind": "media", "text": "", "media_ref": f"media://img/{d['doc_id']}",
                 "offset": third + 1},
                {"kind": "text", "text": html[:third], "media_ref": "", "offset": 0},
                {"kind": "text", "text": html[third:2 * third], "media_ref": "", "offset": third},
            ]})
        return rows


def flagship_html(d: dict) -> str:
    """The page ``docs_to_interleaved_spans`` builds for one document."""
    esc = d["text"].replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")
    return (f'<html lang="{d["lang"]}"><body><article class="main">{esc}'
            f'</article><footer><span>{d["source"]}</span></footer></body></html>')


class ResumeJob(ReadmePages):
    """Inherits the README-page kernel (``build``/``stages``), which the
    traced run times as one pass over the job's input."""

    name = "resume_job"
    n_docs = 8000
    resumes_per_pass = 1
    err_frac = 0.05
    n_buckets = 32
    wave_buckets = 8

    def setup(self) -> None:
        self.input = os.path.join(self.dir, "input")
        shutil.rmtree(self.input, ignore_errors=True)
        os.makedirs(self.input)
        rng = random.Random(f"resume:{self.seed}")
        err_ids = set(rng.sample(range(self.n_docs), int(self.n_docs * self.err_frac)))
        rows, self.values = [], []
        for i, r in enumerate(synth_corpus(self.n_docs, seed=self.seed, with_expected=True)):
            value = r.pop("expected")
            if i in err_ids:
                r["spans"] = split_into_spans(README_ERR_HTML, rng, n_media=rng.randint(0, 3))
                value = None
            rows.append(r)
            self.values.append(value)
        self.rows = rows
        self.n_err = len(err_ids)
        step = -(-len(rows) // self.cpus)
        for k in range(0, len(rows), step):
            chunk = rows[k:k + step]
            pq.write_table(pa.table({
                "doc_id": pa.array([r["doc_id"] for r in chunk], pa.string()),
                "spans": pa.array([r["spans"] for r in chunk], pa.list_(SPAN_IN_T)),
            }), os.path.join(self.input, f"part-{k // step:05d}.parquet"))
        self.docs = self.spark.read.parquet(self.input)
        self.lineage = f"perfbench:resume_job:{self.seed}:{self.n_docs}"
        self.n_waves = -(-self.n_buckets // self.wave_buckets)
        self.killed = None
        self.iteration = 0

    def prepare_gate(self) -> None:
        exp_rows = []
        for r, value in zip(self.rows, self.values):
            spans_out, err = page_expected(r["spans"], value)
            exp_rows.append({"doc_id": r["doc_id"], "spans_out": spans_out, "error": err})
        self.expected = expected_digests(self.spark, os.path.join(self.dir, "expected"), exp_rows)

    def job(self, out_dir: str, max_waves=None) -> dict:
        return run_extraction_job(
            self.spark, self.docs, PAGE_SPEC, out_dir,
            n_buckets=self.n_buckets, wave_buckets=self.wave_buckets,
            input_lineage=self.lineage, max_waves=max_waves,
        )

    def check_output(self, out_dir: str, summary: dict) -> Verdict:
        v = check_digests(self.expected, *digests(self.spark.read.parquet(f"{out_dir}/data")))
        if (summary["completed"] != self.n_buckets or summary["n_docs"] != self.n_docs
                or summary["n_errors"] != self.n_err):
            v.examples.append(("manifests", f"summary disagrees with input: {summary}"))
            v.failed = max(v.failed, 1)
        return v

    def killed_state(self, tracer=None) -> str:
        """A job killed after half its waves, run once per benchmark run;
        each iteration resumes a fresh copy of its output directory."""
        snap = os.path.join(self.dir, "out-killed")
        if self.killed is None:
            t0 = time.perf_counter()
            self.killed = self.job(snap, max_waves=self.n_waves // 2)
            if tracer is not None:
                tracer.add("job.kill", t0, time.perf_counter(), trace=tracer.new_trace())
        return snap

    def run_pass(self, tracer=None) -> dict:
        """One iteration: a full job, then ``resumes_per_pass`` resumes,
        each of a fresh copy of the killed job's output."""
        snap = self.killed_state(tracer)
        self.iteration += 1
        trace = tracer.new_trace() if tracer is not None else 0
        runs = []
        for k in range(1 + self.resumes_per_pass):
            phase = "resume" if k else "full"
            out_dir = os.path.join(self.dir, f"out-{phase}-{self.iteration}-{k}")
            if k:
                shutil.copytree(snap, out_dir)
            t0 = time.perf_counter()
            summary = self.job(out_dir)
            t1 = time.perf_counter()
            if tracer is not None:
                tracer.add(f"job.{phase}", t0, t1, trace=trace)
            runs.append((out_dir, t1 - t0, summary))
        verdict = Verdict(0, 0)
        for k, (out_dir, _, summary) in enumerate(runs):
            verdict += self.check_output(out_dir, summary)
            if k == 0:
                docs_ok = verdict.attempted - verdict.failed
            elif (len(self.killed["ran_waves"]) != self.n_waves // 2
                  or len(summary["ran_waves"]) != self.n_waves - self.n_waves // 2):
                verdict.failed += 1
                verdict.examples.append(("resume", "kill or resume ran the wrong waves"))
            if k or tracer is None:
                # the traced run discards the full job's output after
                # counting its files
                self.discard(out_dir)
        self.full_dir = runs[0][0]
        return {"wall_s": runs[0][1], "resume_s": [r[1] for r in runs[1:]],
                "verdict": verdict, "docs_ok": docs_ok}

    def discard(self, out_dir: str) -> None:
        """Delete a job's output, now, before writeback gives its data
        files disk blocks, except the fsynced manifests: those are moved
        to ``perfbench/.work/kept-manifests`` and left there. Freeing a
        file's blocks costs ~60 ms on a disk mounted with ``discard``,
        which would add ~3 s of deletes to every iteration."""
        keep = os.path.join(os.path.dirname(self.dir), "kept-manifests")
        os.makedirs(keep, exist_ok=True)
        os.rename(os.path.join(out_dir, "_manifests"),
                  os.path.join(keep, f"{os.getpid()}-{os.path.basename(out_dir)}"))
        shutil.rmtree(out_dir)

    def sample_rows(self, n: int) -> list[dict]:
        rng = random.Random(f"sample:{self.seed}")
        return rng.sample(self.rows, min(n, len(self.rows)))


WORKLOADS = {w.name: w for w in (ReadmePages, TinyDocs, ResumeJob)}
