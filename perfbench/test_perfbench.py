"""Self-tests of the benchmark (not part of the repository's suite):

    python3 -m pytest perfbench/test_perfbench.py -q

- the gate fires on one planted wrong expected row, in process and
  through a real Spark pass of each extraction workload;
- an unknown or abbreviated workload name is an error;
- a second seed yields the same metric names with no failures;
- the comparison refuses records taken on different cpu counts.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [p for p in (HERE, ROOT) if p not in sys.path]

import run  # noqa: E402
from gate import check_digests, check_rows, flagship_expected_rows, page_expected  # noqa: E402
from h2spark.core.extract import compile_spec  # noqa: E402
from h2spark.core.flatten import flatten_document  # noqa: E402
from h2spark.core.runner import extract_one  # noqa: E402
from h2spark.fixtures import synth_corpus  # noqa: E402
from h2spark.golden import PAGE_SPEC, README_ERR_HTML  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    BENCH = json.load(_f)


def _engine_rows(rows):
    """(spans_out, error) the engine produces for each row, in process."""
    cs = compile_spec(PAGE_SPEC)
    out = []
    for r in rows:
        _, raw, media, first, err = extract_one(cs, r["spans"])
        out.append((flatten_document(cs, raw, media, first), err))
    return out


def test_generator_expectations_match_the_engine_and_a_planted_row_fails():
    rows = list(synth_corpus(150, seed=7, with_expected=True))
    rows[3]["spans"] = [{"kind": "text", "text": README_ERR_HTML,
                         "media_ref": "", "offset": 0}]
    rows[3]["expected"] = None
    expected = {r["doc_id"]: repr(page_expected(r["spans"], r["expected"]))
                for r in rows}
    got = [repr(x) for x in _engine_rows(rows)]
    ids = [r["doc_id"] for r in rows]
    assert check_digests(expected, ids, got).failed == 0

    planted = dict(expected)
    exp_spans, _ = page_expected(rows[10]["spans"], rows[10]["expected"])
    exp_spans[1] = dict(exp_spans[1], text=exp_spans[1]["text"] + "x")
    planted[ids[10]] = repr((exp_spans, None))
    v = check_digests(planted, ids, got)
    assert v.failed == 1 and v.examples[0][0] == ids[10]
    # an error document with empty spans instead of null spans fails
    bad = list(got)
    bad[3] = repr(([], _engine_rows(rows[3:4])[0][1]))
    assert check_digests(expected, ids, bad).failed == 1
    # a missing row and a duplicate row each count once
    assert check_digests(expected, ids[1:], got[1:]).failed == 1
    assert check_digests(expected, ids + ids[:1], got + got[:1]).failed == 1


def test_flagship_row_gate_counts_documents():
    docs = [{"doc_id": i, "text": f"t{i}", "lang": "en", "source": "s"} for i in range(5)]
    exp = flagship_expected_rows(docs)
    assert check_rows(exp, list(exp)).failed == 0
    bad = list(exp)
    bad[5] = bad[5][:2] + ("wrong",) + bad[5][3:]
    assert check_rows(exp, bad).failed == 1
    assert check_rows(exp, exp[4:] + exp[:4]).failed == 5  # order is part of the result


@pytest.fixture(scope="module")
def spark():
    run.prepare_env()
    s = run.start_spark(2)
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()
    run.stop_jvm()


@pytest.mark.parametrize("name", ["readme_pages", "tiny_docs"])
def test_gate_fires_in_a_spark_pass(spark, name, monkeypatch):
    from workloads import WORKLOADS

    cls = WORKLOADS[name]
    monkeypatch.setattr(cls, "n_docs", 300)
    wl = cls(spark, run.WORK, 5, 2)
    wl.setup()
    wl.prepare_gate()
    assert wl.run_pass()["verdict"].failed == 0
    if name == "tiny_docs":
        i = 9
        wl.expected[i] = wl.expected[i][:2] + ("not the text",) + wl.expected[i][3:]
    else:
        doc = sorted(wl.expected)[17]
        wl.expected[doc] ^= 1
    v = wl.run_pass()["verdict"]
    assert v.failed == 1, v.examples


def test_spark_digest_keeps_nulls_distinct(spark):
    """The Spark-side digest tells null spans from empty spans, and a
    value in one nullable span field from the same value in the next."""
    from workloads import expected_digests

    def span(text, media_ref):
        return {"kind": "text", "text": text, "media_ref": media_ref, "order": 0}

    outputs = [(None, "e"), ([], "e"), ([span("a", None)], None), ([span(None, "a")], None)]
    rows = [{"doc_id": str(i), "spans_out": s, "error": e} for i, (s, e) in enumerate(outputs)]
    got = expected_digests(spark, os.path.join(run.WORK, "test-digest"), rows)
    assert len(set(got.values())) == len(outputs)


def _run(*args, timeout=300):
    return subprocess.run([sys.executable, os.path.join(HERE, "run.py"), *args],
                          cwd=ROOT, capture_output=True, text=True, timeout=timeout)


@pytest.mark.parametrize("name", ["readme", "README_PAGES", "readme_pages_x", "q5"])
def test_unknown_workload_is_an_error(name):
    r = _run("--workload", name, "--seed", "1", "--seconds", "1", "--trace", "0", timeout=60)
    assert r.returncode == 2
    assert "unknown workload" in r.stderr
    assert r.stdout == ""


@pytest.mark.parametrize("name", [w["name"] for w in BENCH["workloads"]])
def test_second_seed_same_metric_names_and_no_failures(name):
    r = _run("--workload", name, "--seed", "2", "--seconds", "1", "--trace", "0")
    assert r.returncode == 0, r.stderr[-2000:]
    lines = r.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0
    assert list(result["metrics"]) == [m["name"] for m in BENCH["end_to_end"]]
    record = json.loads(next(ln for ln in lines if ln.startswith("RECORD "))[7:])
    assert record["seed"] == 2 and record["failed_frac"] == 0
    assert record["env"]["cpus"] == run.nproc()


def test_compare_refuses_records_from_different_cpu_counts():
    from compare import compare

    def rec(cpus, v):
        return {"workload": "readme_pages", "trace": 0, "env": {"cpus": cpus},
                "metrics": {"docs_per_s": {"value": v, "unit": "docs/s"}}}

    lines, code = compare([rec(4, 100.0)], [rec(32, 400.0)], BENCH)
    assert code == 2 and "refused" in lines[0]
    lines, code = compare([rec(4, 100.0)] * 3, [rec(4, 70.0)] * 3, BENCH)
    assert code == 1 and lines[-1].endswith("worse")
    assert compare([rec(4, 100.0)] * 3, [rec(4, 99.0)] * 3, BENCH)[1] == 0
