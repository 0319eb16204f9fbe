"""Per-query instrumentation for the r08 optimization round (guide §1).

NOT the driver bench — bench.py is frozen. This harness times each
headline query in isolation with the noop sink, reports plan-build vs
execution time, Spark job/stage counts per action, and dumps
explain("formatted") to plans/r08/.

Usage: python bench_extra.py [q1 q5 ...]   (default: all)

Each argument selects the queries whose name starts with it, so ``q5``
runs q5a-q5c.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or (os.cpu_count() or 4)
    n_docs = int(os.environ.get("H2SPARK_BENCH_DOCS", "24000"))
    which = set(sys.argv[1:]) or None
    plans_dir = os.environ.get("H2SPARK_PLANS_DIR", "")

    from pyspark.sql import functions as F

    from h2spark.fixtures import corpus_df
    from h2spark.golden import PAGE_SPEC
    from h2spark.ops import dedup, flagship, similarity, textstats
    from h2spark.pipeline.kernel import extract_spans_arrow
    from h2spark.pipeline.salting import salted_repartition
    from h2spark.pipeline.session import get_spark

    spark = get_spark(
        "h2spark-bench-extra",
        master=f"local[{cpus}]",
        shuffle_partitions=max(2 * cpus, 8),
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    sc = spark.sparkContext
    tracker = sc.statusTracker()

    # warmup identical to bench.py
    wdocs = corpus_df(spark, 32 * cpus, n_partitions=cpus)
    extract_spans_arrow(wdocs, PAGE_SPEC).agg(F.count("error")).collect()

    results = {}

    def profile(name, build, action, repeats=3):
        if which and not any(name.startswith(w) for w in which):
            return
        best = None
        for r in range(repeats):
            sc.setJobDescription(f"{name} run{r}")
            jobs0 = set(tracker.getJobIdsForGroup(None) or [])
            t0 = time.perf_counter()
            df = build()
            t1 = time.perf_counter()
            action(df)
            t2 = time.perf_counter()
            jobs1 = set(tracker.getJobIdsForGroup(None) or [])
            n_jobs = len(jobs1 - jobs0)
            rec = {
                "build_s": round(t1 - t0, 3),
                "exec_s": round(t2 - t1, 3),
                "total_s": round(t2 - t0, 3),
                "jobs": n_jobs,
            }
            if best is None or rec["total_s"] < best["total_s"]:
                best = rec
        results[name] = best
        print(name, json.dumps(best), flush=True)
        if plans_dir:
            os.makedirs(plans_dir, exist_ok=True)
            df = build()
            with open(os.path.join(plans_dir, f"{name}.txt"), "w") as f:
                f.write(df._jdf.queryExecution().explainString(
                    spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")))

    def noop(df):
        df.write.format("noop").mode("overwrite").save()

    def count(df):
        df.count()

    profile(
        "q1_flagship_sf",
        lambda: flagship.q_flagship_extract_spans(spark, sf_dir),
        count,
    )

    scratch = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), ".bench-scratch", "corpus"
    )
    import shutil

    if which is None or "q0" in which or "q2" in which:
        shutil.rmtree(scratch, ignore_errors=True)
        sc.setJobDescription("q0_corpus_gen")
        t0 = time.perf_counter()
        corpus_df(spark, n_docs, n_partitions=cpus * 2).write.mode(
            "overwrite"
        ).parquet(scratch)
        t1 = time.perf_counter()
        results["q0_corpus_gen"] = {"total_s": round(t1 - t0, 3)}
        print("q0_corpus_gen", json.dumps(results["q0_corpus_gen"]), flush=True)

    if which is None or "q2" in which:
        docs = spark.read.parquet(scratch)

        def build_extract():
            return extract_spans_arrow(
                salted_repartition(docs, cpus * 2).select("doc_id", "spans"),
                PAGE_SPEC,
            )

        def agg_extract(out):
            out.agg(
                F.count("*").alias("n"),
                F.sum(F.size("spans_out")).alias("n_spans"),
                F.count("error").alias("n_err"),
            ).collect()

        profile("q2_corpus_extract", build_extract, agg_extract)
        # phase isolation: scan only / scan+shuffle / full
        sc.setJobDescription("q2 phase: scan+shuffle noop")
        t0 = time.perf_counter()
        salted_repartition(docs, cpus * 2).select("doc_id", "spans").write.format(
            "noop"
        ).mode("overwrite").save()
        t1 = time.perf_counter()
        print("q2_phase_scan_shuffle", round(t1 - t0, 3), flush=True)
        sc.setJobDescription("q2 phase: scan noop")
        t0 = time.perf_counter()
        docs.select("doc_id", "spans").write.format("noop").mode("overwrite").save()
        t1 = time.perf_counter()
        print("q2_phase_scan_only", round(t1 - t0, 3), flush=True)

    profile(
        "q3_dedup_minhash",
        lambda: dedup.q_dedup_minhash_lsh(spark, sf_dir),
        count,
    )
    profile(
        "q4_ann_bruteforce",
        lambda: similarity.q_ann_bruteforce(spark, sf_dir),
        count,
    )
    if which is None or "q5" in which:
        for sub, fn in [
            ("q5a_token_count", textstats.q_token_count),
            ("q5b_quality_score", textstats.q_quality_score),
            ("q5c_fingerprint", textstats.q_fingerprint),
        ]:
            profile(sub, lambda fn=fn: fn(spark, sf_dir), count)
    profile(
        "q6_dedup_lsh_adaptive",
        lambda: dedup.q_dedup_embedding_lsh_adaptive(spark, sf_dir),
        count,
    )
    profile(
        "q7_ann_ivf",
        lambda: similarity.q_ann_ivf(spark, sf_dir),
        count,
    )

    if which is None or "q8" in which:
        import pandas as pd
        from h2spark.ops.pdftext import (
            _synth_pages, parse_pdf_text, write_min_pdf,
        )

        n_pdfs = int(os.environ.get("H2SPARK_BENCH_PDFS", "4000"))

        def gen_parse(batches):
            for pdf in batches:
                n_blocks = 0
                for i in pdf["doc_id"]:
                    i = int(i)
                    data = write_min_pdf(
                        _synth_pages(i), compress_content=(i % 4 == 0)
                    )
                    n_blocks += len(parse_pdf_text(data)["blocks"])
                yield pd.DataFrame({"n_blocks": [n_blocks]})

        def build_pdf():
            return (
                spark.range(n_pdfs)
                .select(F.col("id").cast("int").alias("doc_id"))
                .repartition(cpus)
                .mapInPandas(gen_parse, "n_blocks long")
                .agg(F.sum("n_blocks"))
            )

        profile("q8_pdf_text_parse", build_pdf, lambda df: df.collect())

    print("RESULTS " + json.dumps(results), flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
