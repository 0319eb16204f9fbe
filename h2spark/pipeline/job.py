"""End-to-end extraction job: scan -> resume filter -> salted
repartition -> vectorized extract -> partitioned write -> manifests.

The Spark lifecycle of one run (SURVEY.md §3.3 "Spark lifecycle"):

    read input (hint-shaped spans table)
      -> with_ckpt_bucket (pure-hash bucket id)
      -> anti-join completed manifests           [resume]
      -> salted repartition, one key per doc     [skew]
      -> extract UDF (Arrow-batched pandas)      [the kernel]
      -> write parquet partitionBy(ckpt_bucket), dynamic overwrite
      -> read-back stats per bucket -> commit manifests atomically

Waves: buckets are processed in groups of ``wave_buckets``; each wave
commits its manifests before the next starts, bounding recompute loss
to one wave. At sandbox scale each wave re-scans the input (cheap); at
the 10^12-doc design point the input is Iceberg bucket-partitioned so
the wave filter prunes the scan (see manifests.py docstring).

Run via spark-submit:  spark-submit --py-files h2spark.zip scripts/submit_job.py
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame, SparkSession, functions as F

from h2spark.core.extract import compile_spec
from h2spark.core.spec import StructSpec
from h2spark.pipeline.kernel import extract_spans_arrow
from h2spark.pipeline.manifests import (
    BucketManifest,
    JobManifest,
    check_job_manifest,
    commit_manifest,
    completed_buckets,
    with_ckpt_bucket,
)
from h2spark.pipeline.salting import salted_repartition


def bucketize_input(
    spark: SparkSession,
    docs: DataFrame,
    path: str,
    n_buckets: int = 32,
) -> DataFrame:
    """Materialize the input partitioned by ``ckpt_bucket`` so each
    wave's read PRUNES to its buckets instead of re-scanning everything
    (the parquet stand-in for the Iceberg ``bucket(doc_id)`` partition
    transform at the 10^12-doc design point). Returns the re-opened,
    prune-ready DataFrame; pass it to run_extraction_job with
    ``input_is_bucketed=True``.

    The write repartitions ON the bucket column first: without it every
    upstream task writes a sliver into every bucket directory
    (tasks x buckets small files) and file-open overhead eats the
    pruning win. At petabyte scale pair this with
    ``spark.sql.files.maxRecordsPerFile`` to re-split giant buckets."""
    from pyspark.sql import functions as F

    files_per_bucket = 4  # keep some scan parallelism inside one wave
    # _fpart must be INDEPENDENT of ckpt_bucket: both derive from
    # xxhash64(doc_id), and h%4 == (h%32)%4 when 4 | 32 — an unseeded
    # second hash would be constant per bucket (1 file per bucket).
    # Seeding with an extra literal decorrelates the two.
    bucketed = with_ckpt_bucket(docs, n_buckets).withColumn(
        "_fpart",
        F.pmod(F.xxhash64("doc_id", F.lit("fpart")), F.lit(files_per_bucket)),
    )
    (
        bucketed.repartition(
            n_buckets * files_per_bucket, F.col("ckpt_bucket"), F.col("_fpart")
        )
        .drop("_fpart")
        .write.mode("overwrite")
        .partitionBy("ckpt_bucket")
        .parquet(path)
    )
    return spark.read.parquet(path)


def run_extraction_job(
    spark: SparkSession,
    docs: DataFrame,
    spec: StructSpec,
    out_dir: str,
    *,
    n_buckets: int = 32,
    wave_buckets: int = 8,
    n_partitions: int | None = None,
    input_lineage: str = "",
    max_waves: int | None = None,
    persist_input: bool = False,
    input_is_bucketed: bool = False,
) -> dict:
    """Run (or resume) the extraction job. Returns a summary dict.

    ``max_waves`` exists for the resume test: stop after k waves as if
    the job was killed; a subsequent call resumes without recomputing
    completed buckets.

    ``persist_input``: cache the bucketed input across waves — each
    wave otherwise re-scans the source (measured 3.2k vs 9.3k docs/s
    at 250k docs / 4 waves). Only for inputs that fit cluster memory.

    ``input_is_bucketed``: ``docs`` already carries a ``ckpt_bucket``
    partition column (written by :func:`bucketize_input` or an Iceberg
    ``bucket(doc_id)`` table). Each wave's ``isin`` filter then prunes
    the scan to the wave's partitions — no per-wave full re-scan and no
    per-row hash recompute. The bucket column MUST have been computed
    with the same n_buckets: the value range is validated up front from
    the partition directory listing (a file listing, not a data scan)
    and a resume additionally re-checks n_buckets against the job
    manifest.
    """
    cs = compile_spec(spec)  # validates selectors driver-side, once
    n_partitions = n_partitions or spark.sparkContext.defaultParallelism * 2
    job_id = uuid.uuid4().hex[:12]

    # refuse to resume under a different spec or bucket count — either
    # silently corrupts the output (manifests vouch for the wrong data)
    check_job_manifest(
        out_dir,
        JobManifest(
            spec_name=cs.name,
            n_buckets=n_buckets,
            input_lineage=input_lineage,
            job_id=job_id,
        ),
        spark=spark,
    )

    if input_is_bucketed:
        if "ckpt_bucket" not in docs.columns:
            raise ValueError(
                "input_is_bucketed=True but input has no ckpt_bucket column"
            )
        docs = docs.withColumn(
            "ckpt_bucket", F.col("ckpt_bucket").cast("int")
        )
        # a bucket-count mismatch would silently skip every bucket
        # >= n_buckets (waves only cover range(n_buckets)). Derive the
        # observed bucket range from the partition DIRECTORY names
        # (inputFiles carries .../ckpt_bucket=N/... for a partitioned
        # source — a listing, not a data scan; Spark's metadata-only
        # agg optimization is gone since 3.0, so min/max over the
        # column would re-read every row group at job start). Inputs
        # without partition directories (in-memory test frames) fall
        # back to the aggregation.
        import re as _re

        seen = {
            int(m.group(1))
            for f in docs.inputFiles()
            for m in [_re.search(r"[/\\]ckpt_bucket=(-?\d+)[/\\]", f)]
            if m
        }
        if seen:
            lo, hi = min(seen), max(seen)
        else:
            rng = docs.agg(
                F.min("ckpt_bucket").alias("lo"),
                F.max("ckpt_bucket").alias("hi"),
            ).first()
            lo, hi = rng["lo"], rng["hi"]
        if hi is not None and (lo < 0 or hi >= n_buckets):
            raise ValueError(
                f"bucketed input has ckpt_bucket range [{lo}, "
                f"{hi}] incompatible with n_buckets={n_buckets}; "
                "re-bucketize or pass the matching n_buckets"
            )
    else:
        docs = with_ckpt_bucket(docs, n_buckets)
    if persist_input:
        docs = docs.persist()
    done = completed_buckets(out_dir, spark=spark)
    todo = [b for b in range(n_buckets) if b not in done]
    waves = [
        todo[i:i + wave_buckets] for i in range(0, len(todo), wave_buckets)
    ]
    if max_waves is not None:
        waves = waves[:max_waves]

    data_dir = f"{out_dir}/data"
    ran = []
    from pyspark.sql import Observation

    for wave in waves:
        wave_df = docs.where(F.col("ckpt_bucket").isin(wave))
        wave_df = salted_repartition(wave_df, n_partitions)
        out = extract_spans_arrow(
            wave_df.select("doc_id", "ckpt_bucket", "spans"),
            cs,
            keep=("doc_id", "ckpt_bucket"),
        )
        # manifest metrics observed DURING the write pass (per-bucket
        # conditional aggregates) — the round-1 implementation re-read
        # each wave's freshly written output to compute them, a full
        # extra scan per wave that dominated wave overhead
        obs = Observation(f"wave-{wave[0]}")
        metric_exprs = []
        for b in wave:
            is_b = F.col("ckpt_bucket") == b
            metric_exprs.append(
                F.sum(F.when(is_b, 1).otherwise(0)).alias(f"docs_{b}")
            )
            metric_exprs.append(
                F.sum(
                    F.when(is_b, F.coalesce(F.size("spans_out"), F.lit(0)))
                    .otherwise(0)
                ).alias(f"spans_{b}")
            )
            metric_exprs.append(
                F.sum(
                    F.when(is_b & F.col("error").isNotNull(), 1).otherwise(0)
                ).alias(f"errs_{b}")
            )
        (
            out.observe(obs, metric_exprs[0], *metric_exprs[1:])
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("ckpt_bucket")
            .parquet(data_dir)
        )
        got = obs.get  # blocks until the write action completes
        for b in wave:
            commit_manifest(
                out_dir,
                BucketManifest(
                    bucket=b,
                    n_docs=int(got[f"docs_{b}"] or 0),
                    n_spans=int(got[f"spans_{b}"] or 0),
                    n_errors=int(got[f"errs_{b}"] or 0),
                    input_lineage=input_lineage,
                    spec_name=cs.name,
                    job_id=job_id,
                ),
                spark=spark,
            )
        ran.append(wave)

    if persist_input:
        docs.unpersist()
    all_done = completed_buckets(out_dir, spark=spark)
    return {
        "job_id": job_id,
        "resumed_buckets": sorted(done),
        "ran_waves": ran,
        "completed": len(all_done),
        "n_buckets": n_buckets,
        "n_docs": sum(m.n_docs for m in all_done.values()),
        "n_spans": sum(m.n_spans for m in all_done.values()),
        "n_errors": sum(m.n_errors for m in all_done.values()),
    }


def _main(argv: list[str] | None = None) -> None:
    """spark-submit entry point.

    Typical cluster invocation:

        python -m h2spark.pipeline.session package  # build h2spark.zip
        spark-submit --py-files h2spark.zip scripts/submit_job.py \
            --input in/ --output out/ \
            --spec-module myspecs --spec PAGE_SPEC --buckets 256

    (spark-submit takes an application FILE, not a ``-m`` module —
    scripts/submit_job.py is that file; tests/test_spark_submit.py
    drives this exact invocation end to end.)

    ``--spec-module``/``--spec`` name a module-level StructSpec; default
    is the golden README Page spec.
    """
    import argparse
    import importlib
    import json

    from h2spark.pipeline.session import get_spark

    p = argparse.ArgumentParser(description="h2spark extraction job")
    p.add_argument("--input", required=True, help="spans parquet path")
    p.add_argument("--output", required=True, help="output directory")
    p.add_argument("--spec-module", default="h2spark.golden")
    p.add_argument("--spec", default="PAGE_SPEC")
    p.add_argument("--spec-json", default=None,
                   help="path to a JSON spec file (overrides --spec-module)")
    p.add_argument("--buckets", type=int, default=32)
    p.add_argument("--wave-buckets", type=int, default=8)
    p.add_argument("--partitions", type=int, default=None)
    p.add_argument("--master", default=None)
    p.add_argument(
        "--bucketed-input", action="store_true",
        help="input is already partitioned by ckpt_bucket (written by "
        "bucketize_input or an Iceberg bucket(doc_id) table): waves "
        "prune their scan instead of re-scanning + re-hashing",
    )
    args = p.parse_args(argv)

    if args.spec_json:
        from h2spark.core.specjson import spec_from_json

        with open(args.spec_json) as f:
            spec = spec_from_json(f.read())
    else:
        spec = getattr(importlib.import_module(args.spec_module), args.spec)
    from h2spark.pipeline.sources import (
        current_snapshot_id,
        is_table_identifier,
        load_docs,
        parquet_snapshot_lineage,
        pin_parquet_files,
        snapshot_lineage,
    )

    spark = get_spark("h2spark-job", master=args.master)
    # resolve the snapshot ONCE so every wave reads identical data:
    # Iceberg pins the snapshot id; plain parquet pins the file list
    sid = current_snapshot_id(spark, args.input)
    if sid is None and not is_table_identifier(args.input):
        pinned = pin_parquet_files(spark, args.input)
        docs = load_docs(spark, args.input, pinned_files=pinned)
        lineage = parquet_snapshot_lineage(pinned)
    else:
        docs = load_docs(spark, args.input, snapshot_id=sid)
        lineage = snapshot_lineage(spark, args.input)
    summary = run_extraction_job(
        spark,
        docs,
        spec,
        args.output,
        n_buckets=args.buckets,
        wave_buckets=args.wave_buckets,
        n_partitions=args.partitions,
        input_lineage=lineage,
        input_is_bucketed=args.bucketed_input,
    )
    print(json.dumps(summary))
    spark.stop()


if __name__ == "__main__":
    _main()
