"""Pipeline hardening tests: salting determinism, manifest protocol,
kill-and-resume without recomputation (SURVEY.md §5 strategy (d))."""

import os

from pyspark.sql import functions as F

from h2spark.fixtures import corpus_df
from h2spark.golden import PAGE_SPEC
from h2spark.pipeline.job import run_extraction_job
from h2spark.pipeline.manifests import completed_buckets, with_ckpt_bucket
from h2spark.pipeline.salting import salted_repartition, with_doc_stats


def _data_files(out_dir):
    files = {}
    data = os.path.join(out_dir, "data")
    for dirpath, _, fns in os.walk(data):
        for fn in fns:
            if fn.endswith(".parquet"):
                p = os.path.join(dirpath, fn)
                files[os.path.relpath(p, data)] = os.path.getmtime(p)
    return files


def test_salt_is_deterministic_pure_function(spark):
    docs = corpus_df(spark, 50, n_partitions=4)
    a = salted_repartition(docs, 8).select("doc_id", "size_bucket", "salt")
    b = salted_repartition(docs, 8).select("doc_id", "size_bucket", "salt")
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))


def test_salted_repartition_balances_bytes(spark, tmp_path):
    # per-document keys: a clamped parquet scan and a resume wave (8 of
    # 32 ckpt_buckets) both spread doc_bytes within 15% of the median
    # partition. A key with 32 values per partition read 1.35 and 1.72
    # on this corpus: too few key groups per partition, and the wave
    # held only the keys congruent to its buckets.
    import statistics

    p = str(tmp_path / "corpus")
    corpus_df(spark, 8000, n_partitions=4).write.parquet(p)
    docs = spark.read.parquet(p)
    wave = with_ckpt_bucket(docs, 32).where(F.col("ckpt_bucket") < 8)
    for df in (docs, wave):
        sal = salted_repartition(df, 64)
        assert sal.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism
        sizes = sorted(
            r["b"] for r in sal.groupBy(F.spark_partition_id())
            .agg(F.sum("doc_bytes").alias("b")).collect()
        )
        assert sizes[-1] / statistics.median(sizes) <= 1.15, sizes


def test_size_buckets_reflect_doc_bytes(spark):
    docs = corpus_df(spark, 50, n_partitions=4)
    rows = with_doc_stats(docs).select("doc_bytes", "size_bucket").collect()
    import math

    for r in rows:
        assert r["size_bucket"] == math.floor(math.log2(r["doc_bytes"] + 2))


def test_ckpt_bucket_stable_across_parallelism(spark):
    a = with_ckpt_bucket(corpus_df(spark, 40, n_partitions=2), 16)
    b = with_ckpt_bucket(corpus_df(spark, 40, n_partitions=8), 16)
    assert sorted(map(tuple, a.select("doc_id", "ckpt_bucket").collect())) == \
        sorted(map(tuple, b.select("doc_id", "ckpt_bucket").collect()))


def test_job_runs_and_commits_manifests(spark, tmp_path):
    out = str(tmp_path / "out")
    docs = corpus_df(spark, 60, n_partitions=4)
    summary = run_extraction_job(
        spark, docs, PAGE_SPEC, out, n_buckets=8, wave_buckets=8,
        input_lineage="corpus_df(60, seed=42)",
    )
    assert summary["completed"] == 8
    assert summary["n_docs"] == 60
    assert summary["n_errors"] == 0
    assert summary["n_spans"] > 0
    # output is readable and complete
    got = spark.read.parquet(f"{out}/data")
    assert got.count() == 60
    assert got.where(F.col("spans_out").isNull()).count() == 0
    # manifests carry lineage
    ms = completed_buckets(out)
    assert all(m.input_lineage == "corpus_df(60, seed=42)" for m in ms.values())
    assert all(m.spec_name == "Page" for m in ms.values())


def test_bucketized_input_prunes_and_matches(spark, tmp_path):
    from h2spark.pipeline.job import bucketize_input

    out_a = str(tmp_path / "out_plain")
    out_b = str(tmp_path / "out_bucketed")
    docs = corpus_df(spark, 60, n_partitions=4)
    sa = run_extraction_job(
        spark, docs, PAGE_SPEC, out_a, n_buckets=8, wave_buckets=2,
        input_lineage="x",
    )
    bdocs = bucketize_input(
        spark, docs, str(tmp_path / "bucketed_in"), n_buckets=8
    )
    # the wave filter must reach the scan as a PARTITION filter (prune),
    # not a post-scan predicate
    plan = bdocs.where(F.col("ckpt_bucket").isin([0, 1]))._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "ckpt_bucket" in plan.split("PartitionFilters", 1)[1][:200]
    sb = run_extraction_job(
        spark, bdocs, PAGE_SPEC, out_b, n_buckets=8, wave_buckets=2,
        input_lineage="x", input_is_bucketed=True,
    )
    assert sb["completed"] == sa["completed"] == 8
    assert sb["n_docs"] == sa["n_docs"] == 60
    a = spark.read.parquet(f"{out_a}/data").select(
        "doc_id", "spans_out", "error"
    ).collect()
    b = spark.read.parquet(f"{out_b}/data").select(
        "doc_id", "spans_out", "error"
    ).collect()
    key = lambda r: r["doc_id"]
    assert sorted(a, key=key) == sorted(b, key=key)


def test_bucketized_input_rejects_bucket_count_mismatch(spark, tmp_path):
    import pytest

    from h2spark.pipeline.job import bucketize_input

    docs = corpus_df(spark, 40, n_partitions=4)
    bdocs = bucketize_input(
        spark, docs, str(tmp_path / "b64"), n_buckets=64
    )
    # running with n_buckets=8 would silently skip buckets 8..63
    with pytest.raises(ValueError, match="incompatible with n_buckets"):
        run_extraction_job(
            spark, bdocs, PAGE_SPEC, str(tmp_path / "out"),
            n_buckets=8, wave_buckets=8, input_is_bucketed=True,
        )


def test_bucketized_input_rejects_negative_buckets(spark, tmp_path):
    import pytest

    # buckets computed with signed arithmetic (hash % n, not pmod) write
    # ckpt_bucket=-1 partition dirs; the directory-listing validation
    # must see them (regex must match the minus sign)
    h = F.crc32(F.col("doc_id").cast("string")) % 4
    docs = corpus_df(spark, 20, n_partitions=2).withColumn(
        "ckpt_bucket", F.when(h == 0, -1).otherwise(h).cast("int")
    )
    path = str(tmp_path / "neg")
    docs.write.partitionBy("ckpt_bucket").parquet(path)
    bad = spark.read.parquet(path)
    with pytest.raises(ValueError, match="incompatible with n_buckets"):
        run_extraction_job(
            spark, bad, PAGE_SPEC, str(tmp_path / "out_neg"),
            n_buckets=4, wave_buckets=4, input_is_bucketed=True,
        )


def test_bucketize_writes_multiple_files_per_bucket(spark, tmp_path):
    from h2spark.pipeline.job import bucketize_input

    # _fpart must be decorrelated from ckpt_bucket (both hash doc_id):
    # with enough docs each bucket directory holds >1 file
    bucketize_input(
        spark, corpus_df(spark, 400, n_partitions=8),
        str(tmp_path / "b"), n_buckets=4,
    )
    import glob

    counts = [
        len(glob.glob(str(tmp_path / "b" / f"ckpt_bucket={b}" / "*.parquet")))
        for b in range(4)
    ]
    assert all(c > 1 for c in counts), counts


def test_kill_and_resume_without_recompute(spark, tmp_path):
    out = str(tmp_path / "out")
    docs = corpus_df(spark, 60, n_partitions=4)

    # run 1: killed after one wave (2 of 8 buckets per wave -> 1 wave done)
    s1 = run_extraction_job(
        spark, docs, PAGE_SPEC, out, n_buckets=8, wave_buckets=2, max_waves=1
    )
    assert s1["completed"] == 2
    files_after_kill = _data_files(out)
    assert files_after_kill

    # run 2: resumes, completes the rest
    s2 = run_extraction_job(
        spark, docs, PAGE_SPEC, out, n_buckets=8, wave_buckets=2
    )
    assert s2["resumed_buckets"] == sorted(s1["ran_waves"][0])
    assert s2["completed"] == 8
    assert s2["n_docs"] == 60

    # completed buckets were NOT recomputed: their files untouched
    files_after_resume = _data_files(out)
    for rel, mtime in files_after_kill.items():
        assert rel in files_after_resume
        assert files_after_resume[rel] == mtime, f"{rel} was rewritten"

    # and the final output is complete & correct
    got = spark.read.parquet(f"{out}/data")
    assert got.count() == 60
    assert got.select("doc_id").distinct().count() == 60


def test_rerun_of_complete_job_is_noop(spark, tmp_path):
    out = str(tmp_path / "out")
    docs = corpus_df(spark, 30, n_partitions=2)
    run_extraction_job(spark, docs, PAGE_SPEC, out, n_buckets=4)
    files = _data_files(out)
    s = run_extraction_job(spark, docs, PAGE_SPEC, out, n_buckets=4)
    assert s["ran_waves"] == []
    assert _data_files(out) == files


def test_resume_refuses_config_mismatch(spark, tmp_path):
    import pytest

    from h2spark.core.spec import ONE, Field, Scalar, StructSpec
    from h2spark.pipeline.manifests import ResumeMismatch

    out = str(tmp_path / "out")
    docs = corpus_df(spark, 20, n_partitions=2)
    run_extraction_job(spark, docs, PAGE_SPEC, out, n_buckets=4)

    # different bucket count: bucket membership changes -> refuse
    with pytest.raises(ResumeMismatch):
        run_extraction_job(spark, docs, PAGE_SPEC, out, n_buckets=8)

    # different spec: manifests vouch for the wrong data -> refuse
    other = StructSpec("Other", [Field("t", Scalar("String"), ONE, select="body")])
    with pytest.raises(ResumeMismatch):
        run_extraction_job(spark, docs, other, out, n_buckets=4)

    # same config: resume is a no-op
    s = run_extraction_job(spark, docs, PAGE_SPEC, out, n_buckets=4)
    assert s["ran_waves"] == []


def test_job_handles_empty_input(spark, tmp_path):
    out = str(tmp_path / "out")
    empty = corpus_df(spark, 1, n_partitions=1).where("doc_id = 'nope'")
    s = run_extraction_job(spark, empty, PAGE_SPEC, out, n_buckets=4)
    assert s["completed"] == 4
    assert s["n_docs"] == 0


def test_kernel_total_over_null_span_fields(spark):
    from h2spark.pipeline.kernel import extract_spans_arrow

    df = spark.createDataFrame(
        [
            ("nullel", [None]),
            ("nullfields", [("text", None, None, None)]),
            ("mixed", [("text", "<html lang='x'><body></body></html>", "", 0),
                       (None, None, None, None)]),
        ],
        "doc_id string, spans array<struct<kind:string,text:string,"
        "media_ref:string,offset:int>>",
    )
    from h2spark.core.spec import ONE, Field, Scalar, StructSpec

    spec = StructSpec("S", [Field("lang", Scalar("String"), ONE, attr="lang")])
    rows = {r["doc_id"]: r for r in extract_spans_arrow(df, spec).collect()}
    # no task failure; every row has exactly one of spans_out/error
    for r in rows.values():
        assert (r["spans_out"] is None) != (r["error"] is None)
    assert rows["mixed"]["error"] is None
    assert rows["mixed"]["spans_out"][0]["text"] == "x"


def test_source_routing_and_parquet_fallback(spark, tmp_path):
    from h2spark.pipeline.sources import (
        current_snapshot_id, iceberg_available, is_table_identifier,
        load_docs,
    )

    # identifier classification: dotted names are catalog tables,
    # anything path-like is storage
    assert is_table_identifier("cat.db.docs")
    assert is_table_identifier("db.docs")
    assert not is_table_identifier("corpus")
    assert not is_table_identifier("/data/docs.parquet")
    assert not is_table_identifier("s3://bucket/docs")
    assert not is_table_identifier("dir/sub.docs")

    # no Iceberg jars in this sandbox: probe is False and the parquet
    # fallback loads the same schema the Iceberg path would
    assert iceberg_available(spark) is False
    assert current_snapshot_id(spark, "cat.db.docs") is None
    p = str(tmp_path / "docs")
    corpus_df(spark, 8, n_partitions=2).write.parquet(p)
    got = load_docs(spark, p)
    assert got.count() == 8 and "spans" in got.columns


def test_bucketed_join_is_shuffle_free(spark):
    """Tables bucketed+sorted on the join key join with NO Exchange on
    either side (the pay-the-shuffle-once storage layout): the
    recurring docs x verdicts join reads co-located buckets."""
    from pyspark.sql import functions as F

    from h2spark.pipeline.bucketing import read_table, write_bucketed

    docs = spark.range(2000).select(
        F.col("id").alias("doc_id"),
        (F.col("id") % 7).alias("lang_code"),
    )
    verdicts = spark.range(2000).select(
        F.col("id").alias("doc_id"),
        (F.col("id") % 3 == 0).alias("kept"),
    )
    write_bucketed(docs, "bt_docs", "doc_id", 8, sort_cols="doc_id")
    write_bucketed(verdicts, "bt_verdicts", "doc_id", 8, sort_cols="doc_id")
    try:
        a = read_table(spark, "bt_docs")
        b = read_table(spark, "bt_verdicts")
        old_thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            joined = a.join(b, "doc_id")
            jvm = spark._jvm
            plan = joined._jdf.queryExecution().explainString(
                jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                    "formatted"
                )
            )
            assert "SortMergeJoin" in plan, plan[:2000]
            assert "Exchange" not in plan, plan[:2000]
            # and the join is correct
            got = joined.where("kept").count()
            assert got == 2000 // 3 + 1
        finally:
            spark.conf.set(
                "spark.sql.autoBroadcastJoinThreshold", old_thresh
            )
    finally:
        spark.sql("DROP TABLE IF EXISTS bt_docs")
        spark.sql("DROP TABLE IF EXISTS bt_verdicts")


def test_warc_source_to_extraction(spark, tmp_path):
    """Crawl ingestion end-to-end: WARC files (per-record gzip, the
    Common Crawl layout) -> html rows -> the real extraction kernel."""
    from pyspark.sql import functions as F

    from h2spark.core.spec import ONE, Field, Scalar, StructSpec
    from h2spark.core.warc import write_warc_file
    from h2spark.pipeline.kernel import make_extract_typed_udf
    from h2spark.pipeline.sources import read_warc

    wdir = tmp_path / "warc"
    wdir.mkdir()
    for f in range(3):
        recs = []
        for r in range(4):
            i = f * 4 + r
            recs.append(
                (
                    f"https://example.com/p/{i}",
                    "2024-01-01T00:00:00Z",
                    f"<html><body><h1>t{i}</h1><p>body {i}</p></body></html>",
                )
            )
        # mix per-record-gzip and plain files
        (wdir / f"part-{f}.warc.gz").write_bytes(
            write_warc_file(recs, per_record_gzip=(f != 1))
        )
    docs = read_warc(spark, str(wdir))
    assert docs.count() == 12

    spec = StructSpec(
        "Page", [Field("title", Scalar("String"), ONE, select="h1")]
    )
    udf = make_extract_typed_udf(spec, input_kind="html")
    out = docs.select("url", udf(F.col("html")).alias("o")).select(
        "url", F.col("o.value.title").alias("title"), F.col("o.error")
    )
    rows = {r["url"]: r["title"] for r in out.collect()}
    assert len(rows) == 12
    assert rows["https://example.com/p/7"] == "t7"
    assert all(v is not None for v in rows.values())


def test_warc_parser_tolerates_truncation_and_non_html():
    from h2spark.core.warc import (
        iter_html_responses, write_warc_file, write_warc_response,
    )

    good = write_warc_file(
        [("u1", "d1", "<p>one"), ("u2", "d2", "<p>two")],
        per_record_gzip=False,
    )
    # truncate mid-record: the complete first record still parses
    cut = good[: len(good) - 30]
    got = list(iter_html_responses(cut))
    assert [u for u, _, _ in got] == ["u1"]
    # non-response records are skipped
    req = good.replace(b"WARC-Type: response", b"WARC-Type: request", 1)
    assert [u for u, _, _ in iter_html_responses(req)] == ["u2"]
    assert list(iter_html_responses(b"garbage")) == []


def test_pinned_parquet_snapshot_isolation(spark, tmp_path):
    """pin_parquet_files freezes the input file set: a concurrent
    append is invisible to the running job (the plain-parquet analog of
    Iceberg's snapshot-id pinning), and the lineage digest changes with
    the file set so a resume can detect drift."""
    from h2spark.pipeline.sources import (
        load_docs, parquet_snapshot_lineage, pin_parquet_files,
    )

    src = str(tmp_path / "docs")
    spark.range(100).selectExpr("id AS doc_id").write.parquet(src)
    pinned = pin_parquet_files(spark, src)
    lineage1 = parquet_snapshot_lineage(pinned)
    assert load_docs(spark, src, pinned_files=pinned).count() == 100
    # concurrent append lands mid-job
    spark.range(100, 150).selectExpr("id AS doc_id").write.mode(
        "append"
    ).parquet(src)
    assert load_docs(spark, src, pinned_files=pinned).count() == 100
    assert load_docs(spark, src).count() == 150  # unpinned sees it
    pinned2 = pin_parquet_files(spark, src)
    assert parquet_snapshot_lineage(pinned2) != lineage1


def test_bucketed_band_index_gate_join_shuffles_only_stream_side(
    spark, tmp_path
):
    """The r7 incremental/streaming dedup story end-to-end: store the
    corpus MinHash band index BUCKETED on band_key, and the gate's
    per-band join must not exchange the index side — only the (small)
    incoming batch moves.  This is what makes daily-crawl dedup
    against a 10^12-doc index affordable: the index is read in place,
    bucket-for-bucket."""
    from pyspark.sql import functions as F

    from h2spark.ops.dedup import minhash_band_table
    from h2spark.pipeline.bucketing import read_table, write_bucketed
    from h2spark.pipeline.streaming import near_dup_gate

    d = (
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .select("doc_id", "text", "lang")
    )
    is_new = F.pmod(F.col("doc_id"), F.lit(5)) == 0
    spark.sql("DROP TABLE IF EXISTS band_index_r7")
    write_bucketed(
        minhash_band_table(d.where(~is_new)).select("band", "band_key"),
        "band_index_r7",
        "band_key",
        8,
    )
    try:
        idx = read_table(spark, "band_index_r7")
        gated = near_dup_gate(d.where(is_new), idx)
        plan = gated._jdf.queryExecution().executedPlan().toString()
        # the index is scanned 4x (one per band); none of those scans
        # may sit under an Exchange — bucketing provides the
        # hash-partitioning the join needs
        import re

        segs = plan.split("FileScan parquet")
        idx_scans = [s for s in segs[1:] if "band_index_r7" in s.split("\n")[0]]
        assert len(idx_scans) == 4
        n_exchanges = plan.count("Exchange hashpartitioning")
        # stream side: 4 joins need the probe side exchanged at most
        # once per join; the index side adds ZERO (8 would appear if
        # both sides shuffled)
        assert n_exchanges <= 4, plan[:4000]
        # and the result is still correct
        batch = {
            r["doc_id"]
            for r in near_dup_gate(
                d.where(is_new), minhash_band_table(d.where(~is_new))
            ).collect()
        }
        assert {r["doc_id"] for r in gated.collect()} == batch
    finally:
        spark.sql("DROP TABLE IF EXISTS band_index_r7")
