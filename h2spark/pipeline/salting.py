"""Per-document hashed repartitioning — the skew defense (SURVEY.md §4.2).

Long-tail HTML skew: document cost is roughly linear in HTML bytes, and
web corpora are log-normal — a handful of documents are 100-1000x the
median. AQE's skew-join splitting doesn't apply (the extraction is a
map stage, not a join), so the balance has to come from the partition
key.

Fix: the key is ``salt = xxhash64(doc_id)``, a **pure function of
doc_id** (never rand(), so re-runs and resumes are deterministic) with
one distinct value per document. Every document then lands on a task
independently of every other, so each task's byte load is a sum over
~N/n independent documents and concentrates near the mean (law of large
numbers over documents); no task gets two whales except by the same
chance as any other pair.

``doc_bytes``/``size_bucket`` (with_doc_stats) ride along for manifest
metrics and monitoring; the key does not use them. All Spark-side:
F.aggregate over the span array for doc_bytes (no UDF, stays in
codegen), xxhash64 for the key.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

# target input bytes per Python-kernel task when clamping a salted
# repartition on a small input (r8): small enough that a whale-free
# task stays ~1s of parse, large enough that the fixed per-task
# Arrow/worker round-trip is amortized
_TARGET_KERNEL_TASK_BYTES = 4 << 20


def with_doc_stats(df: DataFrame, spans_col: str = "spans") -> DataFrame:
    """Add doc_bytes (total text length incl. media refs) and size_bucket."""
    # coalesce: one null text/media_ref must not poison the fold to NULL
    doc_bytes = F.aggregate(
        F.col(spans_col),
        F.lit(0).cast("long"),
        lambda acc, s: acc
        + F.coalesce(F.length(s["text"]), F.lit(0))
        + F.coalesce(F.length(s["media_ref"]), F.lit(0)),
    )
    return df.withColumn("doc_bytes", doc_bytes).withColumn(
        "size_bucket",
        F.floor(F.log2(F.col("doc_bytes") + F.lit(2))).cast("int"),
    )


def ensure_min_parallelism(
    df: DataFrame, key_col: str = "doc_id", min_parts: int | None = None
) -> DataFrame:
    """Spread a CPU-heavy kernel input over at least ``min_parts``
    (default: defaultParallelism) tasks — ONLY when the scan itself
    yields fewer.

    Single-file/single-row-group parquet inputs (the sandbox sf tables)
    produce ONE scan task, so a Python kernel downstream runs on one of
    N cores (r8 measurement: the flagship kernel stage was 1 task at
    every sf). At production scale the scan already has thousands of
    splits and this is a NO-OP — the partition-count check is what
    keeps the extra exchange from ever touching a corpus-sized input.
    The repartition key is ``xxhash64(key_col)``, one value per row
    (same rationale as :func:`salted_repartition`: balanced over rows,
    reproducible across runs).
    """
    sc = df.sparkSession.sparkContext
    n = min_parts or sc.defaultParallelism
    # guard: only act on scan-shaped plans. On lineage containing an
    # exchange, .rdd under AQE eagerly executes query stages (a job at
    # plan-build time), and such inputs are already shuffle-partitioned
    # anyway.
    if not _is_scan_shaped(df):
        return df
    # .rdd on an exchange-free scan plan is pure planning, no job
    if df.rdd.getNumPartitions() >= n:
        return df
    return df.repartition(n, F.xxhash64(F.col(key_col)))


def _is_scan_shaped(df: DataFrame) -> bool:
    """True when the optimized logical plan is just projections/filters
    over a relation — no shuffle-introducing node. Node names are
    matched at LINE STARTS of the plan tree (r8 review: a raw substring
    test false-positived on column names / paths containing e.g.
    'sort_key' or '.../joined/')."""
    lp = df._jdf.queryExecution().optimizedPlan().toString()
    blockers = (
        "Join", "Repartition", "Aggregate", "Sort", "Window",
        "Distinct", "Deduplicate", "Expand", "GlobalLimit",
    )
    for line in lp.splitlines():
        node = line.lstrip(" +-:*!'")
        if node.startswith(blockers):
            return False
    return True


def salted_repartition(
    df: DataFrame,
    n_partitions: int,
    doc_id_col: str = "doc_id",
    spans_col: str = "spans",
) -> DataFrame:
    """Deterministic skew-defusing repartition.

    Partition key = ``salt`` = xxhash64(doc_id): a pure hash of doc_id
    (reproducible across runs and cluster sizes) with one distinct key
    per document. A coarser key (e.g. pmod(hash, n * 32), 32 keys per
    partition) makes the per-partition load a sum over only ~32 key
    groups, which hash onto the partitions with a relative error of
    about sqrt(32)/32 — measured max/median bytes 1.35 at 4 partitions,
    and worse on a resume wave where only a quarter of the keys occur.
    With per-document keys the load is a sum over ~N/n documents and
    concentrates near the mean, and whale documents spread
    independently of the small ones.

    ``salt``, ``size_bucket`` and ``doc_bytes`` columns are retained for
    manifest metrics and monitoring (with_doc_stats). A single document
    can never be split — the residual worst case is one whale per task,
    which is the floor any row-partitioned engine has.

    r8: ``n_partitions`` is the CAP, not always the exact count. When
    the input's optimizer size estimate is known (parquet scans) and
    small, the effective count drops toward a defaultParallelism floor
    — the Python-stage analogue of AQE's bytes-based partition
    coalescing (every extra kernel task costs a fixed Arrow/worker
    round-trip; 64 -> 32 tasks on the 24k-doc bench corpus was a 30%
    q2 win, interleaved A/B). At production sizes
    ceil(bytes/_TARGET_KERNEL_TASK_BYTES) >> n_partitions, so the
    requested count always wins and nothing changes at scale. Inputs
    with no size estimate (in-memory lineage, estimate = defaultSize
    sentinel) keep the exact requested count — also what the
    keeps-requested-parallelism pin exercises.
    """
    df = with_doc_stats(df, spans_col)
    n_eff = n_partitions
    try:
        qe = df._jdf.queryExecution().optimizedPlan()
        size = int(qe.stats().sizeInBytes())
        # r8 review: LocalRelation (createDataFrame-from-rows) reports
        # a real byte size too, but bytes are a poor proxy for the
        # kernel cost of hand-built test/driver frames — clamp only
        # FILE-backed inputs, where the estimate is the scan size
        is_local = any(
            ln.lstrip(" +-:*!'").startswith("LocalRelation")
            for ln in qe.toString().splitlines()
        )
    except Exception:
        size, is_local = None, True
    if size is not None and not is_local and 0 < size < (1 << 60):
        dp = df.sparkSession.sparkContext.defaultParallelism
        n_eff = min(
            n_partitions,
            max(dp, -(-size // _TARGET_KERNEL_TASK_BYTES)),
        )
    salt = F.xxhash64(F.col(doc_id_col))
    return df.withColumn("salt", salt).repartition(n_eff, F.col("salt"))
