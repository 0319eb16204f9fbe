"""The flagship query: full interleaved-span extraction end-to-end.

Builds the hint-shaped spans table from the driver's ``documents``
parquet with pure SQL (text split into thirds stored out of order, one
media span interleaved), runs the real flattened-extraction kernel
(offset sort -> HTML reassembly -> DOM -> selectors -> flatten), and
explodes the resulting span sequence. The DuckDB oracle enumerates the
expected (kind, text, media_ref, order) rows — 4 per document — so the
driver's gate checks the complete north_rule invariant per row.

The result is ordered by (doc_id, ord) without an ``orderBy`` on the
kernel output. A global sort puts a range exchange above the kernel,
and its RangePartitioner first runs a sampling job over the whole
child stage — the kernel included — so every document was parsed
twice (a plan-node count cannot see this: the kernel appears once in
the plan). Instead the raw ``documents`` scan is range-partitioned on
doc_id before the span structs are built; the kernel, the explode and
the projections keep every row in its partition, so a
``sortWithinPartitions`` leaves the collected rows globally ordered.
One exchange, carrying each byte once, and the sample reads a parquet
scan instead of re-running the kernel.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from h2spark.core.spec import ONE, Field, Scalar, StructSpec

FLAGSHIP_SPEC = StructSpec(
    "Doc",
    [
        Field("lang_out", Scalar("String"), ONE, attr="lang"),
        Field("text_out", Scalar("String"), ONE, select="article.main"),
        Field("src_out", Scalar("String"), ONE, select="footer > span"),
    ],
)


def docs_to_interleaved_spans(d: DataFrame) -> DataFrame:
    """documents(doc_id, text, lang, source) -> hint-shaped spans rows.

    HTML = header + escaped text + footer, split into three text spans
    stored out of order, plus one media span between spans 1 and 2.
    """
    from h2spark.ops._shared import esc_html

    esc = esc_html(F.col("text"))
    html = F.concat(
        F.lit('<html lang="'), F.col("lang"),
        F.lit('"><body><article class="main">'), esc,
        F.lit("</article><footer><span>"), F.col("source"),
        F.lit("</span></footer></body></html>"),
    )
    n = F.length(html)
    third = (n / 3).cast("int")
    part = lambda start, length: F.substring(html, start, length)
    s0 = F.struct(
        F.lit("text").alias("kind"),
        part(F.lit(1), third).alias("text"),
        F.lit("").alias("media_ref"),
        F.lit(0).alias("offset"),
    )
    s1 = F.struct(
        F.lit("text").alias("kind"),
        part(third + 1, third).alias("text"),
        F.lit("").alias("media_ref"),
        third.alias("offset"),
    )
    s2 = F.struct(
        F.lit("text").alias("kind"),
        part(third * 2 + 1, n).alias("text"),
        F.lit("").alias("media_ref"),
        (third * 2).alias("offset"),
    )
    media = F.struct(
        F.lit("media").alias("kind"),
        F.lit("").alias("text"),
        F.concat(F.lit("media://img/"), F.col("doc_id")).alias("media_ref"),
        (third + 1).alias("offset"),
    )
    return (
        # deliberately out of order: kernels must sort by offset
        F.array(s2, media, s0, s1).alias("spans")
    )


def q_flagship_extract_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    from h2spark.pipeline.kernel import extract_spans_arrow

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    # The one exchange: range-partition the raw scan on doc_id (see the
    # module docstring). Partition count = max(defaultParallelism, scan
    # splits): the sf documents table is one row group, i.e. ONE scan
    # task, so the floor spreads the kernel over every core; at scale
    # the scan's own split count wins and the kernel never gets fewer
    # tasks than the scan had. The count is explicit because AQE
    # coalesces a no-count repartitionByRange by bytes, which need not
    # keep the floor; an explicit count is never coalesced. .rdd on a
    # bare parquet scan is pure planning, no job.
    n = max(spark.sparkContext.defaultParallelism, d.rdd.getNumPartitions())
    d = d.repartitionByRange(n, "doc_id")
    docs = d.select("doc_id", docs_to_interleaved_spans(d))
    # r8: mapInArrow kernel instead of the scalar pandas UDF — the
    # Arrow->pandas materialization of the nested spans input cost ~1.7x
    # the whole kernel stage (interleaved A/B, BENCH.md r8); rows are
    # bit-identical (pinned by the oracle hash)
    out = extract_spans_arrow(docs, FLAGSHIP_SPEC)
    return (
        # explode_outer: a plain explode lets Catalyst infer a
        # size()>0 filter on the UDF output BELOW the Generate, which
        # re-evaluates the extraction kernel per document (verified in
        # the formatted plan, round 7) — outer + null-drop keeps one
        # kernel pass
        out.select("doc_id", F.explode_outer("spans_out").alias("s"))
        .where(F.col("s").isNotNull())
        .select(
            "doc_id",
            F.col("s.kind").alias("kind"),
            F.col("s.text").alias("text"),
            F.col("s.media_ref").alias("media_ref"),
            F.col("s.order").cast("long").alias("ord"),
        )
        # partitions are doc_id ranges in order: sorting each one
        # orders the whole result
        .sortWithinPartitions("doc_id", "ord")
    )


ORACLE_FLAGSHIP = """
SELECT doc_id, kind, text, media_ref, ord
FROM (
  SELECT doc_id, 'lang_out:String' AS kind, lang AS text, '' AS media_ref, 0::BIGINT AS ord FROM documents
  UNION ALL
  SELECT doc_id, 'text_out:String', text, '', 1::BIGINT FROM documents
  UNION ALL
  SELECT doc_id, 'src_out:String', source, '', 2::BIGINT FROM documents
  UNION ALL
  SELECT doc_id, 'media', '', 'media://img/' || doc_id, 3::BIGINT FROM documents
)
ORDER BY doc_id, ord
"""


QUERIES = {"flagship_extract_spans": q_flagship_extract_spans}
ORACLES = {"flagship_extract_spans": ORACLE_FLAGSHIP}
