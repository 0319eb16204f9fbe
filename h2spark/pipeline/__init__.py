"""h2spark.pipeline — the PySpark layer.

Spec -> StructType compilation, vectorized pandas-UDF extraction
kernels, span reassembly, per-document hashed repartitioning, checkpoint
manifests + resume, and the end-to-end job entry point.
"""

from h2spark.pipeline.session import get_spark
from h2spark.pipeline.schema import spec_to_schema, EXTRACTED_SPANS_SCHEMA
from h2spark.pipeline.kernel import (
    make_extract_spans_udf,
    make_extract_typed_udf,
)

__all__ = [
    "get_spark",
    "spec_to_schema",
    "EXTRACTED_SPANS_SCHEMA",
    "make_extract_spans_udf",
    "make_extract_typed_udf",
]
