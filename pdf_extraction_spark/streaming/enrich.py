"""Streaming enrichment: the full extract -> enrich pipeline as one stream.

The 6-phase enrichment + deterministic estimation (plans/enrichment.py)
is document-local — one mapInArrow with no shuffle and no cross-doc
state — so composing it onto the streaming extraction plan yields an
end-to-end continuous pipeline: new span-table files are extracted,
validated, normalized, enriched, classified, grouped, and cost-estimated
exactly once per micro-batch. This is the streaming twin of the
reference's extract -> enrich two-script flow (src/pipeline.py:56-120 ->
src/data_enrichment_pipeline.py:55-107), with checkpointLocation
supplying the resume guarantee the batch path gets from
sources/checkpoint.py.

At scale the plan stays map-only end to end (scan -> one mapInArrow
running extraction and enrichment per batch -> sink): no state store, no
watermark, no shuffle — throughput is bounded only by executor count,
and a lagging stream catches up by widening maxFilesPerTrigger.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..plans.enrichment import enrich_extracted
from .extract import DOCS_SCHEMA, extract_stream


def enrich_stream(spark: SparkSession, source_dir: str,
                  schema: str = DOCS_SCHEMA,
                  max_files_per_trigger: int | None = None) -> DataFrame:
    """File-source document stream -> streaming enriched-issue output."""
    return enrich_extracted(
        extract_stream(spark, source_dir, schema, max_files_per_trigger))
