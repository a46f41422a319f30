"""Enrichment plan: extraction output -> enriched issues, per document.

The reference enrichment (src/data_enrichment_pipeline.py:55-107) is
document-scoped: the duplicate tracker resets per doc (:131), grouping keys
and group ids are per-report counters (issue_grouper.py:31-33), and every
phase is a per-issue map. Since the extraction output already carries one
row per document with its issues array, the whole 6-phase pipeline + the
deterministic C18 estimator runs as ONE ``mapInArrow`` pass — zero
shuffles, linear scaling, same architecture as plans/fused.py. One kernel,
``enrich_record_batch``, serves both plan shapes:

  - fused: ``enrich_extracted(assemble_fused(docs))`` with the extraction
    neither persisted nor cached runs ONE ``mapInArrow`` over the docs,
    extraction and enrichment per batch, so the JVM<->Python boundary is
    crossed once and the spans, tables and raw sections enrichment drops
    never leave the Python worker;
  - generic: any other input (a persisted or cached extraction,
    ``assemble_auto``, a streaming parquet source, a further transform)
    is enriched from its ``doc_id``/``issues`` columns.

Per-issue work is pure python (enrich_rules.py): issues arrive through
``to_pylist`` and leave through ``RecordBatch.from_pylist``.
"""

from __future__ import annotations

from typing import Iterator

import pyarrow as pa
from pyspark import StorageLevel
from pyspark.sql import DataFrame
from pyspark.sql.pandas.types import from_arrow_schema

from .. import enrich_rules as er
from . import fused

_STRS = pa.list_(pa.string())
_I32, _I64, _F64 = pa.int32(), pa.int64(), pa.float64()
_STR, _BOOL = pa.string(), pa.bool_()
_COUNTS = pa.map_(pa.string(), pa.int32())
_ATTRS_T = pa.struct([
    ("locations", _STRS),
    ("measurements", pa.struct([("dimensions", _STRS), ("lengths", _STRS),
                                ("areas", _STRS)])),
    ("materials", _STRS), ("damage_types", _STRS),
    ("safety_related", _BOOL), ("accessibility", _STR)])
_AREA_T = pa.struct([("square_feet", _F64), ("dimensions", _STR),
                     ("size_category", _STR)])
_CLS_T = pa.struct([
    ("trade", _STR), ("trade_confidence", _F64), ("work_type", _STR),
    ("work_type_confidence", _F64), ("complexity", _STR),
    ("complexity_confidence", _F64)])
_ISSUE_T = pa.struct([
    *fused._ISSUE_T,  # the extracted issue, then what enrichment adds
    ("severity", _STR), ("validation_status", _STR),
    ("is_duplicate", _BOOL), ("data_quality_score", _F64),
    ("needs_manual_review", _BOOL), ("review_reason", _STR),
    ("standard_severity", _STR), ("severity_confidence", _F64),
    ("standard_action", _STR), ("action_confidence", _F64),
    ("action_priority", _I32), ("standard_category", _STR),
    ("standard_subcategory", _STR), ("category_confidence", _F64),
    ("extracted_attributes", _ATTRS_T), ("safety_flag", _BOOL),
    ("accessibility_complexity", _STR), ("urgency_score", _F64),
    ("complexity_factor", _F64), ("requires_specialized_labor", _BOOL),
    ("estimated_affected_area", _AREA_T), ("classification", _CLS_T),
    ("grouped_with", _STRS), ("is_grouped", _BOOL),
    ("cost_strategy", _STR), ("strategy_confidence", _F64),
    ("matched_standard_item", _STR)])
_GROUP_T = pa.struct([
    ("group_id", _STR), ("grouping_key", _STR), ("issue_count", _I32),
    ("issue_ids", _STRS), ("group_type", _STR)])
_EST_T = pa.struct([
    ("issue_id", _STR), ("category", _STR), ("sub_type", _STR),
    ("estimated_low", _I32), ("estimated_high", _I32),
    ("confidence_score", _I32), ("reasoning", _STR),
    ("risk_factors", _STRS), ("needs_review", _BOOL)])
_SUMMARY_T = pa.struct([
    ("total_issues", _I32), ("by_severity", _COUNTS),
    ("by_action", _COUNTS), ("by_category", _COUNTS),
    ("by_trade", _COUNTS), ("by_complexity", _COUNTS),
    ("by_strategy", _COUNTS), ("safety_issues", _I32),
    ("grouped_issues", _I32), ("avg_urgency", _F64),
    ("avg_complexity", _F64)])
_EST_SUMMARY_T = pa.struct([
    ("estimated_issues", _I32), ("total_estimated_low", _I64),
    ("total_estimated_high", _I64), ("average_confidence", _I32),
    ("needs_review", _I32)])
_PHASE2_T = pa.struct([
    ("issue_id", _STR), ("strategy", _STR), ("strategy_confidence", _F64),
    ("adjusted_low", _F64), ("adjusted_high", _F64), ("permit_type", _STR),
    ("trade", _STR), ("confidence_overall", _F64),
    ("manual_review", _BOOL)])
_REL_T = pa.struct([
    ("causal_chains", pa.list_(pa.struct([
        ("root_cause_id", _STR), ("caused_issue_ids", _STRS),
        ("chain_length", _I32), ("priority", _STR)]))),
    ("bundles", pa.list_(pa.struct([
        ("bundle_type", _STR), ("key", _STR), ("issue_ids", _STRS),
        ("savings_pct", _F64)]))),
    ("isolated_issue_ids", _STRS),
    ("statistics", pa.struct([
        ("total_issues", _I32), ("issues_in_chains", _I32),
        ("isolated_issues", _I32), ("potential_bundles", _I32),
        ("average_savings_pct", _F64), ("max_savings_pct", _F64)]))])

ENRICHED_SCHEMA = pa.schema([
    ("doc_id", _STR), ("issues", pa.list_(_ISSUE_T)),
    ("groups", pa.list_(_GROUP_T)), ("estimates", pa.list_(_EST_T)),
    ("summary", _SUMMARY_T), ("estimate_summary", _EST_SUMMARY_T),
    ("phase2", pa.list_(_PHASE2_T)), ("relationships", _REL_T),
    ("n_excluded", _I32)])
_SPARK_SCHEMA = from_arrow_schema(ENRICHED_SCHEMA)


def _issue_row(issue: dict) -> dict:
    """Fit an enriched issue dict to the output struct (keys the struct
    lacks are dropped by ``RecordBatch.from_pylist``)."""
    attrs = issue.get("extracted_attributes") or {}
    meas = attrs.get("measurements") or {}
    out = dict(issue)
    out["page_numbers"] = [int(p) for p in (issue.get("page_numbers") or [])]
    out["extracted_attributes"] = {
        "locations": attrs.get("locations") or [],
        "measurements": {
            "dimensions": meas.get("dimensions") or [],
            "lengths": meas.get("lengths") or [],
            "areas": meas.get("areas") or [],
        },
        "materials": attrs.get("materials") or [],
        "damage_types": attrs.get("damage_types") or [],
        "safety_related": bool(attrs.get("safety_related", False)),
        "accessibility": attrs.get("accessibility"),
    }
    out["is_duplicate"] = bool(issue.get("is_duplicate", False))
    out["needs_manual_review"] = bool(issue.get("needs_manual_review", False))
    out["safety_flag"] = bool(issue.get("safety_flag", False))
    out["is_grouped"] = bool(issue.get("is_grouped", False))
    out["requires_specialized_labor"] = bool(
        issue.get("requires_specialized_labor", False))
    area = issue.get("estimated_affected_area")
    if area is not None:
        out["estimated_affected_area"] = {
            "square_feet": float(area["square_feet"])
            if "square_feet" in area else None,
            "dimensions": area.get("dimensions"),
            "size_category": area.get("size_category"),
        }
    cost = issue.get("estimated_cost")
    if cost is not None and not isinstance(cost, dict):
        cost = None
    out["estimated_cost"] = cost
    return out


def enrich_record_batch(rb: pa.RecordBatch) -> pa.RecordBatch:
    """RecordBatch(doc_id, issues, ...) -> one enriched row per doc: the
    6-phase enrichment + C18 estimation (enrich_rules.enrich_document)."""
    rows = []
    for doc_id, issues in zip(rb.column("doc_id").to_pylist(),
                              rb.column("issues").to_pylist()):
        result = er.enrich_document(issues or [])
        result["doc_id"] = doc_id
        result["issues"] = [_issue_row(i) for i in result["issues"]]
        rows.append(result)
    return pa.RecordBatch.from_pylist(rows, schema=ENRICHED_SCHEMA)


def enrich_extracted(extracted: DataFrame) -> DataFrame:
    """extracted (plans/fused.py output) -> one enriched row per doc.

    Zero-shuffle map pass; fused with the extraction into one pass when
    ``extracted`` is an unpersisted ``assemble_fused`` result (module
    docstring). If an equal extraction plan is cached, Spark reports the
    cache's storage level here, so the cache is read, not re-extracted.

    Giant docs need no dispatch branch here (unlike
    plans/fused.assemble_auto): the enrichment kernel is output-sensitive
    linear after the relationship-index fix, so the wall is work-bound,
    not straggler-bound — a measured giant-isolation union variant came
    out 50% SLOWER (its second stage serializes giant tasks behind the
    normal wave; BENCH/BASELINE.md §23)."""
    docs = vars(extracted).get("_fused_input")
    fuse = docs is not None and extracted.storageLevel == StorageLevel.NONE
    if not fuse:
        docs = extracted.select("doc_id", "issues")

    # its own loop, not fused.py's: the perf UDF profiler credits a pass's
    # Python time to the module of its outermost function
    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        if pa.cpu_count() != 1:  # one Spark task == one core
            pa.set_cpu_count(1)
        for rb in batches:
            if rb.num_rows:
                yield enrich_record_batch(
                    fused.extract_record_batch(rb) if fuse else rb)

    return docs.mapInArrow(run, schema=_SPARK_SCHEMA)
