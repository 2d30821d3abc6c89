"""Correctness checks. Each returns a list of problems; empty means correct.

They take plain collected values, not DataFrames, so that
``test_checks.py`` can show each one failing on a deliberately wrong
output.
"""

from __future__ import annotations

import math

import pandas as pd

from ai_textbook_processor_spark.functions import kernels
from ai_textbook_processor_spark.functions.readability import score_texts
from ai_textbook_processor_spark.operators.extract import TEXT_KINDS
from ai_textbook_processor_spark.schemas import VALIDATION_TYPE
from tools.check_oracle import rowset

VALIDATION_FIELDS = [f.name for f in VALIDATION_TYPE.fields]

# --- extraction ------------------------------------------------------------


def golden_extract(docs: list[dict], cfg) -> dict[str, tuple[list, dict]]:
    """doc_id -> (span keys, validation) from the golden producer: the
    kernels in stdlib-HTML-parser mode (independent of the engine's fast
    tokenizer, as golden_oracle does) plus ``score_texts``."""
    old_mode = kernels._HTML_PARSER_MODE
    kernels._HTML_PARSER_MODE = "stdlib"
    try:
        extracted = [kernels.extract_document(d["spans"]) for d in docs]
    finally:
        kernels._HTML_PARSER_MODE = old_mode
    texts = pd.Series(
        [" ".join(s["text"] for s in ext if s["kind"] in TEXT_KINDS) for ext in extracted]
    )
    scored = score_texts(texts, cfg)[VALIDATION_FIELDS].to_dict("records")
    return {
        d["doc_id"]: (span_keys(ext), val)
        for d, ext, val in zip(docs, extracted, scored)
    }


def span_keys(spans) -> list[tuple]:
    """Sequence of (kind, text, media_ref); list position is the order."""
    return [(s["kind"], s["text"], s["media_ref"]) for s in spans or ()]


def _norm(v):
    if hasattr(v, "item"):  # numpy scalar
        v = v.item()
    if isinstance(v, float) and math.isnan(v):
        return "nan"
    return v


def _norm_validation(v) -> dict:
    d = v.asDict() if hasattr(v, "asDict") else dict(v)
    return {k: _norm(d[k]) for k in VALIDATION_FIELDS}


def check_extraction(
    doc_ids: list[str],
    sample: dict[str, tuple],
    golden: dict[str, tuple[list, dict]],
    expected_ids: set[str],
) -> list[str]:
    """``doc_ids``: every output row's id; ``sample``: doc_id -> (spans,
    validation) for the checked documents; ``golden``: the expected values
    for exactly those documents."""
    problems = []
    if len(doc_ids) != len(expected_ids):
        problems.append(f"row count {len(doc_ids)} != {len(expected_ids)}")
    if set(doc_ids) != expected_ids:
        problems.append("output doc_id set differs from input")
    for doc_id, (want_spans, want_val) in golden.items():
        if doc_id not in sample:
            problems.append(f"{doc_id}: missing from output")
            continue
        spans, val = sample[doc_id]
        if span_keys(spans) != want_spans:
            problems.append(f"{doc_id}: spans differ from golden")
        if _norm_validation(val) != _norm_validation(want_val):
            problems.append(f"{doc_id}: validation differs from golden")
    return problems


def check_checksum(got: dict, want: dict) -> list[str]:
    """An output's order-insensitive checksum against the reference run's."""
    return [] if got == want else [f"output checksum {got} != reference {want}"]


# --- clean_resume ----------------------------------------------------------


def check_clean_resume(
    funnel: dict, ref_funnel: dict, staged_rows: int, staged_ids: int,
    n_input: int, lineage: dict, expect: dict,
) -> list[str]:
    """``lineage``: what the two launches reported and left behind;
    ``expect``: the same quantities derived from the run's parameters alone
    (see ``expected_lineage``)."""
    problems = []
    if funnel != ref_funnel:
        problems.append(f"funnel {funnel} != uninterrupted {ref_funnel}")
    if staged_rows != staged_ids:
        problems.append(f"{staged_rows - staged_ids} doc_ids staged twice")
    if staged_ids != n_input:
        problems.append(f"staged {staged_ids} docs, input has {n_input}")
    for key, want in expect.items():
        if lineage[key] != want:
            problems.append(f"{key} {lineage[key]} != expected {want}")
    return problems


def expected_lineage(n_buckets: int, per_commit: int, fail_after: int) -> dict:
    """A crash after ``fail_after`` commits of ``per_commit`` buckets, then a
    resume that redoes none of them: what each count must be."""
    before = min(n_buckets, fail_after * per_commit)
    processed = n_buckets - before
    return {
        "committed_before": before,  # lineage table, between the launches
        "manifest_buckets_before": before,  # extracted table's manifests
        "buckets_resumed": before,
        "buckets_processed": processed,
        "commits": -(-processed // per_commit),
        "manifests_after": -(-n_buckets // per_commit),
    }


# --- headline queries (normalized by tools/check_oracle.py) ---------------


def check_query(spark_cols, spark_rows, duck_cols, duck_rows) -> list[str]:
    if sorted(spark_cols) != sorted(duck_cols):
        return [f"columns {sorted(spark_cols)} != {sorted(duck_cols)}"]
    if len(spark_rows) != len(duck_rows):
        return [f"row count {len(spark_rows)} != {len(duck_rows)}"]
    if rowset(spark_rows, spark_cols) != rowset(duck_rows, duck_cols):
        return ["values differ from oracle"]
    return []
