"""Each correctness check passes on a right output and fails on a wrong one.

    python3 -m pytest perfbench/test_checks.py -q
"""

from __future__ import annotations

import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(HERE), HERE]

import pandas as pd  # noqa: E402
import pytest  # noqa: E402

import checks  # noqa: E402
import inputs  # noqa: E402
from ai_textbook_processor_spark.corpus import gen_doc  # noqa: E402
from ai_textbook_processor_spark.functions.kernels import extract_document  # noqa: E402
from ai_textbook_processor_spark.functions.readability import (  # noqa: E402
    CriteriaConfig,
    score_texts,
)
from ai_textbook_processor_spark.operators.extract import TEXT_KINDS  # noqa: E402

CFG = CriteriaConfig()


@pytest.fixture(scope="module")
def extraction():
    """Engine output (fast parser) for one doc of every family plus a mega
    doc, the golden expectation, and the expected id set."""
    docs = [gen_doc(i, 11) for i in range(12)] + [gen_doc(12, 11, family="mega_doc")]
    extracted = [extract_document(d["spans"]) for d in docs]
    texts = pd.Series(
        [" ".join(s["text"] for s in e if s["kind"] in TEXT_KINDS) for e in extracted]
    )
    vals = score_texts(texts, CFG)[checks.VALIDATION_FIELDS].to_dict("records")
    sample = {d["doc_id"]: (e, v) for d, e, v in zip(docs, extracted, vals)}
    golden = checks.golden_extract(docs, CFG)
    return sample, golden, {d["doc_id"] for d in docs}


def test_extraction_right_output_passes(extraction):
    sample, golden, ids = extraction
    assert checks.check_extraction(sorted(ids), sample, golden, ids) == []


def _with(sample, doc_id, spans=None, validation=None):
    out = dict(sample)
    s, v = out[doc_id]
    out[doc_id] = (s if spans is None else spans, v if validation is None else validation)
    return out


def _text_doc(sample):
    return next(k for k, (s, _v) in sample.items() if len(s) >= 2)


def test_extraction_wrong_span_text_fails(extraction):
    sample, golden, ids = extraction
    doc = _text_doc(sample)
    spans = [dict(sp) for sp in sample[doc][0]]
    spans[0]["text"] += " x"
    bad = _with(sample, doc, spans=spans)
    assert checks.check_extraction(sorted(ids), bad, golden, ids)


def test_extraction_wrong_span_order_fails(extraction):
    sample, golden, ids = extraction
    doc = _text_doc(sample)
    spans = list(sample[doc][0])
    spans[0], spans[1] = spans[1], spans[0]
    assert checks.check_extraction(sorted(ids), _with(sample, doc, spans=spans), golden, ids)


def test_extraction_wrong_media_ref_fails(extraction):
    sample, golden, ids = extraction
    doc = next(k for k, (s, _v) in sample.items() if any(sp["media_ref"] for sp in s))
    spans = [dict(sp, media_ref=sp["media_ref"] + "-x") if sp["media_ref"] else sp
             for sp in sample[doc][0]]
    assert checks.check_extraction(sorted(ids), _with(sample, doc, spans=spans), golden, ids)


def test_extraction_wrong_validation_fails(extraction):
    sample, golden, ids = extraction
    doc = _text_doc(sample)
    val = dict(sample[doc][1], fk_grade=sample[doc][1]["fk_grade"] + 0.5)
    bad = _with(sample, doc, validation=val)
    assert checks.check_extraction(sorted(ids), bad, golden, ids)


def test_extraction_missing_or_duplicate_rows_fail(extraction):
    sample, golden, ids = extraction
    some = sorted(ids)
    assert checks.check_extraction(some[1:], sample, golden, ids)
    assert checks.check_extraction(some + some[:1], sample, golden, ids)
    missing = {k: v for k, v in sample.items() if k != some[0]}
    assert checks.check_extraction(some, missing, golden, ids)


REF = {"input": 100, "extracted_valid": 60, "after_exact_dedup": 55, "after_near_dedup": 50}
EXPECT = checks.expected_lineage(n_buckets=32, per_commit=8, fail_after=1)
GOOD_LINEAGE = {
    "committed_before": 8, "manifest_buckets_before": 8, "buckets_resumed": 8,
    "buckets_processed": 24, "commits": 3, "manifests_after": 4,
}


def test_expected_lineage_counts():
    assert EXPECT == GOOD_LINEAGE
    assert checks.expected_lineage(32, 8, 5)["buckets_processed"] == 0
    assert checks.expected_lineage(30, 8, 1)["commits"] == 3  # 22 buckets left


def test_clean_resume_right_output_passes():
    assert checks.check_clean_resume(dict(REF), REF, 100, 100, 100, GOOD_LINEAGE, EXPECT) == []


@pytest.mark.parametrize("args", [
    (dict(REF, after_near_dedup=51), REF, 100, 100, 100, GOOD_LINEAGE, EXPECT),  # funnel
    (dict(REF), REF, 101, 100, 100, GOOD_LINEAGE, EXPECT),  # a doc_id staged twice
    (dict(REF), REF, 99, 99, 100, GOOD_LINEAGE, EXPECT),  # a doc lost
    # the resume redid every bucket: the lineage read said nothing was committed
    (dict(REF), REF, 100, 100, 100,
     dict(GOOD_LINEAGE, committed_before=0, buckets_resumed=0, buckets_processed=32,
          commits=4), EXPECT),
    # the crash committed nothing, so the resume had nothing to skip
    (dict(REF), REF, 100, 100, 100,
     dict(GOOD_LINEAGE, committed_before=0, manifest_buckets_before=0, buckets_resumed=0,
          buckets_processed=32, commits=4), EXPECT),
    # the resume re-extracted a committed group under a new commit
    (dict(REF), REF, 100, 100, 100, dict(GOOD_LINEAGE, manifests_after=5), EXPECT),
])
def test_clean_resume_wrong_output_fails(args):
    assert checks.check_clean_resume(*args)


def test_checksum_mismatch_fails():
    ref = {"rows": 10, "lo_sum": 123, "xor": -5}
    assert checks.check_checksum(dict(ref), ref) == []
    assert checks.check_checksum(dict(ref, rows=9), ref)
    assert checks.check_checksum(dict(ref, xor=5), ref)


def test_query_right_output_passes_in_any_order():
    spark = (["b", "a"], [(2.0, "x"), (-0.0, "y")])
    duck = (["a", "b"], [("y", 0.0), ("x", 2.0)])
    assert checks.check_query(*spark, *duck) == []


@pytest.mark.parametrize("spark", [
    (["a", "b"], [("y", 0.0), ("x", 2.5)]),  # a value differs
    (["a", "b"], [("y", 0.0)]),  # a row missing
    (["a", "c"], [("y", 0.0), ("x", 2.0)]),  # a column renamed
])
def test_query_wrong_output_fails(spark):
    assert checks.check_query(*spark, ["a", "b"], [("y", 0.0), ("x", 2.0)])


def test_planted_duplicates_are_where_they_claim():
    rows, n_exact, n_near = inputs.clean_resume_rows(3)
    by_id = {r["doc_id"]: r for r in rows}
    dups = [r for r in rows if r["doc_id"].endswith("-dup")]
    nears = [r for r in rows if r["doc_id"].endswith("-near")]
    assert (len(dups), len(nears)) == (n_exact, n_near) and n_exact and n_near
    assert all(by_id[r["doc_id"][:-4]]["spans"] == r["spans"] for r in dups)
    assert all(len(by_id[r["doc_id"][:-5]]["spans"]) == len(r["spans"]) + 1 for r in nears)
