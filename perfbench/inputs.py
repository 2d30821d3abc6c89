"""Seeded input materialization for the benchmark workloads.

Every input is a pure function of ``--seed``: the clean-corpus table comes
from the engine's own document generator (``corpus.gen_doc``), and the
headline-query tables are a synthetic star schema fitted to the engine's
``sf0.1`` test tables (same names, types, row counts and measured value
distributions), written with pyarrow. The ``extract_fused`` corpus needs
no materialization: ``corpus.corpus_df`` generates it inside the measured
stage.
"""

from __future__ import annotations

import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from ai_textbook_processor_spark.corpus import gen_doc
from ai_textbook_processor_spark.functions.kernels import MEDIA_KINDS, extract_document
from ai_textbook_processor_spark.operators.extract import TEXT_KINDS

# --- clean_resume ----------------------------------------------------------

RESUME_BASE_DOCS = 400
EXACT_SHARE = 0.05  # re-keyed byte-identical copies, as a share of the base
NEAR_SHARE = 0.05  # copies with one text span dropped
# Families whose documents pass the default quality gate and carry enough
# text blocks that dropping one leaves a near duplicate.
_DUP_FAMILIES = ("pdf_single_col", "pdf_two_col", "pdf_caption")
_MIN_DUP_SPANS = 8


def span_table(rows: list[dict]) -> pa.Table:
    span = pa.struct(
        [("kind", pa.string()), ("text", pa.string()),
         ("media_ref", pa.string()), ("offset", pa.int32())]
    )
    schema = pa.schema(
        [pa.field("doc_id", pa.string(), nullable=False),
         ("spans", pa.list_(span)), ("standard", pa.string()),
         ("subject", pa.string()), ("chapter", pa.string()),
         ("content_type", pa.string())]
    )
    return pa.Table.from_pylist(rows, schema=schema)


def _fingerprint_text(spans) -> str:
    ext = extract_document(spans)
    return " ".join(s["text"] for s in ext if s["kind"] in TEXT_KINDS)[:200]


def _near_copy(doc: dict) -> dict | None:
    """Drop the first text span whose removal changes the document's text
    prefix, so the copy escapes exact dedup and must be found by near-dup
    dedup. None when no such span exists."""
    spans = doc["spans"]
    prefix = _fingerprint_text(spans)
    for k, sp in enumerate(spans):
        if sp["kind"] in MEDIA_KINDS:
            continue
        cut = spans[:k] + spans[k + 1:]
        if _fingerprint_text(cut) != prefix:
            return dict(doc, doc_id=doc["doc_id"] + "-near", spans=cut)
    return None


def clean_resume_rows(seed: int) -> tuple[list[dict], int, int]:
    """Base corpus plus planted duplicates: (rows, n_exact, n_near)."""
    base = [gen_doc(i, seed) for i in range(RESUME_BASE_DOCS)]
    eligible = [
        d for d in base
        if d["content_type"] in _DUP_FAMILIES and len(d["spans"]) >= _MIN_DUP_SPANS
    ]
    rng = random.Random(seed)
    n_exact = int(RESUME_BASE_DOCS * EXACT_SHARE)
    n_near = int(RESUME_BASE_DOCS * NEAR_SHARE)
    picks = rng.sample(eligible, min(len(eligible), n_exact + n_near))
    exact = [dict(d, doc_id=d["doc_id"] + "-dup") for d in picks[:n_exact]]
    near = [c for c in map(_near_copy, picks[n_exact:]) if c is not None]
    return base + exact + near, len(exact), len(near)


def write_clean_resume_table(path: str, seed: int) -> dict:
    rows, n_exact, n_near = clean_resume_rows(seed)
    os.makedirs(path, exist_ok=True)
    pq.write_table(span_table(rows), os.path.join(path, "part-0.parquet"))
    return {"docs": len(rows), "planted_exact": n_exact, "planted_near": n_near}


# --- headline_queries ------------------------------------------------------
#
# Fitted to the engine's sf0.1 test tables, column by column: the same
# row counts, key ranges, cardinalities and value distributions (see
# README.md, "Headline tables"). Money columns are whole cents, as there.

_WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
_LANGS = ("en", "zh", "es", "fr", "de")
_LANG_P = (0.40, 0.15, 0.15, 0.15, 0.15)
_REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
_SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
_EVENT_TYPES = ("signup", "purchase", "view", "click", "error")
_NEAR_DUP_SHARE = 0.05  # documents whose text is another's plus " dup"

HEADLINE_ROWS = {
    "lineitem": 600_000, "customer": 15_000, "events": 100_000,
    "documents": 5_000, "embeddings": 2_000,
}
_ORDERS = 150_000
_SHIP_DAYS = 2_499


def _ts(base: str, micros: np.ndarray) -> pa.Array:
    start = np.datetime64(base, "us")
    return pa.array(start + micros.astype("timedelta64[us]"), type=pa.timestamp("us"))


def _cents(rng, lo: int, hi: int, n: int) -> np.ndarray:
    """Whole-cent values, uniform in [lo, hi] cents."""
    return rng.integers(lo, hi + 1, n) / 100.0


def _document_texts(rng, n: int) -> list[str]:
    """Uniform words, 10 to 99 per text; then a share of the texts is
    replaced, in turn, by a copy of another text plus " dup", so that
    copies of one text are exact duplicates of each other."""
    lengths = rng.integers(10, 100, n)
    words = rng.choice(_WORDS, int(lengths.sum()))
    cuts = np.concatenate([[0], np.cumsum(lengths)])
    texts = [" ".join(words[cuts[i]:cuts[i + 1]]) for i in range(n)]
    for pos in rng.choice(n, int(n * _NEAR_DUP_SHARE), replace=False):
        src = (pos + rng.integers(1, n)) % n  # any other document
        texts[pos] = texts[src] + " dup"
    return texts


def write_headline_tables(sf_dir: str, seed: int) -> dict[str, int]:
    """The tables the headline queries read; returns row counts."""
    rng = np.random.default_rng(seed % 2**63)
    os.makedirs(sf_dir, exist_ok=True)
    tables: dict[str, pa.Table] = {}

    tables["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": list(_REGIONS),
    })
    tables["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })

    n = HEADLINE_ROWS["customer"]
    tables["customer"] = pa.table({
        "c_custkey": np.arange(n, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n)],
        "c_nationkey": rng.integers(0, 25, n).astype(np.int32),
        "c_acctbal": _cents(rng, -99_999, 999_999, n),
        "c_mktsegment": rng.choice(_SEGMENTS, n),
    })

    n = HEADLINE_ROWS["lineitem"]
    tables["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, _ORDERS, n),
        "l_partkey": rng.integers(0, 20_000, n),
        "l_suppkey": rng.integers(0, 1_000, n),
        "l_linenumber": rng.integers(1, 8, n).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        # independent of l_quantity, as in sf0.1
        "l_extendedprice": _cents(rng, 90_000, 10_500_000, n),
        "l_discount": np.round(rng.uniform(0.0, 0.10, n), 2),
        "l_tax": np.round(rng.uniform(0.0, 0.08, n), 2),
        "l_returnflag": rng.choice(np.array(["A", "N", "R"]), n),
        "l_linestatus": rng.choice(np.array(["F", "O"]), n),
        "l_shipdate": _ts("1995-01-02", rng.integers(0, _SHIP_DAYS, n) * 86_400_000_000),
    })

    n = HEADLINE_ROWS["events"]
    tables["events"] = pa.table({
        "event_id": np.arange(n, dtype=np.int64),
        "ts": _ts("2024-01-01", np.sort(rng.integers(0, 30 * 86_400_000_000, n))),
        "user_id": rng.integers(0, 1_500, n),
        "event_type": rng.choice(_EVENT_TYPES, n),
        "value": np.round(rng.exponential(50.0, n), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
    })

    n = HEADLINE_ROWS["documents"]
    texts = _document_texts(rng, n)
    tables["documents"] = pa.table({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(_LANGS, n, p=_LANG_P),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })

    n = HEADLINE_ROWS["embeddings"]
    emb = rng.standard_normal((n, 64))
    emb = (emb / np.linalg.norm(emb, axis=1, keepdims=True)).astype(np.float32)
    tables["embeddings"] = pa.table({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.ListArray.from_arrays(
            pa.array(np.arange(0, 64 * n + 1, 64, dtype=np.int32)),
            pa.array(emb.ravel()),
        ),
        "label": rng.integers(0, 10, n).astype(np.int32),
    })

    for name, t in tables.items():
        pq.write_table(t, os.path.join(sf_dir, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}
