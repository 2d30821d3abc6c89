"""Per-layer costs measured outside Spark, in this process.

Each function calls one module's public entry point on one Arrow batch of
the session's batch size (generated from the workload seed) and reports
time per document, so a kernel, scorer or batch-function change shows here
before it shows in a Spark run. Times are medians of ``REPEATS`` rounds.
"""

from __future__ import annotations

import statistics
import time

import pandas as pd
import pyarrow as pa
from pyspark.sql.pandas.types import to_arrow_type

from ai_textbook_processor_spark.corpus import gen_doc
from ai_textbook_processor_spark.functions import kernels
from ai_textbook_processor_spark.functions.readability import score_texts
from ai_textbook_processor_spark.operators import extract, skew
from ai_textbook_processor_spark.schemas import DOCUMENTS_SCHEMA
from inputs import span_table

REPEATS = 3
MEGA_SAMPLE = 2


def _median_seconds(fns: dict) -> dict:
    """Median seconds of each function over REPEATS rounds. The functions
    take turns within a round, so a change in host speed during the
    measurement shifts all of them alike."""
    times: dict[str, list[float]] = {name: [] for name in fns}
    for _ in range(REPEATS):
        for name, fn in fns.items():
            t0 = time.perf_counter()
            fn()
            times[name].append(time.perf_counter() - t0)
    return {name: statistics.median(ts) for name, ts in times.items()}


def fused_out_fields():
    """Arrow output schema of the fused stage (as plans.pipeline builds it)."""
    result = {f.name: f.dataType for f in extract.EXTRACT_RESULT_TYPE.fields}
    fields = [(f.name, f.dataType) for f in DOCUMENTS_SCHEMA.fields] + [
        (n, result[n]) for n in ("n_spans", "n_chars", "validation")
    ]
    return [(n, to_arrow_type(t)) for n, t in fields]


def _texts(extracted) -> pd.Series:
    return pd.Series([
        " ".join(s["text"] for s in doc if s["kind"] in extract.TEXT_KINDS)
        for doc in extracted
    ])


def measure(cfg, seed: int, batch: int, procs: int, big_docs: list[dict]) -> dict:
    """``big_docs``: the workload input's documents above the salting
    threshold (empty when it has none)."""
    ids = list(range(batch))
    docs = [gen_doc(i, seed) for i in ids]
    extracted = [kernels.extract_document(d["spans"]) for d in docs]
    texts = _texts(extracted)
    megas = [gen_doc(i, seed, family="mega_doc") for i in range(MEGA_SAMPLE)]

    fused = extract.make_generate_extract_score_batch_fn(
        cfg, seed, 0, fused_out_fields(), procs=procs
    )
    id_batch = pa.RecordBatch.from_arrays([pa.array(ids, pa.int64())], names=["id"])
    out_bytes = sum(b.nbytes for b in fused(iter([id_batch])))
    spans_arrow = span_table(docs).column("spans")
    spans_pd = spans_arrow.to_pandas()
    udf = extract.make_extract_and_score_udf(cfg).func
    chunk_spans = sum(len(m["spans"]) for m in megas)

    t = _median_seconds({
        "gen": lambda: [gen_doc(i, seed) for i in ids],
        "extract": lambda: [kernels.extract_document(d["spans"]) for d in docs],
        "score": lambda: score_texts(texts, cfg),
        "mega": lambda: [kernels.extract_document(m["spans"]) for m in megas],
        "fused": lambda: list(fused(iter([id_batch]))),
        "udf": lambda: udf(spans_pd),
        "chunk": lambda: [_salted_extract(m["spans"]) for m in megas],
    })
    n_chunks = sum(
        len(kernels.chunk_document(d["spans"], skew.DEFAULT_UNITS_PER_CHUNK)[0])
        for d in big_docs
    )

    us = 1e6 / batch
    return {
        "corpus.gen_us_per_doc": t["gen"] * us,
        "kernels.extract_us_per_doc": t["extract"] * us,
        "kernels.extract_ms_per_mega_doc": t["mega"] * 1e3 / MEGA_SAMPLE,
        "readability.score_us_per_doc": t["score"] * us,
        "extract.fused_batch_us_per_doc": t["fused"] * us,
        "extract.arrow_build_us_per_doc":
            (t["fused"] - t["gen"] - t["extract"] - t["score"]) * us,
        "extract.out_bytes_per_doc": out_bytes / batch,
        "extract.helpers": procs - 1,
        "extract.udf_us_per_doc": t["udf"] * us,
        "extract.in_bytes_per_doc": spans_arrow.nbytes / batch,
        "skew.big_docs": len(big_docs),
        "skew.chunks": n_chunks,
        "skew.chunk_us_per_span": t["chunk"] * 1e6 / chunk_spans,
    }


def _salted_extract(spans) -> list[dict]:
    """What the salted path computes for one big document, in one process:
    chunk, extract each chunk's text spans, stitch the media back in."""
    chunks, media = kernels.chunk_document(spans, skew.DEFAULT_UNITS_PER_CHUNK)
    offsets = [m[3] for m in media]
    parts = [p for c in chunks for p in kernels.extract_text_spans(c, offsets)]
    return kernels.stitch_media(parts, media)
