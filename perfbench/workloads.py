"""The benchmark workloads.

Each workload has the same life cycle, driven by ``run.py``:

* ``materialize(spark, rep)`` writes the seeded inputs (part of set-up,
  repeated with every set-up repetition);
* ``prepare(spark)`` runs the workload once, untimed, to fill caches, and
  checks that run's output; returns (attempted, problems);
* ``op(spark)`` is one timed run; it returns its own timings;
* ``check(spark, res)`` checks a timed run's output, untimed (where a
  noop sink discards the output, ``extract_fused`` compares a checksum
  that the run itself computed, and ``headline_queries`` reruns one
  query);
* ``traced(spark, tracer, group)`` repeats one run with spans around every
  layer call and returns the layers' numbers, plus, where the pass runs
  checked operations of its own, ``attempted`` and ``problems``.

Calls into the engine go through module attributes (``P.extract_documents``
and so on) so that ``Tracer.patch`` can wrap them in the traced run.
"""

from __future__ import annotations

import concurrent.futures
import inspect
import itertools
import os
import shutil
import time

from pyspark.sql import Observation
from pyspark.sql import functions as F

import checks
import inputs
import sparkstats
from ai_textbook_processor_spark import corpus as C
from ai_textbook_processor_spark import harness as H
from ai_textbook_processor_spark.functions.readability import CriteriaConfig
from ai_textbook_processor_spark.operators import skew as S
from ai_textbook_processor_spark.plans import lineage as L
from ai_textbook_processor_spark.plans import pipeline as P
from ai_textbook_processor_spark.plans import training_pipeline as TP
from ai_textbook_processor_spark.sources import io_catalog as IO
from bench import HEADLINE

CFG = CriteriaConfig()
SAMPLE_PER_FAMILY = 2


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def checksum_exprs(df) -> list:
    """Order-insensitive checksum of every row of ``df``: the row count, the
    sum of the low 32 bits and the XOR of each row's xxhash64."""
    h = F.xxhash64(*df.columns)
    return [
        F.count(F.lit(1)).alias("rows"),
        F.sum(h.bitwiseAND(F.lit(0xFFFFFFFF))).alias("lo_sum"),
        F.bit_xor(h).alias("xor"),
    ]


def _mega_ids(n_docs: int, mega_every: int) -> list[int]:
    return list(range(mega_every - 1, n_docs, mega_every)) if mega_every else []


def _sample_docs(seed: int, n_docs: int, mega_every: int) -> list[dict]:
    """The checked documents: the first SAMPLE_PER_FAMILY non-mega ids of
    every family plus every mega doc, generated in this process."""
    megas = set(_mega_ids(n_docs, mega_every))
    ids: list[int] = []
    for k in range(len(C.FAMILIES)):
        ids += [i for i in range(k, n_docs, len(C.FAMILIES)) if i not in megas][
            :SAMPLE_PER_FAMILY
        ]
    return [C.gen_doc(i, seed) for i in ids] + [
        C.gen_doc(i, seed, family="mega_doc") for i in sorted(megas)
    ]


class ExtractFused:
    """Generated corpus -> fused generate+extract+score stage -> noop sink."""

    name = "extract_fused"
    python_workers = True
    n_docs = 12_000  # about 2 s a run on 4 cores, so a window holds several
    mega_every = 4_000  # as bench.py

    def __init__(self, seed: int, work: str, nproc: int):
        self.seed, self.work, self.nproc = seed, work, nproc
        self.docs_per_op = self.n_docs

    def _frame(self, spark):
        docs = C.corpus_df(
            spark, self.n_docs, seed=self.seed, mega_every=self.mega_every,
            num_partitions=2 * self.nproc,
        )
        return P.extract_documents(docs, CFG)

    def _expected_ids(self) -> set[str]:
        """The input's doc ids, from the generator's documented id format
        and family assignment."""
        megas = set(_mega_ids(self.n_docs, self.mega_every))
        return {
            f"doc-{i:010d}-{'mega_doc' if i in megas else C.family_of(i)}"
            for i in range(self.n_docs)
        }

    def materialize(self, spark, rep: int) -> None:
        pass  # generation runs inside the measured stage

    def prepare(self, spark) -> tuple[int, list[str]]:
        """Collect one execution for the golden check, and keep its
        checksum as the reference for the timed runs."""
        golden = checks.golden_extract(_sample_docs(self.seed, self.n_docs, self.mega_every), CFG)
        out = self._frame(spark)
        obs = Observation("perfbench-reference")
        rows = out.observe(obs, *checksum_exprs(out)).select(
            "doc_id",
            F.when(F.col("doc_id").isin(list(golden)), F.struct("spans", "validation")).alias("c"),
        ).collect()
        sample = {r["doc_id"]: (r["c"]["spans"], r["c"]["validation"]) for r in rows if r["c"]}
        self.reference = obs.get
        return 1, checks.check_extraction(
            [r["doc_id"] for r in rows], sample, golden, self._expected_ids()
        )

    def op(self, spark) -> dict:
        """One timed run. The noop sink keeps nothing, so the run itself
        folds every output row into a checksum as it passes (an
        ``observe`` over the same plan, no second execution)."""
        obs = Observation("perfbench-run")
        t0 = time.monotonic()
        out = self._frame(spark)
        noop(out.observe(obs, *checksum_exprs(out)))
        run_s = time.monotonic() - t0
        return {"run_s": run_s, "checksum": obs.get}

    def check(self, spark, res) -> list[str]:
        """The run's checksum must equal the golden-checked reference's."""
        return checks.check_checksum(res["checksum"], self.reference)

    def big_docs(self) -> list[dict]:
        megas = [
            C.gen_doc(i, self.seed, family="mega_doc")
            for i in _mega_ids(self.n_docs, self.mega_every)
        ]
        return [d for d in megas if len(d["spans"]) > S.DEFAULT_SPAN_THRESHOLD]

    def traced(self, spark, tracer, group) -> dict:
        tracer.patch(C, "corpus_df", "corpus.corpus_df")
        tracer.patch(P, "extract_documents", "plans.pipeline.extract_documents")
        obs = Observation("perfbench-traced")
        with tracer.span("run") as run:
            out = self._frame(spark)
            with tracer.span("spark.execute"):
                noop(out.observe(obs, *checksum_exprs(out)))
        problems = checks.check_checksum(obs.get, self.reference)
        layers, more = DurablePipeline(self.seed, self.work).run(spark, tracer)
        return {
            "run_s": run["end"] - run["start"], **layers,
            "attempted": 2, "problems": problems + [f"durable pipeline: {p}" for p in more],
        }


class DurablePipeline:
    """The durable clean-corpus pipeline (``job.py --clean-corpus
    --resumable``), crashed after its first commit and resumed under the
    same run id, over a seeded table with planted duplicates.

    It is not a timed workload: one launch pair costs tens of seconds of
    small driver-synchronized jobs, which the benchmark's time budget
    cannot repeat in every invocation. The ``extract_fused`` traced pass
    runs it once, for the lineage, catalog and dedup layers, and checks
    its output like a timed run's.
    """

    RUN_ID = "perfbench"
    FAIL_AFTER = 1

    def __init__(self, seed: int, work: str):
        self.seed = seed
        self.table = os.path.join(work, "resume_in")
        self.out = os.path.join(work, "resume_out")
        # the program's own bucketing defaults, which every launch uses
        params = inspect.signature(TP.run_clean_corpus).parameters
        self.expect = checks.expected_lineage(
            params["n_buckets"].default, params["buckets_per_commit"].default,
            self.FAIL_AFTER,
        )

    def run(self, spark, tracer) -> tuple[dict, list[str]]:
        """Returns (per-layer values, problems)."""
        info = inputs.write_clean_resume_table(self.table, self.seed)
        # The uninterrupted reference run whose funnel the resumed run must
        # reproduce: the same stages in one session (``clean_corpus``), with
        # no staged table, commits or crash. It also warms the session.
        _cleaned, funnel = TP.clean_corpus(spark.read.parquet(self.table), CFG)
        ref_funnel = {r["stage"]: int(r["n"]) for r in funnel.collect()}
        if ref_funnel.get("input") != info["docs"]:
            return {}, [f"reference funnel {ref_funnel} lost input rows"]

        tracer.patch(TP, "run_clean_corpus", "plans.training_pipeline.run_clean_corpus")
        tracer.patch(L, "run_extraction", "plans.lineage.run_extraction")
        tracer.patch(L, "committed_buckets", "plans.lineage.committed_buckets")
        tracer.patch(IO.LocalTable, "append", "sources.io_catalog.append")
        with tracer.span("pipeline.run"):
            res = self._crash_and_resume(spark)

        staged = IO.Catalog(self.out).table("extracted").read(spark)
        agg = staged.agg(F.count("*").alias("n"), F.countDistinct("doc_id").alias("d")).first()
        problems = [] if res["crashed"] else ["injected crash did not happen"]
        problems += checks.check_clean_resume(
            res["summary"]["funnel"], ref_funnel, agg["n"], agg["d"],
            info["docs"], res["lineage"], self.expect,
        )
        return self._layers(tracer, res, info), problems

    def _crash_and_resume(self, spark) -> dict:
        docs = spark.read.parquet(self.table)
        t0 = time.monotonic()
        crashed = False
        try:
            TP.run_clean_corpus(
                spark, docs, self.out, self.RUN_ID, fail_after_commits=self.FAIL_AFTER
            )
        except L.SimulatedFailure:
            crashed = True
        crash_s = time.monotonic() - t0
        # untimed: what the crashed launch committed, by the lineage table
        # and, independently, by the staged table's manifests
        committed = L.committed_buckets(spark, IO.Catalog(self.out), self.RUN_ID)
        manifest_buckets = self._manifest_buckets()
        t1 = time.monotonic()
        summary = TP.run_clean_corpus(spark, docs, self.out, self.RUN_ID)
        resume_s = time.monotonic() - t1
        return {
            "resume_start": t1, "resume_s": resume_s, "crash_s": crash_s,
            "crashed": crashed, "summary": summary,
            "lineage": {
                "committed_before": len(committed),
                "manifest_buckets_before": manifest_buckets,
                "buckets_resumed": summary["buckets_resumed"],
                "buckets_processed": summary["buckets_processed"],
                "commits": summary["commits"],
                "manifests_after": len(self._manifests()),
            },
        }

    def _manifests(self) -> list[dict]:
        return IO.Catalog(self.out).table("extracted").manifests()

    def _manifest_buckets(self) -> int:
        return sum(len(m["meta"].get("buckets", ())) for m in self._manifests())

    def _layers(self, tracer, res, info) -> dict:
        resume_extract = sum(
            s["end"] - s["start"] for s in tracer.spans
            if s["name"] == "plans.lineage.run_extraction" and s["start"] >= res["resume_start"]
        )
        written = sum(
            os.path.getsize(os.path.join(d, f))
            for d, _dirs, files in os.walk(self.out) if os.path.basename(d) == "data"
            for f in files
        )
        summary = res["summary"]
        f = summary["funnel"]
        exact = f["extracted_valid"] - f["after_exact_dedup"]
        near = f["after_exact_dedup"] - f["after_near_dedup"]
        planted = info["planted_exact"] + info["planted_near"]
        return {
            "lineage.crash_run_s": res["crash_s"],
            "lineage.resume_s": res["resume_s"],
            "lineage.resume_extract_s": resume_extract,
            "lineage.buckets_resumed": summary["buckets_resumed"],
            "lineage.buckets_processed": summary["buckets_processed"],
            "lineage.commits": summary["commits"],
            "catalog.append_s": tracer.total("sources.io_catalog.append"),
            "catalog.appends": tracer.count("sources.io_catalog.append"),
            "catalog.bytes_written_mb": written / 2**20,
            "dedup.stages_s": tracer.self_times()["plans.training_pipeline.run_clean_corpus"],
            "dedup.exact_removed": exact,
            "dedup.near_removed": near,
            "dedup.recall": (exact + near) / planted if planted else 1.0,
        }


class HeadlineQueries:
    """The 10 headline harness queries (``bench.HEADLINE``) over seeded
    star-schema tables, one pass per run, noop sink."""

    name = "headline_queries"
    python_workers = False  # every headline query runs in the JVM
    TABLES = ("region", "nation", "customer", "lineitem", "events", "documents", "embeddings")

    def __init__(self, seed: int, work: str, nproc: int):
        self.seed, self.work, self.nproc = seed, work, nproc
        self.sf_dir = None
        self.oracle: dict[str, tuple[list, list]] = {}  # query -> (columns, rows)
        self.rotation = itertools.cycle(HEADLINE)
        # documents/s here is the documents table's rows per pass
        self.docs_per_op = inputs.HEADLINE_ROWS["documents"]

    def materialize(self, spark, rep: int) -> None:
        if self.sf_dir:
            shutil.rmtree(self.sf_dir, ignore_errors=True)
        self.sf_dir = os.path.join(self.work, f"sf_{rep}")
        inputs.write_headline_tables(self.sf_dir, self.seed)

    def big_docs(self) -> list[dict]:
        return []

    def prepare(self, spark) -> tuple[int, list[str]]:
        """Cold pass: every query collected and compared with its DuckDB
        oracle over the same files. The oracles run on a thread meanwhile;
        the pass is untimed."""
        with concurrent.futures.ThreadPoolExecutor(1) as pool:
            oracle = pool.submit(self._oracles)
            collected = {}
            for q in HEADLINE:
                try:
                    df = H.QUERIES[q](spark, self.sf_dir)
                    collected[q] = (df.columns, [tuple(r) for r in df.collect()])
                except Exception as e:  # one failing query must not hide the rest
                    collected[q] = e
            oracle_errors = oracle.result()
        problems = []
        for q in HEADLINE:
            if isinstance(collected[q], Exception):
                got = [f"error: {str(collected[q]).splitlines()[0][:200]}"]
            elif q in oracle_errors:
                got = [f"oracle error: {oracle_errors[q]}"]
            else:
                got = checks.check_query(*collected[q], *self.oracle[q])
            problems += [f"{q}: {p}" for p in got]
        return len(HEADLINE), problems

    def _oracles(self) -> dict[str, str]:
        """Fill ``self.oracle`` from DuckDB; returns query -> error."""
        import duckdb

        errors = {}
        # one DuckDB thread, so the oracles leave the other cores to
        # Spark's cold pass, which runs meanwhile
        con = duckdb.connect(config={"threads": 1})
        try:
            for t in self.TABLES:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{self.sf_dir}/{t}.parquet'")
            for q in HEADLINE:
                try:
                    res = con.execute(H.ORACLES[q])
                    self.oracle[q] = ([d[0] for d in res.description], res.fetchall())
                except Exception as e:
                    errors[q] = str(e).splitlines()[0][:200]
        finally:
            con.close()
        return errors

    def op(self, spark) -> dict:
        errors = []
        t0 = time.monotonic()
        for q in HEADLINE:
            try:
                noop(H.QUERIES[q](spark, self.sf_dir))
            except Exception as e:
                errors.append(f"{q}: {str(e).splitlines()[0][:200]}")
        return {"run_s": time.monotonic() - t0, "attempted": len(HEADLINE), "errors": errors}

    def check(self, spark, res) -> list[str]:
        """The noop sink keeps nothing, so after each pass one query, in
        turn, runs again untimed and is compared with its oracle result."""
        q = next(self.rotation)
        if q not in self.oracle:  # its oracle failed in prepare, counted there
            return res["errors"]
        try:
            df = H.QUERIES[q](spark, self.sf_dir)
            got = checks.check_query(df.columns, [tuple(r) for r in df.collect()],
                                     *self.oracle[q])
        except Exception as e:
            got = [f"error: {str(e).splitlines()[0][:200]}"]
        return res["errors"] + [f"{q} (recheck): {p}" for p in got]

    def traced(self, spark, tracer, group) -> dict:
        out = {}
        sc = spark.sparkContext
        with tracer.span("run") as run:
            for q in HEADLINE:
                sc.setJobGroup(f"{group}-{q}", q)
                with tracer.span(f"harness.{q}") as sp:
                    noop(H.QUERIES[q](spark, self.sf_dir))
                out[f"harness.{q}.s"] = sp["end"] - sp["start"]
        for q in HEADLINE:
            out[f"harness.{q}.stages"] = sparkstats.group_stats(sc, f"{group}-{q}")["stages"]
        out["run_s"] = run["end"] - run["start"]
        return out


WORKLOADS = {w.name: w for w in (ExtractFused, HeadlineQueries)}
