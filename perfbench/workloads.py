"""The benchmark's workloads, built only from the program's public
functions (closed loop: one driver submits one job at a time and waits
for it).

``flagship_replicated``
    flat documents x 10 replicas (``doc_id*10+r``, same text) ->
    ``corpus.span_rows_from_flat`` -> ``pipeline.run_pipeline_fused``
    -> noop. Short spans, repeated text.
``corpus_unique``
    ``corpus.generate_docs`` (docs picked to one total text size, the
    same for every seed) written to parquet -> ``sources.
    read_documents`` -> ``pipeline.explode_spans`` -> hash partitions
    by doc_id -> ``run_pipeline_fused`` -> noop. Every doc distinct.
``extraction_job``
    the same generator, doc-shaped -> ``checkpoint.run_extraction_job``
    into a fresh directory, then a resume call that must skip every
    partition.
``contract_suite``
    every ``__spark_entry__.queries()`` entry plus the two approximate
    twins -> noop, ``clearCache`` between queries.

``BENCHMARK.json`` lists the first two. ``extraction_job`` varied too
much from run to run to be gated, and one ``contract_suite`` pass takes
about a minute even on the smallest tables. Both still run by hand
(``--workload``) and in the smoke run. The per-layer run of every
workload also times the extraction job on that workload's input.

Each workload class exposes the same hooks to :mod:`perfbench.run`:
``generate`` (inputs, timed as set-up), ``prepare``, ``one_pass`` (the
timed operation), ``check`` (outputs, outside the timed region) and,
for the per-layer run, ``ladder`` / ``rule_docs`` / ``doc_frame``.
"""

from __future__ import annotations

import os
import random
import shutil
import time
from collections import defaultdict

import pandas as pd
from pyspark.sql import DataFrame, Observation, functions as F

from perfbench import datagen

REPLICAS = 10
SPANS_PER_DOC = 12
SAMPLE_DOCS = 12
# generated docs: a pool half again as large, from which the docs are
# picked to total this many characters of text each on average (the
# generator's mean over seeds)
POOL_FACTOR = 1.5
CHARS_PER_DOC = 1650

# inputs per workload: (normal, smoke)
SIZES = {
    "flagship_replicated": (600, 20),  # base docs, x REPLICAS
    "corpus_unique": (1600, 60),
    "extraction_job": (600, 60),
    "contract_suite": (0.01, 0.001),  # scale factor
}


def noop(df: DataFrame) -> None:
    df.write.format("noop").mode("overwrite").save()


def counted_noop(df: DataFrame) -> int:
    """noop sink that also returns the row count, observed on the same
    job (no second pass)."""
    obs = Observation()
    noop(df.observe(obs, F.count(F.lit(1)).alias("n")))
    return int(obs.get["n"])


# ---- mapInPandas bodies for the ladder (module level: workers import them)


def identity_batches(batches):
    yield from batches


def rules_doc_id_only(batches):
    from smartglass_ocr_spark.golden import process_document

    for pdf in batches:
        yield pd.DataFrame(
            {
                "doc_id": [
                    process_document({"doc_id": d, "spans": s})["doc_id"]
                    for d, s in zip(pdf["doc_id"], pdf["spans"])
                ]
            }
        )


# ---- output comparison


def canon(v):
    """Engine-neutral form of an output row: Spark Rows and maps become
    dicts, None-valued struct fields and empty containers drop out (a
    struct of all-null fields reads the same as a null struct)."""
    if hasattr(v, "asDict"):
        v = v.asDict(recursive=True)
    if isinstance(v, dict):
        out = {k: canon(x) for k, x in sorted(v.items())}
        out = {k: x for k, x in out.items() if x is not None}
        return out or None
    if isinstance(v, (list, tuple)):
        return [canon(x) for x in v] or None
    return v


def docs_from_span_rows(rows) -> list[dict]:
    docs: dict[str, list[dict]] = defaultdict(list)
    for r in rows:
        docs[r["doc_id"]].append(
            {"kind": r["kind"], "text": r["text"], "media_ref": r["media_ref"], "offset": r["offset"]}
        )
    return [{"doc_id": d, "spans": s} for d, s in sorted(docs.items())]


class Workload:
    """Shared state and the output check for the doc-pipeline workloads."""

    name = ""

    def __init__(self, ctx):
        self.ctx = ctx
        self.spark = ctx.spark
        self.dir = os.path.join(ctx.work, self.name)
        self.size = SIZES[self.name][1 if ctx.smoke else 0]
        self.counts: list[int] = []
        os.makedirs(self.dir, exist_ok=True)

    # the fused pipeline's output for this workload's input
    def pipeline(self) -> DataFrame:
        from smartglass_ocr_spark.pipeline import run_pipeline_fused

        return run_pipeline_fused(self.span_rows())

    def one_pass(self, i: int) -> tuple[int, float]:
        """The timed operation: (docs completed, wall seconds). Its row
        count is observed on the same job and checked afterwards."""
        t = time.perf_counter()
        self.counts.append(counted_noop(self.pipeline()))
        return self.n_docs, time.perf_counter() - t

    def jvm_pass(self) -> None:
        """Warm-up only: the pipeline up to its shuffle (ladder step L1)."""
        from smartglass_ocr_spark.pipeline import reassemble_raw

        noop(reassemble_raw(self.span_rows()))

    def check(self) -> None:
        """Every pass's row count, plus a seeded sample of doc_ids whose
        output rows must equal ``golden.process_document`` of the same
        input (the pipeline is per-document, so it runs on the sample's
        span rows alone)."""
        from smartglass_ocr_spark.golden import process_document
        from smartglass_ocr_spark.pipeline import run_pipeline_fused

        bad_counts = [n for n in self.counts if n != self.n_docs]
        self.ctx.check("row_count", bool(self.counts) and not bad_counts,
                       f"{bad_counts[:5]} rows, expected {self.n_docs}")
        sample = self.sample_docs()
        ids = [d["doc_id"] for d in sample]
        got = run_pipeline_fused(self.span_rows().filter(F.col("doc_id").isin(ids))).collect()
        by_id = {r["doc_id"]: canon(r) for r in got}
        bad = [d["doc_id"] for d in sample if by_id.get(d["doc_id"]) != canon(process_document(d))]
        self.ctx.check("golden_sample", not bad, f"mismatched docs {bad[:5]} of {len(ids)}")

    def ladder(self) -> list[tuple[str, callable]]:
        """Cumulative steps, each run to noop: scan, + span-row
        derivation (L0), + reassembly (L1), + identity Arrow crossing
        (L2), + rules with only doc_id out (L3), full fused stage (L4)."""
        from smartglass_ocr_spark.pipeline import reassemble_raw

        def l2():
            a = reassemble_raw(self.span_rows())
            return a.mapInPandas(identity_batches, a.schema)

        return [
            ("scan", self.scan),
            ("L0", self.span_rows),
            ("L1", lambda: reassemble_raw(self.span_rows())),
            ("L2", l2),
            ("L3", lambda: reassemble_raw(self.span_rows()).mapInPandas(
                rules_doc_id_only, "doc_id string")),
            ("L4", self.pipeline),
        ]


class FlagshipReplicated(Workload):
    name = "flagship_replicated"

    def generate(self) -> None:
        self.path = os.path.join(self.dir, "documents.parquet")
        datagen.write_flat_documents(self.path, self.size, self.ctx.seed)

    def prepare(self) -> None:
        self.n_docs = self.size * REPLICAS

    def scan(self) -> DataFrame:
        from smartglass_ocr_spark.sources import read_flat_documents

        docs = read_flat_documents(self.spark, self.path)
        reps = self.spark.range(REPLICAS).select(F.col("id").alias("r"))
        return docs.crossJoin(reps).select(
            (F.col("doc_id") * REPLICAS + F.col("r")).alias("doc_id"), "text"
        )

    def span_rows(self) -> DataFrame:
        from smartglass_ocr_spark.corpus import span_rows_from_flat

        return span_rows_from_flat(
            self.scan(), spans_per_doc=SPANS_PER_DOC, partitions=2 * self.ctx.cores
        )

    def doc_frame(self) -> DataFrame:
        from smartglass_ocr_spark.pipeline import reassemble_raw

        return reassemble_raw(self.span_rows())

    def _golden_inputs(self, flat_ids: list[int]) -> list[dict]:
        from smartglass_ocr_spark.corpus import span_rows_from_flat

        docs = self.scan().filter(F.col("doc_id").isin(flat_ids))
        return docs_from_span_rows(
            span_rows_from_flat(docs, spans_per_doc=SPANS_PER_DOC).collect()
        )

    def sample_docs(self, k: int = SAMPLE_DOCS) -> list[dict]:
        rng = random.Random(self.ctx.seed)
        return self._golden_inputs(rng.sample(range(self.n_docs), min(k, self.n_docs)))

    def rule_docs(self, k: int) -> list[dict]:
        # one replica per base doc: the replicas' text is identical
        rng = random.Random(self.ctx.seed + 1)
        base = rng.sample(range(self.size), min(k, self.size))
        return self._golden_inputs([b * REPLICAS for b in base])


class CorpusUnique(Workload):
    name = "corpus_unique"

    def generate(self) -> None:
        from smartglass_ocr_spark.corpus import generate_docs

        pool = generate_docs(int(POOL_FACTOR * self.size), seed=self.ctx.seed)
        self.docs = datagen.hold_text_size(pool, self.size, CHARS_PER_DOC * self.size,
                                           self.ctx.seed)
        self.path = os.path.join(self.dir, "documents.parquet")
        datagen.write_spans_documents(self.path, self.docs)

    def prepare(self) -> None:
        self.n_docs = len(self.docs)
        self.n_spans = sum(len(d["spans"]) for d in self.docs)

    def scan(self) -> DataFrame:
        from smartglass_ocr_spark.sources import read_documents

        return read_documents(self.spark, self.path)

    doc_frame = scan

    def span_rows(self) -> DataFrame:
        from smartglass_ocr_spark.pipeline import explode_spans

        # the doc_id hash partitioning run_pipeline_fused(partitions=)
        # applies, here in the ladder's first step so every step shares
        # it. Without it AQE coalesces this small input's reassembly
        # shuffle into one partition and the rules run in one task.
        return explode_spans(self.scan()).repartition(2 * self.ctx.cores, "doc_id")

    def sample_docs(self, k: int = SAMPLE_DOCS) -> list[dict]:
        return random.Random(self.ctx.seed).sample(self.docs, min(k, len(self.docs)))

    def rule_docs(self, k: int) -> list[dict]:
        return random.Random(self.ctx.seed + 1).sample(self.docs, min(k, len(self.docs)))


class ExtractionJob(CorpusUnique):
    """The production job path. Its timed pass is one
    ``run_extraction_job`` into a fresh directory; the resume call on
    the last pass's directory and the checkpoint-table checks run after
    the timed passes."""

    name = "extraction_job"

    def prepare(self) -> None:
        from smartglass_ocr_spark.checkpoint import with_partition_id

        super().prepare()
        self.n_buckets = 4 * self.ctx.cores
        ids = with_partition_id(self.scan(), self.n_buckets).select("partition_id")
        self.buckets = sorted({r[0] for r in ids.distinct().collect()})

    def one_pass(self, i: int) -> tuple[int, float]:
        shutil.rmtree(os.path.join(self.dir, f"pass-{i - 1}"), ignore_errors=True)
        self.last = extraction_job(
            self.spark, self.scan(), os.path.join(self.dir, f"pass-{i}"), self.n_buckets,
            resume=False,
        )
        return self.n_docs, self.last["job_s"]

    def check(self) -> None:
        resume_job(self.spark, self.last)
        res, resumed, paths = self.last["result"], self.last["resumed"], self.last["paths"]
        ctx = self.ctx
        ctx.check("job_n_docs", res["n_docs"] == self.n_docs, f"{res['n_docs']} != {self.n_docs}")
        ctx.check("job_n_spans", res["n_spans"] == self.n_spans, f"{res['n_spans']} != {self.n_spans}")
        ctx.check("job_processed", res["processed"] == self.buckets, "processed != input buckets")
        rows = (
            self.spark.read.parquet(paths["ckpt"])
            .filter(F.col("status") == "complete")
            .groupBy("partition_id").count().collect()
        )
        per_bucket = {r["partition_id"]: r["count"] for r in rows}
        ctx.check(
            "checkpoint_one_row_per_bucket",
            sorted(per_bucket) == self.buckets and set(per_bucket.values()) == {1},
            f"{len(per_bucket)} buckets, counts {sorted(set(per_bucket.values()))}",
        )
        ctx.check("resume_skips_all", resumed["processed"] == [] and resumed["skipped"] == self.buckets,
                  f"resume processed {resumed['processed'][:5]}")
        out = self.spark.read.parquet(paths["out"]).count()
        ctx.check("output_rows", out == self.n_docs, f"{out} output rows")


def extraction_job(spark, docs: DataFrame, base: str, n_buckets: int,
                   resume: bool = True) -> dict:
    """One ``run_extraction_job`` into the fresh directory ``base``
    and, with ``resume``, the resume call on the same paths (see
    :func:`resume_job`). Returns the results, walls and the output's
    size on disk."""
    from smartglass_ocr_spark.checkpoint import run_extraction_job

    shutil.rmtree(base, ignore_errors=True)
    paths = {k: os.path.join(base, k) for k in ("out", "ckpt", "metrics")}
    job = {"docs": docs, "n_buckets": n_buckets, "paths": paths}
    t = time.perf_counter()
    job["result"] = run_extraction_job(spark, docs, run_id="job", **_job_kw(job))
    job["job_s"] = time.perf_counter() - t
    job["sink_bytes"] = dir_bytes(paths["out"])
    if resume:
        resume_job(spark, job)
    return job


def resume_job(spark, job: dict) -> None:
    """Re-run a finished job on its own paths: every partition must be
    skipped. Adds ``resumed`` and ``resume_s`` to ``job``."""
    from smartglass_ocr_spark.checkpoint import run_extraction_job

    t = time.perf_counter()
    job["resumed"] = run_extraction_job(spark, job["docs"], run_id="resume", **_job_kw(job))
    job["resume_s"] = time.perf_counter() - t


def _job_kw(job: dict) -> dict:
    p = job["paths"]
    return dict(output_path=p["out"], checkpoint_path=p["ckpt"],
                metrics_path=p["metrics"], n_partitions=job["n_buckets"])


def dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


# ----------------------------------------------------------- contract


def query_module(name: str, fn) -> str:
    """The per-module wall metric a contract query counts towards:
    ``pipeline.contract_wall_s`` for the ``pipeline_*`` rows, else the
    first ``ops`` module its body imports, else the relational
    (TPC-H-style) group."""
    import inspect
    import re

    if name.startswith("pipeline_"):
        return "pipeline.contract_wall_s"
    m = re.search(r"smartglass_ocr_spark\.ops\.(\w+)", inspect.getsource(fn))
    return f"ops.{m.group(1)}.wall_s" if m else "entry.relational_wall_s"


class ContractSuite:
    name = "contract_suite"

    def __init__(self, ctx):
        self.ctx = ctx
        self.spark = ctx.spark
        self.sf = SIZES[self.name][1 if ctx.smoke else 0]
        self.dir = os.path.join(ctx.work, self.name, "tables")

    def generate(self) -> None:
        self.rows = datagen.write_contract_tables(self.dir, self.sf, self.ctx.seed)

    def prepare(self) -> None:
        import duckdb

        import __spark_entry__ as entry
        from smartglass_ocr_spark.ops.textstats import corpus_cardinality
        from smartglass_ocr_spark.ops.windows import value_percentiles_approx

        qs = dict(entry.queries())
        qs["value_percentiles_approx"] = lambda s, d: value_percentiles_approx(
            s.read.parquet(f"{d}/events.parquet"))
        qs["corpus_cardinality"] = lambda s, d: corpus_cardinality(
            s.read.parquet(f"{d}/documents.parquet"))
        self.module = {n: query_module(n, f) for n, f in entry.queries().items()}
        self.module["value_percentiles_approx"] = "ops.windows.wall_s"
        self.module["corpus_cardinality"] = "ops.textstats.wall_s"
        if self.ctx.smoke:  # one query per module keeps the smoke short
            firsts = {}
            for n in qs:
                firsts.setdefault(self.module[n], n)
            qs = {n: qs[n] for n in firsts.values()}
        self.queries = qs
        con = duckdb.connect()
        try:
            for t in self.rows:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{self.dir}/{t}.parquet')")
            oracles = entry.oracle_sql()
            self.expected = {
                n: con.sql(f"SELECT count(*) FROM ({oracles[n]})").fetchone()[0]
                for n in qs if n in oracles
            }
        finally:
            con.close()
        self.n_docs = self.rows["documents"]
        self.walls: list[dict[str, float]] = []

    def one_pass(self, i: int) -> tuple[int, float]:
        walls, counts = {}, {}
        for n, fn in self.queries.items():
            t = time.perf_counter()
            counts[n] = counted_noop(fn(self.spark, self.dir))
            walls[n] = time.perf_counter() - t
            self.spark.catalog.clearCache()
        self.walls.append(walls)
        # no-oracle rows: compare against this run's first pass
        for n, c in counts.items():
            self.expected.setdefault(n, c)
        self._counts = counts
        return self.n_docs, sum(walls.values())

    def check(self) -> None:
        bad = {n: (c, self.expected[n]) for n, c in self._counts.items() if c != self.expected[n]}
        self.ctx.check("row_counts", not bad, f"count mismatches {dict(list(bad.items())[:5])}")


WORKLOADS = {
    c.name: c for c in (FlagshipReplicated, CorpusUnique, ExtractionJob, ContractSuite)
}
