"""The benchmark's workloads: input preparation, the warm-up pass of a
set-up, an untimed prelude before the measured loop, and one sample of
that loop with its output checks.

``extract_crawl``   the paper's own job: ``ExtractionPipeline.run`` on a
                    mixed html/pdf crawl. The prelude crashes a job
                    half-way, resumes it and reruns it as a no-op; each
                    sample is a fresh run.
``curate_longtail`` ``curate_corpus`` over extracted text whose giant
                    pages make the slowest task set the wall time.

A sample or prelude returns its metrics plus (attempted, failed)
operation counts; a failed operation is a wrong or missing result. An
exception aborts the run, which then exits non-zero without a result
line.
"""

from __future__ import annotations

import os
import time
from collections import Counter
from dataclasses import dataclass, field

import pyarrow.parquet as pq
from pyspark.sql import functions as F

from docling_jobkit_spark.plans.curation import CurationConfig, curate_corpus
from docling_jobkit_spark.plans.pipeline import ExtractionPipeline, PipelineConfig
from docling_jobkit_spark.sinks.maintenance import content_signature
from harness import cpu_delta, dir_listing, tree_cpu
from inputs import crawl_inputs, curate_inputs, write_curate_tables

CORES = len(os.sched_getaffinity(0))

# Sizes are set by the run budget: a commit group costs ~3.5 s of mostly
# fixed overhead at local[4], so the crawl runs 2 groups (crash after 1).
CRAWL_PAGES = 240
CRAWL_WARMUP_PAGES = 24
CRAWL_CONFIG = PipelineConfig(
    num_partitions=CORES, n_commit_groups=2, payload_format="auto"
)

CURATE_DOCS = 200
CURATION = CurationConfig(
    blocked_domains=("spamtracker.net",),
    allowed_langs=("en", "de", "fr", "es", "it", "und"),
)


@dataclass
class Iteration:
    metrics: dict[str, float]
    attempted: int
    failed: int
    info: dict = field(default_factory=dict)


def _timed(fn):
    c0 = tree_cpu()
    t0 = time.perf_counter()
    out = fn()
    return out, time.perf_counter() - t0, cpu_delta(c0, tree_cpu())


def _dir_bytes(path: str) -> int:
    return sum(dir_listing(path).values())


# -- extract_crawl -----------------------------------------------------


def result_digests(results) -> Counter:
    """(url, status, sha256(text)) -> count over extraction results."""
    rows = results.select(
        "url", "status", F.sha2(F.col("extracted_text"), 256).alias("h")
    ).collect()
    return Counter((r["url"], r["status"], r["h"]) for r in rows)


def _mismatched(expected: Counter, got: Counter) -> int:
    return sum((expected - got).values()) + sum((got - expected).values())


class ExtractCrawl:
    name = "extract_crawl"

    def prepare(self, seed: int, work: str):
        inp = crawl_inputs(seed, CRAWL_PAGES, f"{work}/pages.parquet")
        sample = pq.read_table(inp.pages_path).slice(0, CRAWL_WARMUP_PAGES)
        pq.write_table(sample, f"{work}/warmup_pages.parquet")
        return inp

    def warmup(self, spark, inp, work: str, k: int) -> None:
        pages = spark.read.parquet(f"{work}/warmup_pages.parquet")
        extracted = ExtractionPipeline(spark, CRAWL_CONFIG).extract(pages)
        extracted.write.format("noop").mode("overwrite").save()

    def prelude(self, spark, inp, work: str) -> Iteration:
        """Before the measured loop, and a full job's worth of warm-up
        for it: a job crashed after half its commit groups, its resume,
        then a no-op rerun of the completed job."""
        pipe = ExtractionPipeline(spark, CRAWL_CONFIG)
        pages = spark.read.parquet(inp.pages_path)
        out = f"{work}/crash"
        crashed = False
        try:
            pipe.run(pages, out, run_id="crash", fail_after_groups=CRAWL_CONFIG.n_commit_groups // 2)
        except RuntimeError as e:
            crashed = "injected crash" in str(e)
        resumed, resume_s, _ = _timed(lambda: pipe.run(pages, out, run_id="resume"))

        committed = {p: s for p, s in dir_listing(out).items() if "/metrics/" not in p}
        _, noop_s, _ = _timed(lambda: pipe.run(pages, out, run_id="rerun"))
        noop_clean = {
            p: s for p, s in dir_listing(out).items() if "/metrics/" not in p
        } == committed

        n = inp.n_docs
        bad = _mismatched(inp.expected, result_digests(resumed.committed_results(spark)))
        if not noop_clean or not crashed:
            bad = n
        return Iteration(
            metrics={"resume_noop_s": noop_s, "crash_resume_s": resume_s},
            attempted=n,
            failed=min(bad, n),
            info={"noop_clean": noop_clean, "crash_injected": crashed},
        )

    def iterate(self, spark, inp, work: str, k: int) -> Iteration:
        """One fresh ``run`` of the crawl, checked against the oracle."""
        pipe = ExtractionPipeline(spark, CRAWL_CONFIG)
        pages = spark.read.parquet(inp.pages_path)
        out = f"{work}/it{k}"
        log, wall, cpu = _timed(lambda: pipe.run(pages, out, run_id=f"it{k}"))
        n = inp.n_docs
        bad = _mismatched(inp.expected, result_digests(log.committed_results(spark)))
        return Iteration(
            metrics={
                "docs_per_s": n / wall,
                "cpu_s_per_kdoc": cpu / n * 1000,
                "bytes_written_per_input_byte": _dir_bytes(out) / inp.payload_bytes,
            },
            attempted=n,
            failed=min(bad, n),
        )


# -- curate_longtail ---------------------------------------------------


def ledger_errors(ledger: list[tuple[int, int, int]], n_docs: int) -> int:
    """Broken rows of the attrition ledger, given (docs_in, dropped,
    kept) per stage in stage order: docs_in[0] is the corpus size and
    docs_in[k+1] = docs_in[k] - dropped[k]."""
    errors = 0
    expect_in = n_docs
    for docs_in, dropped, kept in ledger:
        errors += docs_in != expect_in or kept != docs_in - dropped
        expect_in = docs_in - dropped
    return errors


class CurateLongtail:
    name = "curate_longtail"

    def __init__(self) -> None:
        self.signature = None  # kept-set signature of the first iteration

    def prepare(self, seed: int, work: str):
        inp = curate_inputs(seed, CURATE_DOCS)
        write_curate_tables(inp, work)
        return inp

    def _curate(self, spark, docs_path: str, work: str, out: str):
        res = curate_corpus(
            spark.read.parquet(docs_path),
            benchmark=spark.read.parquet(f"{work}/benchmark.parquet"),
            config=CURATION,
        )
        res.kept.write.parquet(f"{out}/kept")
        res.ledger.write.parquet(f"{out}/ledger")
        return res

    def warmup(self, spark, inp, work: str, k: int) -> None:
        """The whole job: it costs ~2 s more than a 20-doc sample, and
        it compiles the long-doc folds before the first sample."""
        self._curate(spark, f"{work}/docs.parquet", work, f"{work}/warmup{k}")

    def iterate(self, spark, inp, work: str, k: int) -> Iteration:
        out = f"{work}/it{k}"
        res, wall, cpu = _timed(lambda: self._curate(spark, f"{work}/docs.parquet", work, out))
        n = len(inp.docs)
        ledger = [
            (r["docs_in"], r["docs_dropped"], r["docs_kept"])
            for r in spark.read.parquet(f"{out}/ledger").orderBy("stage_order").collect()
        ]
        kept = spark.read.parquet(f"{out}/kept")
        kept_n = kept.count()
        kept_ok = ledger and kept_n == ledger[-1][2]
        survivors = (
            res.stamped.where(F.col("drop_stage").isNull())
            .where(F.col("doc_id").isin(sorted(inp.must_drop)))
            .count()
        )
        sig = content_signature(
            kept.select(
                F.concat_ws(":", F.col("doc_id"), F.sha2(F.col("text"), 256)).alias("k")
            ),
            "k",
        )
        if self.signature is None:
            self.signature = sig
        bad = survivors
        if ledger_errors(ledger, n) or not kept_ok or sig != self.signature:
            bad = n
        return Iteration(
            metrics={
                "docs_per_s": n / wall,
                "cpu_s_per_kdoc": cpu / n * 1000,
                "bytes_written_per_input_byte": _dir_bytes(out) / inp.text_bytes,
            },
            attempted=n,
            failed=min(bad, n),
            info={"kept": kept_n, "signature": list(sig), "planted_survivors": survivors},
        )

    def prelude(self, spark, inp, work: str) -> None:
        return None


WORKLOADS = {w.name: w for w in (ExtractCrawl, CurateLongtail)}
