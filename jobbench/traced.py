"""The traced run: every layer's public function called in isolation, on
the materialized output of the layer before it, each call under its own
span (and Spark job group).

Every traced run walks the whole chain — extraction layers, curation
operators, ingest plan and its maintenance verbs — so every per-layer
metric exists on every workload. Each workload feeds its own input to
the layers it stresses and a small side input, drawn from the other
workload's generator with the same seed, to the rest:

    extract_crawl    extraction chain on its crawl; curation and ingest
                     on a 100-page curation side input
    curate_longtail  curation chain on its docs; extraction on an
                     80-page crawl side input; ingest on its docs

Checks made here (ledger arithmetic, ingest time travel, locate/delete,
bit-identical re-ingest after rollback) count into attempted/failed like
the untraced checks.
"""

from __future__ import annotations

import math
import os
import statistics

from pyspark.sql import functions as F

from docling_jobkit_spark.checkpoint import CommitLog
from docling_jobkit_spark.functions.scalar import content_hash
from docling_jobkit_spark.metrics import partition_metrics, with_lineage
from docling_jobkit_spark.operators.admission import admission_split
from docling_jobkit_spark.operators.decontam import contamination
from docling_jobkit_spark.operators.dedup import (
    minhash_near_duplicates,
    near_dup_clusters,
    spread_for_compute,
)
from docling_jobkit_spark.operators.extract_op import (
    extract_documents,
    extract_pdf_documents,
)
from docling_jobkit_spark.operators.minhash_index import (
    dedup_incremental,
    read_minhash_index,
)
from docling_jobkit_spark.operators.partitioning import salted_repartition
from docling_jobkit_spark.operators.pii import pii_signals
from docling_jobkit_spark.operators.slices import (
    extract_pdf_slices,
    extract_slices,
    page_count_col,
    pdf_page_count_col,
    reassemble_slices,
    split_pdf_slices,
    split_slices,
    spread_slices,
)
from docling_jobkit_spark.operators.textstats import gopher_stamp, lang_id
from docling_jobkit_spark.operators.webfilter import url_filter
from docling_jobkit_spark.plans import ingest as ing
from docling_jobkit_spark.plans.curation import CurationConfig, curate_corpus
from docling_jobkit_spark.plans.pipeline import ExtractionPipeline
from docling_jobkit_spark.sinks.maintenance import content_signature
from harness import bytes_written, dir_listing, run_plan
from inputs import crawl_inputs, curate_inputs, write_curate_tables
from workloads import CORES, CRAWL_CONFIG, CURATION, result_digests

SIDE_CRAWL_PAGES = 40
SIDE_CURATE_DOCS = 40
INGEST_BATCH_DOCS = 24
# a small file cap makes each batch land as several files, the small-file
# accretion compact_ingest_batch exists for
INGEST = ing.IngestConfig(
    curation=CurationConfig(allowed_langs=CURATION.allowed_langs),
    max_records_per_file=8,
)


class Checks:
    def __init__(self) -> None:
        self.attempted = 0
        self.failed: list[str] = []

    def expect(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed.append(what)


def _wall(span) -> float:
    return span.attrs["wall_s"]


def _plan_attrs(span, rows: int, pm: dict) -> None:
    span.attrs.update(rows_out=rows, **pm)


def _looks_pdf():
    c = F.col("html").cast("string")
    return F.col("html").isNotNull() & (F.instr(F.substring(c, 1, 1100), "%PDF-") > 0)


def _row_sig(df, cols):
    key = F.concat_ws("\x1f", *[F.col(c).cast("string") for c in cols])
    return content_signature(df.select(F.sha2(key, 256).alias("k")), "k")


# -- extraction chain ---------------------------------------------------


def extraction_chain(spark, tr, ci, work: str, m: dict, checks: Checks) -> None:
    cfg = CRAWL_CONFIG
    pages = spark.read.parquet(ci.pages_path)
    m["extractor.oracle_docs_per_cpu_s"] = ci.n_docs / ci.oracle_cpu_s

    with tr.span("sources.scan", rows_in=ci.n_docs) as s:
        _plan_attrs(s, *run_plan(pages.select("url", "html")))
    m["sources.scan_s"] = _wall(s)
    m["sources.bytes_read"] = os.path.getsize(ci.pages_path)

    with tr.span("admission.admit_split", rows_in=ci.n_docs) as s:
        admitted, rejected = admission_split(pages, cfg.max_bytes, cfg.max_pages)
        admitted = admitted.localCheckpoint(eager=True)
        n_rejected = rejected.count()
    m["admission.admit_s"] = _wall(s)
    m["admission.rejected_rows"] = n_rejected

    keyed = admitted.withColumn("_doc_key", F.monotonically_increasing_id())
    parted = salted_repartition(keyed, cfg.num_partitions, cfg.n_buckets)
    with tr.span("partitioning.salted_repartition", rows_in=ci.n_docs - n_rejected) as s:
        _plan_attrs(s, *run_plan(parted))
    m["partitioning.salted_repartition_s"] = _wall(s)
    m["partitioning.shuffle_bytes"] = s.attrs["shuffle_bytes"]
    parted = parted.localCheckpoint(eager=True)
    sizes = {
        r["p"]: r["n"]
        for r in parted.groupBy(F.spark_partition_id().alias("p")).agg(F.count("*").alias("n")).collect()
    }
    counts = [sizes.get(p, 0) for p in range(cfg.num_partitions)]
    m["partitioning.max_over_median_rows"] = max(counts) / max(statistics.median(counts), 1)

    html_side = parted.filter(~_looks_pdf())
    pdf_side = parted.filter(_looks_pdf())
    # the slice branch alone: multi-page docs split and spread (untimed,
    # materialized), then extracted per slice and reassembled (timed)
    big_html = html_side.filter(page_count_col("html") >= cfg.slice_min_pages)
    big_pdf = pdf_side.withColumnRenamed("html", "pdf").filter(
        pdf_page_count_col("pdf") >= cfg.slice_min_pages
    )
    spreads = [
        spread_slices(split(big, cfg.pages_per_slice)).localCheckpoint(eager=True)
        for split, big in ((split_slices, big_html), (split_pdf_slices, big_pdf))
    ]
    with tr.span("slices.extract_sliced") as s:
        rows_h, pm_h = run_plan(reassemble_slices(extract_slices(spreads[0], cfg.profile)))
        rows_p, pm_p = run_plan(reassemble_slices(extract_pdf_slices(spreads[1])))
        _plan_attrs(s, rows_h + rows_p, {k: pm_h[k] + pm_p[k] for k in pm_h})
    m["slices.extract_sliced_s"] = _wall(s)
    m["slices.slices_out"] = sum(sp.count() for sp in spreads)
    m["slices.python_tasks"] = sum(sp.rdd.getNumPartitions() for sp in spreads)
    m["slices.empty_python_tasks"] = m["slices.python_tasks"] - sum(
        sp.select(F.spark_partition_id()).distinct().count() for sp in spreads
    )

    with tr.span("extract_op.extract_documents") as s_html:
        _plan_attrs(s_html, *run_plan(extract_documents(html_side, profile=cfg.profile)))
    with tr.span("extract_op.extract_pdf_documents") as s_pdf:
        _plan_attrs(s_pdf, *run_plan(extract_pdf_documents(pdf_side, payload_col="html")))
    m["extract_op.html_s"] = _wall(s_html)
    m["extract_op.pdf_s"] = _wall(s_pdf)
    # each extract_op call is one stage of Python tasks, one per partition
    m["extract_op.python_tasks"] = s_html.attrs["spark_tasks"] + s_pdf.attrs["spark_tasks"]
    m["extract_op.cpu_over_oracle"] = (
        s_html.attrs["cpu_s"] + s_pdf.attrs["cpu_s"]
    ) / ci.oracle_cpu_s

    pipe = ExtractionPipeline(spark, cfg)
    with tr.span("pipeline.extract", rows_in=ci.n_docs) as s:
        _plan_attrs(s, *run_plan(pipe.extract(pages)))
    m["pipeline.extract_s"] = extract_s = _wall(s)

    out = f"{work}/run_traced"
    with tr.span("pipeline.run", rows_in=ci.n_docs) as s:
        log = pipe.run(pages, out, run_id="traced")
    m["pipeline.run_over_extract"] = _wall(s) / extract_s
    m["checkpoint.jobs_per_group"] = s.attrs["spark_jobs"] / cfg.n_commit_groups
    m["trace.main_job_s"] = _wall(s)
    listing = dir_listing(out)
    m["sinks.files_written"] = sum(1 for p in listing if p.endswith(".parquet") or p.endswith(".json"))
    m["sinks.bytes_written"] = sum(listing.values())
    pages_g = pages.withColumn("commit_group", pipe.group_col())
    group0 = with_lineage(
        pipe.extract(pages_g.filter(F.col("commit_group") == 0).drop("commit_group")), "g"
    )
    plan = group0._jdf.queryExecution().sparkPlan().toString()
    m["checkpoint.source_scans"] = plan.count("FileScan") * cfg.n_commit_groups
    checks.expect(
        ci.expected == result_digests(log.committed_results(spark)),
        "traced run output != oracle",
    )

    with tr.span("checkpoint.resume_noop") as s:
        pipe.run(pages, out, run_id="traced-rerun")
    m["checkpoint.resume_noop_s"] = _wall(s)

    # a job committed by hand, group by group, through CommitLog
    manual = CommitLog(f"{work}/run_manual")
    for gid in range(cfg.n_commit_groups // 2):
        with tr.span("checkpoint.extract_group"):
            res = with_lineage(
                pipe.extract(
                    pages_g.filter(F.col("commit_group") == gid).drop("commit_group")
                ),
                "manual",
            ).localCheckpoint(eager=True)
        with tr.span("checkpoint.commit_group"):
            manual.commit_group(gid, res)
    m["checkpoint.commit_group_s"] = statistics.median(
        _wall(s) for s in tr.by_name("checkpoint.commit_group")
    )
    with tr.span("checkpoint.remaining_pages") as s:
        s.attrs["rows_out"] = manual.remaining_pages(
            spark, pages_g, F.col("commit_group")
        ).count()
    m["checkpoint.remaining_pages_s"] = _wall(s)

    with tr.span("metrics.partition_metrics") as s:
        s.attrs["rows_out"] = len(partition_metrics(log.committed_results(spark)).collect())
    m["metrics.partition_metrics_s"] = _wall(s)


# -- curation chain -----------------------------------------------------


def curation_chain(spark, tr, cu, work: str, docs_path: str, bench_path: str,
                   m: dict, checks: Checks, main_job_of_workload: bool) -> None:
    docs = spread_for_compute(spark.read.parquet(docs_path), key="doc_id").localCheckpoint(
        eager=True
    )
    bench = spark.read.parquet(bench_path)
    n_tail = max(1, math.ceil(len(cu.docs) / 100))
    # the longest 1%, one doc per partition as the funnel's entry spread
    # would place them
    tail = (
        docs.orderBy(F.length("text").desc(), "doc_id")
        .limit(n_tail)
        .repartition(n_tail)
        .localCheckpoint(eager=True)
    )

    def timed(name, df, rows_in=len(cu.docs)):
        with tr.span(name, rows_in=rows_in) as s:
            _plan_attrs(s, *run_plan(df))
        m[f"{name}_s"] = _wall(s)

    timed(
        "webfilter.url_filter",
        url_filter(docs, blocked_domains=CURATION.blocked_domains),
    )
    timed("textstats.lang_id", docs.select("doc_id", lang_id("text").alias("lang")))
    timed("textstats.gopher_stamp", gopher_stamp(docs, "text"))
    timed("textstats.gopher_stamp.tail", gopher_stamp(tail, "text"), rows_in=n_tail)
    for name, frame, rows_in in (
        ("dedup.minhash_near_duplicates", docs, len(cu.docs)),
        ("dedup.minhash_near_duplicates.tail", tail, n_tail),
    ):
        with tr.span(name, rows_in=rows_in) as s:
            pairs = minhash_near_duplicates(
                frame.select("doc_id", "text"),
                threshold_num=CURATION.minhash_threshold_num,
                threshold_den=CURATION.minhash_threshold_den,
                spread=False,
            ).localCheckpoint(eager=True)
        m[f"{name}_s"] = _wall(s)
        if frame is docs:
            all_pairs = pairs
    with tr.span("dedup.near_dup_clusters") as s:
        s.attrs["rows_out"] = near_dup_clusters(all_pairs).count()
    m["dedup.near_dup_clusters_s"] = _wall(s)
    timed(
        "decontam.contamination",
        contamination(docs.select("doc_id", "text"), bench, k=CURATION.contam_k, spread=False),
    )
    timed("pii.pii_signals", pii_signals(docs, "text"))

    with tr.span("curation.curate_corpus", rows_in=len(cu.docs)) as s:
        res = curate_corpus(
            spark.read.parquet(docs_path),
            benchmark=spark.read.parquet(bench_path),
            config=CURATION,
        )
        res.kept.write.parquet(f"{work}/curated/kept")
        res.ledger.write.parquet(f"{work}/curated/ledger")
    m["curation.curate_corpus_s"] = _wall(s)
    if main_job_of_workload:
        m["trace.main_job_s"] = _wall(s)
    ledger = spark.read.parquet(f"{work}/curated/ledger").orderBy("stage_order").collect()
    expect_in = len(cu.docs)
    for r in ledger:
        m[f"curation.dropped.{r['stage']}"] = r["docs_dropped"]
        checks.expect(r["docs_in"] == expect_in, f"ledger docs_in at {r['stage']}")
        expect_in = r["docs_in"] - r["docs_dropped"]


# -- ingest chain -------------------------------------------------------


def ingest_chain(spark, tr, cu, work: str, m: dict, checks: Checks) -> None:
    state = f"{work}/ingest_state"
    base = [d for d in cu.docs if d[0] < 100_000 and d[0] not in cu.giant_ids]
    b0 = base[:INGEST_BATCH_DOCS]
    b1 = base[INGEST_BATCH_DOCS : 2 * INGEST_BATCH_DOCS]

    def frame(rows):
        return spark.createDataFrame(rows, "doc_id long, url string, text string")

    def batch(rows, bid):
        before = dir_listing(state)
        with tr.span("ingest.ingest_batch", rows_in=len(rows)) as s:
            res = ing.ingest_batch(spark, frame(rows), state, bid, config=INGEST)
        after = dir_listing(state)
        s.attrs["files_written"] = sum(1 for p in after if before.get(p) != after[p])
        return res

    kept0_df = batch(b0, "b00").kept
    sig0 = _row_sig(kept0_df, ["doc_id", "url", "text"])
    kept0 = kept0_df.select("doc_id", "url", "text", "content_hash").collect()
    # re-posts of committed survivors: exact copies and near copies
    sources = kept0[:6]
    plants = [(500_000 + r["doc_id"], f"https://mirror.example.net/{r['doc_id']}", r["text"])
              for r in sources[:4]]
    plants += [(600_000 + r["doc_id"], f"https://near.example.net/{r['doc_id']}",
                " ".join(w if j % 40 else "delta" for j, w in enumerate(r["text"].split(" "))))
               for r in sources[4:]]
    b1 = b1 + plants

    # the batch's stages in isolation, against the committed history
    with tr.span("ingest.funnel") as s:
        stamped = curate_corpus(frame(b1), config=INGEST.curation).stamped
        surv = stamped.where(F.col("drop_stage").isNull()).localCheckpoint(eager=True)
    funnel_s = _wall(s)
    with tr.span("ingest.history_exact") as s:
        hist = spark.read.schema(ing.SEEN_SCHEMA).parquet(f"{state}/seen/batch=b00")
        delta = surv.select("doc_id", content_hash(F.col("redacted_text")).alias("content_hash"))
        s.attrs["rows_out"] = ing.history_exact_hits(hist, delta).count()
    exact_s = _wall(s)
    with tr.span("ingest.history_fuzzy") as s:
        idx = read_minhash_index(spark, [f"{state}/index/batch=b00"], base_path=f"{state}/index")
        probe = surv.select("doc_id", F.col("redacted_text").alias("text"))
        s.attrs["rows_out"] = dedup_incremental(probe, idx, tau=INGEST.tau).where("is_dup").count()
    fuzzy_s = _wall(s)
    checks.expect(s.attrs["rows_out"] >= 1, "near re-posts not flagged by the fuzzy probe")

    batch(b1, "b01")
    spans = tr.by_name("ingest.ingest_batch")
    m["ingest.batch_s"] = statistics.median(_wall(x) for x in spans)
    m["ingest.jobs_per_batch"] = statistics.median(x.attrs["spark_jobs"] for x in spans)
    m["ingest.files_written_per_batch"] = statistics.median(
        x.attrs["files_written"] for x in spans
    )
    m["ingest.funnel_s"] = funnel_s
    m["ingest.history_exact_s"] = exact_s
    m["ingest.history_fuzzy_s"] = fuzzy_s
    m["ingest.commit_s"] = _wall(spans[-1]) - funnel_s - exact_s - fuzzy_s
    b1_dir = f"{state}/corpus/batch=b01"
    sig1 = _row_sig(spark.read.parquet(b1_dir), ["doc_id", "url", "text", "content_hash"])
    checks.expect(
        not {r["doc_id"] for r in spark.read.parquet(b1_dir).select("doc_id").collect()}
        & {p[0] for p in plants[:4]},
        "exact re-post of history committed",
    )

    used = {r["doc_id"] for r in sources}
    victim = next(r for r in kept0 if r["doc_id"] not in used)
    probe_hashes = [r["content_hash"] for r in kept0[-3:]]

    def locate(hashes):
        rows, files_read, files_total = ing.locate_content(spark, state, hashes)
        return rows.count(), files_read, files_total

    def verb(name, fn):
        before = dir_listing(state)
        with tr.span(name) as s:
            out = fn()
        s.attrs["bytes_rewritten"] = bytes_written(before, dir_listing(state))
        m[f"{name}_s"] = _wall(s)
        return out

    with tr.span("ingest.maintenance") as maint:
        verb("ingest.read_latest", lambda: ing.read_corpus_latest(spark, state).count())
        asof = verb("ingest.read_asof", lambda: _row_sig(
            ing.read_corpus_asof(spark, state, "b00"), ["doc_id", "url", "text"]))
        checks.expect(asof == sig0, "read_corpus_asof(b00) != batch b00 kept set")
        found, files_read, files_total = verb("ingest.locate", lambda: locate(probe_hashes))
        checks.expect(found == len(probe_hashes), "located hashes missing")
        m["bloom_index.files_opened_frac"] = files_read / max(files_total, 1)
        verb("ingest.delete", lambda: ing.delete_content(spark, state, [victim["content_hash"]]))
        m["ingest.delete_bytes_rewritten"] = tr.by_name("ingest.delete")[-1].attrs["bytes_rewritten"]
        checks.expect(locate([victim["content_hash"]])[0] == 0, "deleted hash still present")
        verb("ingest.compact", lambda: ing.compact_ingest_batch(spark, state, "b00"))
        m["ingest.compact_bytes_rewritten"] = tr.by_name("ingest.compact")[-1].attrs["bytes_rewritten"]
        verb("ingest.rollback", lambda: ing.rollback_batch(spark, state, "b01"))
        with tr.span("ingest.reingest"):
            ing.ingest_batch(spark, frame(b1), state, "b01", config=INGEST)
        again = _row_sig(spark.read.parquet(b1_dir), ["doc_id", "url", "text", "content_hash"])
        checks.expect(again == sig1, "re-ingest after rollback is not bit-identical")
        verb("ingest.drift_report", lambda: ing.ingest_drift_report(spark, state).collect())
        verb("ingest.state_report", lambda: ing.ingest_state_report(spark, state).collect())
        verb("ingest.vacuum", lambda: ing.vacuum_ingest_state(spark, state))
    m["ingest.maintenance_s"] = _wall(maint)


# -- entry --------------------------------------------------------------


def traced_run(spark, tr, workload: str, inp, seed: int, work: str) -> tuple[dict, Checks]:
    m: dict = {}
    checks = Checks()
    if workload == "extract_crawl":
        crawl = inp
        cu = curate_inputs(seed, SIDE_CURATE_DOCS)
        write_curate_tables(cu, work)
    else:
        crawl = crawl_inputs(seed, SIDE_CRAWL_PAGES, f"{work}/side_pages.parquet")
        cu = inp
    docs_path, bench_path = f"{work}/docs.parquet", f"{work}/benchmark.parquet"
    with tr.span(f"workload.{workload}") as top:
        extraction_chain(spark, tr, crawl, work, m, checks)
        curation_chain(
            spark, tr, cu, work, docs_path, bench_path, m, checks,
            main_job_of_workload=workload == "curate_longtail",
        )
        ingest_chain(spark, tr, cu, work, m, checks)
    m["trace.overhead_s"] = tr.overhead_s
    m["trace.overhead_frac"] = tr.overhead_s / _wall(top)
    m["trace.span_cpu_over_tree_cpu"] = sum(
        s.attrs["cpu_s"] for s in tr.spans if s.parent == top.span_id
    ) / max(top.attrs["cpu_s"], 1e-9)
    py = [s for s in tr.spans if "python_time_s" in s.attrs]
    m["trace.python_time_over_slot_s"] = sum(s.attrs["python_time_s"] for s in py) / max(
        sum(_wall(s) * CORES for s in py), 1e-9
    )
    return m, checks
