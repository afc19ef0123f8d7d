"""Physical-plan audits — the .explain checks the 100 TB design relies on
(SURVEY §4): column pruning to the scan, filter pushdown, broadcast for
dim joins, no payload shuffle when repartition is disabled."""

from __future__ import annotations

import re

import pytest

from pyspark.sql import functions as F


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_admission_filters_pushed_to_scan(spark, pages_path):
    from docling_jobkit_spark.operators.admission import admission_split

    pages = spark.read.parquet(pages_path)
    admitted, _ = admission_split(pages, max_bytes=10_000)
    plan = _plan(admitted)
    # the null/size predicates must appear as data filters at the scan,
    # not only post-scan (parquet can't evaluate length(), but IsNotNull
    # reaches PushedFilters)
    assert "PushedFilters: [IsNotNull(html)]" in plan or "IsNotNull(html)" in plan


def test_extraction_scan_prunes_columns(spark, pages_path):
    from docling_jobkit_spark.operators.extract_op import extract_documents

    pages = spark.read.parquet(pages_path)
    plan = _plan(extract_documents(pages))
    m = re.search(r"ReadSchema: ([^\n]*)", plan)
    assert m and "warc_ts" not in m.group(1) and "lang" not in m.group(1)


def test_dim_join_is_broadcast(spark, sf_dir):
    import __spark_entry__ as e

    plan = _plan(e.queries()["join_multiway"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_no_payload_shuffle_when_repartition_disabled(spark, pages_path):
    from docling_jobkit_spark.plans.pipeline import ExtractionPipeline, PipelineConfig

    pipe = ExtractionPipeline(
        spark,
        PipelineConfig(use_slicing=False, repartition=False),
    )
    plan = _plan(pipe.extract(spark.read.parquet(pages_path)))
    assert "Exchange" not in plan  # html bytes never cross a shuffle


def test_topk_uses_takeordered(spark, sf_dir):
    import __spark_entry__ as e

    plan = _plan(e.queries()["topk_customers"](spark, sf_dir))
    # global orderBy+limit must compile to TakeOrderedAndProject, not a
    # full sort of the table
    assert "TakeOrderedAndProject" in plan


def test_partial_aggregation_before_shuffle(spark, sf_dir):
    import __spark_entry__ as e

    plan = _plan(e.queries()["agg_lineitem_q1"](spark, sf_dir))
    # map-side combine: two HashAggregate levels around the exchange
    assert plan.count("HashAggregate") >= 2


def test_slice_shuffle_carries_slice_bytes_not_documents(spark):
    """The slice fan-out's exchange must sit ABOVE the split (so only
    per-slice bytes move) and partition on (_doc_key, slice_index)."""
    from docling_jobkit_spark.operators.slices import split_slices, spread_slices

    df = spark.createDataFrame(
        [(0, "u", b"a<!--PAGE_BREAK-->b")], "_doc_key long, url string, html binary"
    )
    slices = spread_slices(split_slices(df, pages_per_slice=1), 8)
    plan = _plan(slices)
    assert "hashpartitioning(_doc_key" in plan
    # whole-document html never enters the exchange: the shuffled schema
    # is the slice schema. A standalone `html#N` attribute (negative
    # lookbehind excludes `slice_html#N`) must not appear ABOVE the
    # exchange — everything post-shuffle carries only slice bytes.
    assert "slice_html" in plan
    ex = plan.index("Exchange")
    assert not re.search(r"(?<![a-z_])html#", plan[:ex]), plan[:ex]
    # ...but the full column IS read below it (sanity that the regex can
    # see standalone html at all)
    assert re.search(r"(?<![a-z_])html#", plan[ex:])


def test_scalar_projection_queries_are_pure_codegen(spark, sf_dir):
    """uri_parts / lang_id / token_window_chunks: single-pass projections —
    no shuffle, no Python in the plan."""
    import __spark_entry__ as e

    for name in ("uri_parts", "lang_id", "token_window_chunks"):
        plan = _plan(e.queries()[name](spark, sf_dir))
        assert "Exchange" not in plan, name
        assert "EvalPython" not in plan and "MapInPandas" not in plan, name
        # executedPlan prints codegen stages as a "*(n)" node prefix
        assert "WholeStageCodegen" in plan or "*(" in plan, name


def test_dedup_families_never_plan_quadratic_joins(spark, sf_dir):
    """The near-dup/ANN candidate joins must be bucketed equi-joins —
    a cartesian or nested-loop join anywhere in these plans means the
    blocking broke and the operator is quadratic at scale."""
    import __spark_entry__ as e

    qs = e.queries()
    for name in (
        "jaccard_pairs",
        "minhash_lsh",
        "simhash_pairs",
        "embedding_near_dup_lsh",
        "dedup_exact",
    ):
        plan = _plan(qs[name](spark, sf_dir))
        assert "CartesianProduct" not in plan, name
        assert "BroadcastNestedLoopJoin" not in plan, name


def test_commit_group_scan_multiplicity_bounded(spark, pages_path):
    """plans/pipeline.py documents a deliberate tradeoff: one commit
    group's plan evaluates the (column-pruned) source 3× — the
    admitted/rejected and big/small branches are filters of one scan.
    Pin the bound so a refactor can't silently multiply scans."""
    from pyspark.sql import functions as F

    from docling_jobkit_spark.plans.pipeline import ExtractionPipeline, PipelineConfig

    pipe = ExtractionPipeline(
        spark, PipelineConfig(num_partitions=8, n_commit_groups=4, use_slicing=True)
    )
    pages = spark.read.parquet(pages_path).withColumn(
        "commit_group", pipe.group_col()
    )
    group = pages.filter(F.col("commit_group") == 0).drop("commit_group")
    plan = _plan(pipe.extract(group))
    n_scans = plan.count("Scan parquet")
    assert 1 <= n_scans <= 3, f"commit-group plan has {n_scans} parquet scans"


def _subtree(lines: list[str], i: int) -> list[str]:
    """The plan lines below the node on line ``i`` (its descendants)."""

    def col(ln):
        return len(re.match(r"[ :|+\-]*", ln).group(0))

    out = []
    for ln in lines[i + 1 :]:
        if col(ln) <= col(lines[i]):
            break
        out.append(ln)
    return out


def test_auto_commit_group_routes_in_one_pass(spark, pages_path):
    """A payload_format="auto" commit group plans ONE router
    (slices.extract_routed) for html and pdf alike: the full payload
    crosses exactly one shuffle — the salted spread below the direct map
    — big docs split on the scan side, and the fan-out adds one split
    map, one slice-extract map and one reassembly."""
    from docling_jobkit_spark.plans.pipeline import ExtractionPipeline, PipelineConfig

    pipe = ExtractionPipeline(
        spark,
        PipelineConfig(num_partitions=8, n_commit_groups=4, payload_format="auto"),
    )
    pages = spark.read.parquet(pages_path).withColumn(
        "commit_group", pipe.group_col()
    )
    group = pages.filter(F.col("commit_group") == 0).drop("commit_group")
    lines = _plan(pipe.extract(group)).splitlines()
    direct = [
        i for i, ln in enumerate(lines)
        if re.search(r"MapInPandas <lambda>\(url#\d+, html#\d+, _is_pdf#\d+\)", ln)
    ]
    assert len(direct) == 1, lines
    exchanges = [ln for ln in _subtree(lines, direct[0]) if "Exchange" in ln]
    assert len(exchanges) == 1 and "sha2(" in exchanges[0], exchanges
    plan = "\n".join(lines)
    assert plan.count("Scan parquet") <= 3
    assert plan.count("MapInPandas") <= 3
    assert plan.count("FlatMapGroupsInPandas") == 1


def test_commit_group_predicate_prunes_bucket_partitioned_layout(spark, pages_path, tmp_path):
    """The documented mitigation: lay the pages table out partitioned by
    the commit group and each group's predicate PRUNES partitions — every
    parquet scan in the group's plan carries the PartitionFilters, so the
    3× re-evaluation touches 1/n_commit_groups of the data, not 3× all
    of it."""
    from pyspark.sql import functions as F

    from docling_jobkit_spark.plans.pipeline import ExtractionPipeline, PipelineConfig

    pipe = ExtractionPipeline(
        spark, PipelineConfig(num_partitions=8, n_commit_groups=4, use_slicing=True)
    )
    layout = str(tmp_path / "bucketed_pages")
    spark.read.parquet(pages_path).withColumn(
        "commit_group", pipe.group_col()
    ).write.partitionBy("commit_group").parquet(layout)

    pages = spark.read.parquet(layout)
    group = pages.filter(F.col("commit_group") == 0).drop("commit_group")
    plan = _plan(pipe.extract(group))
    import re as _re

    pf = _re.findall(r"PartitionFilters: \[([^\]]*)\]", plan)
    scans_with_pruning = [p for p in pf if "commit_group" in p]
    n_scans = plan.count("Scan parquet")
    assert n_scans >= 1
    assert len(scans_with_pruning) == n_scans, (
        f"{n_scans} scans but only {len(scans_with_pruning)} carry the "
        f"commit_group partition filter: {pf}"
    )


def test_repetition_signals_single_scan_no_join(spark, sf_dir):
    """All n-gram families must ride ONE scan of documents, computed
    PER DOCUMENT (sorted-run fold over hashed windows): no join back to
    the base table and — since the round-6 rewrite — no aggregation and
    no exchange beyond the parallelism spread: the per-(doc, n) stats
    never shuffle gram rows at any corpus size."""
    import __spark_entry__ as e

    plan = _plan(e.queries()["repetition_signals"](spark, sf_dir))
    assert plan.count("Scan parquet") == 1
    assert "Join" not in plan
    # zero gram shuffles: the only allowed exchange is the round-robin
    # spread of the raw rows (spread_for_compute at the entry)
    import re

    exchanges = re.findall(r"Exchange \w+", plan)
    assert all("RoundRobin" in e_ for e_ in exchanges), exchanges
    assert "HashAggregate" not in plan


def test_segment_dup_joins_on_hash_only(spark, sf_dir):
    """The corpus-frequency join must carry the 56-bit seg hash, never
    text; no broadcast-nested-loop / cartesian anywhere."""
    import __spark_entry__ as e

    plan = _plan(e.queries()["segment_dup"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    joins = [ln for ln in plan.splitlines() if "Join" in ln and "seg_hash" in ln]
    assert joins, "frequency join must key on seg_hash"
    assert not any("text" in ln for ln in joins)


def test_curation_filters_are_scan_fused(spark, sf_dir):
    """url_filter and pii_redact must stay pure projections: one scan,
    zero exchanges (the whole decision fuses into the scan stage)."""
    import __spark_entry__ as e

    for q in ("url_filter", "pii_redact"):
        plan = _plan(e.queries()[q](spark, sf_dir))
        assert "Exchange" not in plan, q
        assert plan.count("Scan parquet") == 1, q


def test_spread_for_compute_skips_already_spread_plans(spark, sf_dir):
    """A derived frame that already carries an exchange to >= target
    partitions must pass through unchanged (no redundant second
    shuffle); an under-parallel leaf still gets the spread."""
    from docling_jobkit_spark.operators.dedup import spread_for_compute

    target = int(spark.conf.get("spark.sql.shuffle.partitions"))
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")

    pre = docs.repartition(target)
    assert spread_for_compute(pre) is pre
    pre_keyed = docs.repartition(target * 2, "doc_id").select("doc_id", "text")
    assert spread_for_compute(pre_keyed) is pre_keyed

    # under-parallel: small repartition below target still gets spread
    small = docs.repartition(1)
    plan = _plan(spread_for_compute(small))
    assert f"RoundRobinPartitioning({target}" in plan

    # only the OUTERMOST repartition-like node certifies parallelism: a
    # coalesce applied AFTER a big repartition caps the partition count,
    # so the buried exchange must not skip the guard
    collapsed = docs.repartition(target * 2).coalesce(1)
    plan = _plan(spread_for_compute(collapsed))
    assert f"RoundRobinPartitioning({target}" in plan

    # a bare coalesce never certifies parallelism either
    coalesced = docs.coalesce(target * 2)
    plan = _plan(spread_for_compute(coalesced))
    assert f"RoundRobinPartitioning({target}" in plan


def test_curate_stamp_is_scan_fused(spark, sf_dir):
    """The batch twin of the streaming curation stamp must stay a pure
    projection: one scan, zero exchanges — the whole stamp fuses into
    the scan stage at any corpus size."""
    import __spark_entry__ as e

    plan = _plan(e.queries()["curate_stamp"](spark, sf_dir))
    assert "Exchange" not in plan
    assert plan.count("Scan parquet") == 1


def test_ivf_presigned_layout_prunes_partitions(spark, sf_dir, tmp_path):
    """The at-scale IVF layout: assignments materialized once and written
    partitionBy(ivf_cell); a probe's IN-list reaches the scan as a
    PartitionFilter, so only the probed cells' files are listed/opened —
    and the answer is row-identical to the scan-form ivf_topk."""
    from pyspark.sql import functions as F

    from docling_jobkit_spark.operators.similarity import (
        deterministic_centroids,
        ivf_topk,
        ivf_topk_presigned,
        probe_cells,
        with_ivf_cells,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    cents = deterministic_centroids(emb, k=8)
    layout = str(tmp_path / "ivf_cells")
    with_ivf_cells(emb, cents).write.partitionBy("ivf_cell").parquet(layout)

    stored = spark.read.parquet(layout)
    q = [float(i % 7 - 3) / 4.0 for i in range(64)]
    top = ivf_topk_presigned(stored, q, cents, k=5, n_probe=2)
    plan = _plan(top)
    import re as _re

    pf = _re.findall(r"PartitionFilters: \[([^\]]*)\]", plan)
    cell_filters = [p for p in pf if "ivf_cell" in p]
    assert cell_filters, f"no ivf_cell partition filter: {pf}"
    # the filter carries exactly the probed cells (inputFiles() would
    # list the relation's PRE-pruning files, so assert on the filter)
    probes = set(probe_cells(q, cents, 2))
    in_cells = {int(x) for x in _re.findall(r"-?\d+", cell_filters[0].split("IN")[-1])}
    assert in_cells == probes, f"filter cells {in_cells} != probes {probes}"
    # answer identical to the scan-form baseline
    scan_form = [tuple(r) for r in ivf_topk(emb, q, cents, k=5, n_probe=2).collect()]
    presigned = [tuple(r) for r in top.collect()]
    assert presigned == scan_form


def test_ivf_presigned_rejects_mismatched_codebook(spark, sf_dir):
    from docling_jobkit_spark.operators.similarity import (
        deterministic_centroids,
        ivf_topk_presigned,
        with_ivf_cells,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    cents = deterministic_centroids(emb, k=8)
    assigned = with_ivf_cells(emb, cents)
    q = [0.1] * 64
    other = [[x + 1.0 for x in c] for c in cents]
    with pytest.raises(ValueError, match="different codebook"):
        ivf_topk_presigned(assigned, q, other, k=5, n_probe=2)
    with pytest.raises(ValueError, match="k=8"):
        ivf_topk_presigned(assigned, q, cents[:4], k=5, n_probe=2)
    with pytest.raises(ValueError, match="ivf_cell missing"):
        ivf_topk_presigned(emb, q, cents, k=5, n_probe=2)


def test_bucketed_tables_join_without_exchange(spark, sf_dir, tmp_path):
    """Co-located join: two tables bucketed by the same key into the
    same bucket count must join with ZERO exchanges (and, with sortBy on
    the key, zero per-task sorts) — the repeated big-big join layout at
    corpus scale. Also pins the negative: the same join over plain
    parquet shuffles both sides."""
    from pyspark.sql import functions as F

    from docling_jobkit_spark.sinks import write_bucketed

    old_thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    old_wh = spark.conf.get("spark.sql.warehouse.dir", None)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        feats = docs.select("doc_id", F.length("text").alias("n_chars_f"))
        write_bucketed(docs.select("doc_id", "lang"), "bkt_docs", "doc_id", 4,
                       sort_col="doc_id")
        write_bucketed(feats, "bkt_feats", "doc_id", 4, sort_col="doc_id")
        joined = spark.table("bkt_docs").join(spark.table("bkt_feats"), "doc_id")
        plan = _plan(joined)
        assert "Exchange" not in plan, "bucketed co-located join must not shuffle"
        assert joined.count() == docs.count()

        # negative control: plain parquet layout shuffles
        plain = docs.select("doc_id", "lang").join(feats, "doc_id")
        assert "Exchange" in _plan(plain)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_thresh)
        spark.sql("drop table if exists bkt_docs")
        spark.sql("drop table if exists bkt_feats")


def test_pdf_extraction_scan_prunes_columns(spark, pages_path):
    """The PDF map and the auto router prune the parquet scan to
    (url, payload) exactly like the HTML flagship — at corpus scale the
    other columns never leave the footers."""
    from docling_jobkit_spark.operators.extract_op import (
        extract_documents_auto,
        extract_pdf_documents,
    )

    pages = spark.read.parquet(pages_path)
    for op in (
        lambda df: extract_pdf_documents(df, payload_col="html"),
        extract_documents_auto,
    ):
        plan = _plan(op(pages))
        m = re.search(r"ReadSchema: ([^\n]*)", plan)
        assert m and "warc_ts" not in m.group(1) and "lang" not in m.group(1)


def test_pdf_slice_routing_estimate_is_jvm_side(spark, pages_path):
    """The sliced router's page-count estimate must plan as a codegen
    projection — no Python/Arrow eval node on the admission path."""
    from docling_jobkit_spark.operators.slices import pdf_page_count_col

    pages = spark.read.parquet(pages_path)
    plan = _plan(pages.select(pdf_page_count_col("html").alias("n")))
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
