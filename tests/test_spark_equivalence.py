"""Spark pipeline ≡ single-threaded oracle, byte-identical per url
(BASELINE.json input_hint; FIXTURES.md §6 test_spark_equivalence)."""

from __future__ import annotations

from docling_jobkit_spark.extractor import extract
from docling_jobkit_spark.operators.extract_op import extract_documents
from docling_jobkit_spark.operators.slices import extract_documents_sliced
from docling_jobkit_spark.plans.pipeline import ExtractionPipeline, PipelineConfig


def _oracle_map(rows, max_bytes=None):
    """The reference loop: sequential extraction, last-write-wins per url
    (matches Spark's dedup-free semantics only when urls are unique, so we
    key by url and assert on unique urls)."""
    out = {}
    for r in rows:
        res = extract(r["html"], r["url"], max_bytes=max_bytes)
        out.setdefault(r["url"], []).append(res)
    return out


def _assert_matches_oracle(result_rows, oracle):
    assert len(result_rows) == sum(len(v) for v in oracle.values())
    by_url = {}
    for row in result_rows:
        by_url.setdefault(row["url"], []).append(row)
    for url, expected_list in oracle.items():
        got_list = by_url[url]
        assert len(got_list) == len(expected_list), url
        # duplicate urls carry different payloads — compare as multisets
        got_set = sorted(
            (
                g["extracted_text"],
                g["status"],
                tuple(
                    (s["start"], s["end"], s["kind"], s["path"])
                    for s in (g["spans"] or [])
                ),
            )
            for g in got_list
        )
        exp_set = sorted(
            (
                e.text,
                e.status,
                tuple((s.start, s.end, s.kind, s.path) for s in e.spans),
            )
            for e in expected_list
        )
        assert got_set == exp_set, f"mismatch for {url}"


def test_direct_map_equivalence(spark, pages_path, corpus_rows):
    pages = spark.read.parquet(pages_path)
    got = extract_documents(pages).collect()
    _assert_matches_oracle([r.asDict(recursive=True) for r in got], _oracle_map(corpus_rows))


def test_sliced_map_equivalence(spark, pages_path, corpus_rows):
    """Slice-explode + reassembly must be byte-identical to the direct
    path (analog of the reference's slice-fanout == passthrough contract,
    ``serve_deployment.py:510-549``)."""
    pages = spark.read.parquet(pages_path)
    got = extract_documents_sliced(pages, pages_per_slice=2, slice_min_pages=3).collect()
    _assert_matches_oracle([r.asDict(recursive=True) for r in got], _oracle_map(corpus_rows))


def test_full_pipeline_equivalence(spark, pages_path, corpus_rows):
    cfg = PipelineConfig(max_bytes=1 << 26, num_partitions=8, n_commit_groups=4)
    pipe = ExtractionPipeline(spark, cfg)
    pages = spark.read.parquet(pages_path)
    got = pipe.extract(pages).collect()
    _assert_matches_oracle(
        [r.asDict(recursive=True) for r in got],
        _oracle_map(corpus_rows, max_bytes=cfg.max_bytes),
    )


def test_column_pruning_reaches_scan(spark, pages_path):
    """The extraction plan must not read text/lang/warc_ts from parquet —
    ReadSchema pruned to url+html (SURVEY §4 pushdown requirement)."""
    pages = spark.read.parquet(pages_path)
    plan = extract_documents(pages)._jdf.queryExecution().executedPlan().toString()
    assert "ReadSchema" in plan
    import re

    m = re.search(r"ReadSchema: ([^\n]*)", plan)
    schema = m.group(1)
    assert "url" in schema and "html" in schema
    assert "warc_ts" not in schema and "lang" not in schema


def test_routes_byte_identical_on_mixed_corpus(spark, corpus_rows):
    """One auto-format crawl through every route — sliced pipeline,
    unsliced pipeline, single-shot auto map — gives the same rows, column
    for column (timings are wall-clock, not content), and each row equals
    the per-row Python oracle. The corpus covers multi-page html and pdf,
    duplicate urls with distinct payloads, malformed html and pdf (the
    pdf's page estimate sends it to a split that fails and degrades), an
    empty doc, and over-``max_bytes`` docs of both formats."""
    from docling_jobkit_spark.extractor import pdf_gen as g
    from docling_jobkit_spark.extractor.pdf import extract_pdf, is_pdf
    from docling_jobkit_spark.operators.extract_op import extract_documents_auto

    brk = b"<!--PAGE_BREAK-->"
    paged = [r["html"] for r in corpus_rows if r["html"] and r["html"].count(brk) >= 2]

    def pdf_of(n, compress):
        return g.build_pdf(
            [g.Page.of([g.para(f"page {i} body text of a pdf document")]) for i in range(n)],
            compress=compress,
        )

    pdf3, pdf4 = pdf_of(3, True), pdf_of(4, False)
    bad_html = brk.join([b"<p>caf\xe9 au lait, a malformed page of text</p>"] * 3)
    bad_pdf = b"%PDF-1.4 garbage /Type /Page /Type /Page /Type /Page"
    docs = [
        ("h://paged", paged[0]), ("dup://h", paged[0]), ("dup://h", paged[1]),
        ("p://multi", pdf3), ("dup://p", pdf3), ("dup://p", pdf4),
        ("h://bad", bad_html), ("p://bad", bad_pdf), ("h://empty", b""),
    ]
    cap = max(len(p) for _, p in docs) + 1
    docs += [
        ("h://huge", paged[0] + brk + b"<p>" + b"x" * cap + b"</p>"),
        ("p://huge", pdf3 + b"\n%" + b"x" * cap),
    ]
    df = spark.createDataFrame(docs, "url string, html binary")

    def rows(results):
        return sorted((tuple(r) for r in results.drop("timings").collect()), key=repr)

    def pipe(use_slicing):
        cfg = PipelineConfig(
            num_partitions=4, max_bytes=cap, payload_format="auto",
            pages_per_slice=1, use_slicing=use_slicing,
        )
        return ExtractionPipeline(spark, cfg).extract(df)

    sliced = rows(pipe(True))
    assert sliced == rows(pipe(False))
    assert sliced == rows(extract_documents_auto(df, max_bytes=cap))

    def fields(url, status, text, spans, error, n_pages, n_bytes):
        return (url, status, text, [tuple(s) for s in spans],
                tuple(error) if error else None, n_pages, n_bytes)

    got = sorted((fields(*r[:7]) for r in sliced), key=repr)
    want = []
    for url, payload in docs:
        res = (extract_pdf if is_pdf(payload) else extract)(payload, url, max_bytes=cap)
        err = res.error.as_dict() if res.error else None
        want.append(fields(
            url, res.status, res.text, res.spans,
            tuple(err.values()) if err else None, res.n_pages, len(payload),
        ))
    assert got == sorted(want, key=repr)
    assert {r[1] for r in got} == {"SUCCESS", "PARTIAL_SUCCESS", "FAILURE"}
    assert {r[0]: r[5] for r in got}["p://multi"] == 3
