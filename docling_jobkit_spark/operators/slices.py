"""Page-slice fan-out + reassembly (F1/F2 in SURVEY §2.3), and the one
router that sends each document to the direct map or the fan-out.

The reference splits huge PDFs into page ranges, converts slices
concurrently, and reassembles in slice order:
- slice plan: ``orchestrators/ray/serve_deployment.py:437-464``;
- dispatch: ``:1656-1725``; reassembly (sort by slice_index, concat,
  status = SUCCESS iff all slices SUCCESS else PARTIAL, errors merged):
  ``:510-549``;
- shared-payload intent (slices reference plasma bytes, never copy the
  whole doc per slice): ``serve_deployment.py:1253-1317``.

Spark-first re-expression (``extract_routed``), one code path for html,
pdf and mixed corpora:
- ROUTING is pure JVM: one per-row ``_is_pdf`` flag (a literal for a
  declared format, the byte sniff ``extract_op.is_pdf_col`` for "auto" —
  the same test as ``extractor.pdf.is_pdf``) selects the matching page
  count estimate (``page_count_col`` / ``pdf_page_count_col``), and the
  estimate picks the branch. No Python runs to route;
- small docs take an optional caller spread (the pipeline's salted
  repartition) into ONE direct map that dispatches per row on the flag;
- big docs are SPLIT where the scan put them — one mapInPandas that
  emits one row per slice carrying ONLY that slice's bytes (html: pages
  re-joined by the marker; pdf: self-contained sub-PDFs from
  ``extractor/pdf.py::split_pdf``) — so whole giant payloads never cross
  a shuffle and cross the Arrow boundary once;
- slice rows are hash-REPARTITIONED on (_doc_key, slice_index) before
  ONE slice-extract map, so the slices of one giant document genuinely
  run on many cores — a 400-page doc would otherwise pin one task for
  minutes;
- REASSEMBLY groups by a per-input-row ``_doc_key`` (urls are NOT unique —
  the corpus deliberately contains duplicate urls with different
  payloads; grouping by url would interleave two documents' slices);
- byte-exactness is by construction: ``extract()`` DEFINES full-document
  text as the page-wise extraction joined by PAGE_JOIN, and a slice's
  payload is exactly its pages re-joined by the marker (see extract.py);
  PDF layout analysis is per-page and a sub-PDF carries exactly its
  pages' object closure.

One commit group of the pipeline therefore plans 3 scans (small, big,
admission-rejected), 3 exchanges (salted spread, slice spread,
reassembly) and 4 Python nodes, whatever the payload format.
"""

from __future__ import annotations

import re
from collections.abc import Callable, Iterator

import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from docling_jobkit_spark.operators.extract_op import (
    ERROR_TYPE,
    RESULT_SCHEMA,
    SPAN_TYPE,
    extract_flagged,
    format_flag_col,
    is_pdf_col,
    with_document_identity,
)

PAGE_BREAK_STR = "<!--PAGE_BREAK-->"
_PAGE_PREFIX = re.compile(r"^p(\d+)/")  # a pdf span path's page number

SLICE_SCHEMA = T.StructType(
    [
        T.StructField("_doc_key", T.LongType()),
        T.StructField("url", T.StringType()),
        T.StructField("slice_index", T.IntegerType()),
        T.StructField("slice_html", T.BinaryType()),
        T.StructField("is_pdf", T.BooleanType()),
        T.StructField("clean", T.BooleanType()),
        T.StructField("page_lo", T.IntegerType()),
        T.StructField("n_pages", T.IntegerType()),
        T.StructField("n_bytes", T.LongType()),
    ]
)

SLICE_RESULT_SCHEMA = T.StructType(
    [
        T.StructField("_doc_key", T.LongType()),
        T.StructField("url", T.StringType()),
        T.StructField("slice_index", T.IntegerType()),
        T.StructField("status", T.StringType()),
        T.StructField("extracted_text", T.StringType()),
        T.StructField("spans", SPAN_TYPE),
        T.StructField("error", ERROR_TYPE),
        T.StructField("n_pages", T.IntegerType()),
        T.StructField("n_bytes", T.LongType()),
        T.StructField("timings", T.MapType(T.StringType(), T.DoubleType())),
    ]
)


def _occurrences(s: Column, needle: str) -> Column:
    """Non-overlapping substring count as a LENGTH DIFFERENCE (replace the
    needle with '' and divide the shrinkage by its length) instead of
    ``size(split(...))``: split would materialize every page substring
    just to count them, doubling transient memory for every large doc on
    the admission path (a 70 MB doc briefly held 140 MB per row)."""
    return (
        F.length(s) - F.length(F.replace(s, F.lit(needle), F.lit("")))
    ) / F.lit(len(needle))


def page_count_col(html_col="html") -> Column:
    """JVM-side page count: marker occurrences + 1, 0 for NULL payloads.

    ``cast(binary as string)`` wraps the bytes unchecked and the marker is
    pure ASCII, so the count is correct even for payloads that are not
    valid UTF-8 (verified by test). No Python, no Arrow crossing — the
    routing decision costs a codegen projection."""
    c = F.col(html_col) if isinstance(html_col, str) else html_col
    n_markers = _occurrences(c.cast("string"), PAGE_BREAK_STR)
    return (
        F.when(c.isNull(), F.lit(0)).otherwise(n_markers + F.lit(1)).cast("int")
    )


def pdf_page_count_col(payload_col="pdf") -> Column:
    """JVM-side PDF page-count ESTIMATE for slice routing: occurrences of
    the page-leaf marker ``/Type /Page`` (both spacings) minus the
    ``/Type /Pages`` tree nodes the shorter needle also matches, over the
    unchecked binary→string wrap. Payloads failing the ``%PDF-`` byte
    sniff estimate 1 (the direct map handles them). Counting bytes this
    way can miss pages (object-stream PDFs) or over-count (the marker
    inside compressed data) — both mis-routes are output-identical, see
    ``extract_routed``; exact counting stays in the Python
    ``pdf_page_count`` used by the splitter itself."""
    c = F.col(payload_col) if isinstance(payload_col, str) else payload_col
    s = c.cast("string")
    est = (
        _occurrences(s, "/Type /Page")
        - _occurrences(s, "/Type /Pages")
        + _occurrences(s, "/Type/Page")
        - _occurrences(s, "/Type/Pages")
    )
    return (
        F.when(is_pdf_col(c), F.greatest(est, F.lit(1)))
        .otherwise(F.lit(1))
        .cast("int")
    )


def _split_html(payload: bytes, k: int) -> Iterator[tuple]:
    """→ (slice bytes, clean, first page, n_pages) per slice."""
    from docling_jobkit_spark.extractor.extract import PAGE_BREAK

    try:
        payload.decode("utf-8", errors="strict")
        clean = True
    except UnicodeDecodeError:
        clean = False
    pages = payload.split(PAGE_BREAK)
    n = len(pages)
    for lo in range(0, n, k):
        yield PAGE_BREAK.join(pages[lo : lo + k]), clean, lo + 1, n


def _split_pdf(payload: bytes, k: int) -> Iterator[tuple]:
    """→ (sub-PDF bytes, clean, first page, n_pages) per slice."""
    from docling_jobkit_spark.extractor.pdf import pdf_page_count, split_pdf

    try:
        parts, n = split_pdf(payload, k)
    except Exception:
        # split failed (unparseable OR unserializable): degrade to one
        # full-payload slice — its extraction row IS the single-shot row;
        # count pages exactly so a slice that still extracts reports the
        # single-shot n_pages
        parts, n = [payload], pdf_page_count(payload)
    for si, part in enumerate(parts):
        # PDFs have no decode-partial state: always clean
        yield part, True, si * k + 1, n


def _split_batches(
    batches: Iterator[pd.DataFrame], pages_per_slice: int
) -> Iterator[pd.DataFrame]:
    for batch in batches:
        out: dict[str, list] = {f.name: [] for f in SLICE_SCHEMA.fields}
        for key, url, raw, pdf_flag in zip(
            batch["_doc_key"], batch["url"], batch["html"], batch["_is_pdf"]
        ):
            payload = bytes(raw)
            split = _split_pdf if pdf_flag else _split_html
            for si, (part, clean, lo, n) in enumerate(
                split(payload, pages_per_slice), start=1
            ):
                out["_doc_key"].append(int(key))
                out["url"].append(url)
                out["slice_index"].append(si)
                out["slice_html"].append(part)  # shared payload column
                out["is_pdf"].append(bool(pdf_flag))
                out["clean"].append(clean)
                out["page_lo"].append(lo)
                out["n_pages"].append(n)
                out["n_bytes"].append(len(payload))
        yield pd.DataFrame(out)


def _split_map(big_docs: DataFrame, pages_per_slice: int) -> DataFrame:
    """(_doc_key, url, html, _is_pdf) → one SLICE_SCHEMA row per slice.
    One Arrow round-trip of the payload total — per-slice rows sum to ~the
    document size, so the downstream shuffle and extraction never move
    whole-document bytes again. A pdf slice row carries the EXACT page
    total from the split's own parse (the JVM routing estimate never
    reaches output rows)."""
    cols = big_docs.select("_doc_key", "url", "html", "_is_pdf")
    return cols.mapInPandas(
        lambda it: _split_batches(it, pages_per_slice), schema=SLICE_SCHEMA
    )


def split_slices(big_docs: DataFrame, pages_per_slice: int) -> DataFrame:
    """(_doc_key, url, html) → html slice rows (see ``_split_map``)."""
    return _split_map(big_docs.withColumn("_is_pdf", F.lit(False)), pages_per_slice)


def split_pdf_slices(big_docs: DataFrame, pages_per_slice: int) -> DataFrame:
    """(_doc_key, url, pdf) → sub-PDF slice rows (see ``_split_map``)."""
    flagged = big_docs.select(
        "_doc_key", "url", F.col("pdf").alias("html"), F.lit(True).alias("_is_pdf")
    )
    return _split_map(flagged, pages_per_slice)


def _extract_html_slice(payload: bytes, clean: bool, prof):
    """→ (status, text, spans, error dict, timings) of one html slice."""
    import time

    from docling_jobkit_spark.extractor.errors import classify_failure
    from docling_jobkit_spark.extractor.extract import extract_page_range

    try:
        t0 = time.perf_counter()
        text, spans, _ = extract_page_range(payload, 1, 1 << 30, prof)
        timings = {"extract": time.perf_counter() - t0}
        return ("SUCCESS" if clean else "PARTIAL_SUCCESS"), text, spans, None, timings
    except Exception as exc:
        return "FAILURE", "", [], classify_failure(exc).as_dict(), {}


def _extract_pdf_slice(payload: bytes, url, page_lo: int):
    """→ (status, text, spans, error dict, timings) of one sub-PDF."""
    from docling_jobkit_spark.extractor.extract import Span
    from docling_jobkit_spark.extractor.pdf import extract_pdf

    res = extract_pdf(payload, url)
    spans = res.spans
    if page_lo > 1:
        # sub-PDF pages renumber from 1; shift the span-path page prefix
        # back to document numbering so sliced == single-shot
        shift = page_lo - 1
        spans = [
            Span(
                s.start, s.end, s.kind,
                _PAGE_PREFIX.sub(lambda m: f"p{int(m.group(1)) + shift}/", s.path),
            )
            for s in spans
        ]
    error = res.error.as_dict() if res.error else None
    return res.status, res.text, spans, error, res.timings


def _extract_slice_batches(
    batches: Iterator[pd.DataFrame], profile: str = "default"
) -> Iterator[pd.DataFrame]:
    from docling_jobkit_spark.extractor.extract import PROFILES

    prof = PROFILES[profile]

    for batch in batches:
        out: dict[str, list] = {f.name: [] for f in SLICE_RESULT_SCHEMA.fields}
        for key, url, sidx, payload, pdf_flag, clean, page_lo, n_pages, n_bytes in zip(
            batch["_doc_key"], batch["url"], batch["slice_index"],
            batch["slice_html"], batch["is_pdf"], batch["clean"],
            batch["page_lo"], batch["n_pages"], batch["n_bytes"],
        ):
            if pdf_flag:
                res = _extract_pdf_slice(bytes(payload), url, int(page_lo))
            else:
                res = _extract_html_slice(bytes(payload), bool(clean), prof)
            status, text, spans, error, timings = res
            out["_doc_key"].append(int(key))
            out["url"].append(url)
            out["slice_index"].append(int(sidx))
            out["status"].append(status)
            out["extracted_text"].append(text)
            out["spans"].append(spans)  # Span NamedTuples → Arrow structs
            out["error"].append(error)
            out["n_pages"].append(int(n_pages))
            out["n_bytes"].append(int(n_bytes))
            out["timings"].append(timings)
        yield pd.DataFrame(out)


def extract_slices(slices: DataFrame, profile: str = "default") -> DataFrame:
    """Per-slice extraction, html and pdf slices alike (each row carries
    its format flag). Each slice row is self-contained (its own pages'
    bytes + the carried doc-level clean flag / totals), so this map runs
    wherever the repartition put the row."""
    cols = slices.select(
        "_doc_key", "url", "slice_index", "slice_html", "is_pdf", "clean",
        "page_lo", "n_pages", "n_bytes",
    )
    return cols.mapInPandas(
        lambda it: _extract_slice_batches(it, profile), schema=SLICE_RESULT_SCHEMA
    )


def extract_pdf_slices(slices: DataFrame) -> DataFrame:
    """``extract_slices`` under the default profile (pdf slices ignore it)."""
    return extract_slices(slices)


def _reassemble_group(pdf: pd.DataFrame) -> pd.DataFrame:
    """Mirror of the reference's ``_assemble_slice_results``: sort by
    slice_index, join texts with the page separator, shift span offsets,
    SUCCESS iff every slice SUCCESS (else PARTIAL; FAILURE if all failed)."""
    from docling_jobkit_spark.extractor.extract import PAGE_JOIN

    pdf = pdf.sort_values("slice_index")
    parts: list[str] = []
    spans: list[dict] = []
    offset = 0
    statuses = list(pdf["status"])
    first_error = None
    merged_timings: dict[str, float] = {}
    for status, err, row_spans, row_t, text in zip(
        pdf["status"], pdf["error"], pdf["spans"], pdf["timings"], pdf["extracted_text"]
    ):
        if status == "FAILURE":
            if first_error is None and err is not None:
                first_error = err
            continue
        if parts:
            offset += len(PAGE_JOIN)
        for s in row_spans if row_spans is not None else []:
            spans.append(
                {
                    "start": int(s["start"]) + offset,
                    "end": int(s["end"]) + offset,
                    "kind": s["kind"],
                    "path": s["path"],
                }
            )
        if row_t is not None:
            # F3 map-merge: sum per stage across slices
            for k, v in dict(row_t).items():
                merged_timings[k] = merged_timings.get(k, 0.0) + float(v)
        parts.append(text)
        offset += len(text)
    if all(s == "FAILURE" for s in statuses):
        status = "FAILURE"
    elif all(s == "SUCCESS" for s in statuses):
        status = "SUCCESS"
    else:
        status = "PARTIAL_SUCCESS"
    text = PAGE_JOIN.join(parts)
    if status == "SUCCESS" and not text:
        status = "PARTIAL_SUCCESS"
    # all-FAILURE docs mirror the single-shot failure row exactly: extract()
    # only fails through its exception backstop, where n_pages keeps the
    # ExtractResult default of 1 — emitting the slice-carried page total
    # here would diverge from the 'output identical either way' contract
    n_pages = 1 if status == "FAILURE" else int(pdf["n_pages"].max())
    return pd.DataFrame(
        {
            "url": [pdf["url"].iloc[0]],
            "status": [status],
            "extracted_text": [text],
            "spans": [spans],
            "error": [first_error],
            "n_pages": [n_pages],
            "n_bytes": [int(pdf["n_bytes"].iloc[0])],
            "n_spans": [len(spans)],
            "timings": [merged_timings],
        }
    )


def reassemble_slices(slice_results: DataFrame) -> DataFrame:
    """Group by the unique per-input-row _doc_key, NOT url: the corpus
    contains duplicate urls with distinct payloads, and a url-keyed group
    would merge two documents' slices into one corrupted row."""
    return slice_results.groupBy("_doc_key").applyInPandas(
        _reassemble_group, schema=RESULT_SCHEMA
    )


def spread_slices(slices: DataFrame, num_partitions: int | None = None) -> DataFrame:
    """Hash-repartition slice rows on (_doc_key, slice_index) so one
    document's slices run on many cores. The partition count is EXPLICIT
    (defaults to spark.sql.shuffle.partitions): AQE would coalesce a
    count-less repartition of a small slice set back into one task,
    defeating the fan-out."""
    if num_partitions is None:
        num_partitions = int(
            slices.sparkSession.conf.get("spark.sql.shuffle.partitions")
        )
    return slices.repartition(
        num_partitions, F.col("_doc_key"), F.col("slice_index")
    )


def extract_routed(
    pages: DataFrame,
    payload_format: str = "html",
    pages_per_slice: int = 2,
    slice_min_pages: int | None = 3,
    max_bytes: int | None = None,
    profile: str = "default",
    slice_partitions: int | None = None,
    spread_small: Callable[[DataFrame], DataFrame] | None = None,
) -> DataFrame:
    """pages(url, html) → FULL_RESULT_SCHEMA rows, one per input row.

    Docs whose JVM page estimate reaches ``slice_min_pages`` go through
    split → ``spread_slices`` → slice-extract → reassemble; everything
    else (including over-``max_bytes`` docs, which must receive the
    POLICY FAILURE row the single-shot oracle produces) takes
    ``spread_small`` (if given) into the direct map. ``slice_min_pages``
    None routes every row to the direct map. Output schema identical
    either way; values byte-identical by construction.

    The estimate may be wrong in either direction because both mis-routes
    are output-identical: an undercount sends a multi-page doc to the
    direct map (the oracle itself); an overcount slices a document into
    one slice or fails a PDF split, which degrades to a single
    full-payload slice whose extraction row reassembles to the direct
    row (FAILURE rows pin n_pages=1 on both paths).

    DETERMINISM CONTRACT: ``_doc_key`` (unique per input ROW — urls may
    repeat) is a monotonically_increasing_id over the big branch, stable
    only when the input's row order is — true for scans and
    createDataFrame, NOT for a post-shuffle DataFrame (fetch order varies
    across recomputation and could remap keys under task retry). Pass
    any shuffle as ``spread_small`` rather than applying it upstream."""
    flagged = pages.select(
        "url", "html", format_flag_col(payload_format).alias("_is_pdf")
    )
    spread = spread_small or (lambda df: df)
    if slice_min_pages is None:
        return extract_flagged(spread(flagged), max_bytes=max_bytes, profile=profile)
    est = F.when(F.col("_is_pdf"), pdf_page_count_col("html")).otherwise(
        page_count_col("html")
    )
    size_ok = (
        F.lit(True) if max_bytes is None else (F.length("html") <= F.lit(max_bytes))
    )
    route_sliced = F.col("html").isNotNull() & (est >= slice_min_pages) & size_ok
    direct = extract_flagged(
        spread(flagged.filter(~route_sliced)), max_bytes=max_bytes, profile=profile
    )
    big = flagged.filter(route_sliced).withColumn(
        "_doc_key", F.monotonically_increasing_id()
    )
    # spread one document's slices across tasks — hash of (_doc_key,
    # slice_index) is uniform, and only slice-sized bytes move; identity
    # is stamped over the FINAL reassembled rows, the same projection as
    # the direct map's
    slices = spread_slices(_split_map(big, pages_per_slice), slice_partitions)
    sliced = reassemble_slices(extract_slices(slices, profile))
    return direct.unionByName(with_document_identity(sliced))


def extract_documents_sliced(
    pages: DataFrame,
    pages_per_slice: int = 2,
    slice_min_pages: int = 3,
    max_bytes: int | None = None,
    profile: str = "default",
    slice_partitions: int | None = None,
) -> DataFrame:
    """``extract_routed`` over an all-html corpus."""
    return extract_routed(
        pages, "html", pages_per_slice, slice_min_pages,
        max_bytes, profile, slice_partitions,
    )


def extract_pdf_documents_sliced(
    pages: DataFrame,
    pages_per_slice: int = 2,
    slice_min_pages: int = 3,
    max_bytes: int | None = None,
    payload_col: str = "pdf",
    slice_partitions: int | None = None,
) -> DataFrame:
    """``extract_routed`` over an all-pdf corpus (payload in
    ``payload_col``)."""
    return extract_routed(
        pages.select("url", F.col(payload_col).alias("html")), "pdf",
        pages_per_slice, slice_min_pages, max_bytes,
        slice_partitions=slice_partitions,
    )
