"""Per-layer controls.  Each times one layer of the program alone.

- L0 ``extractors``: the kernel's public stage functions, one process,
  no Spark;
- L1 ``arrow``: the job's url-hash repartition feeding an identity
  ``mapInPandas``;
- L2 ``shuffle``: the same repartition with no Python at all;
- L3 ``writes``: ``run_extraction_resumable`` (fresh half, then resume);
- L4 ``sources``: ``read_warc_pages`` and ``responses_from_warc``.
"""

from __future__ import annotations

import os
import statistics
import time

STAGES = ("sniff", "convert", "images", "cleanup")
FORMAT_GROUPS = ("html", "pdf", "docx", "other")


def extract_by_stages(url: str, payload):
    """``extract_document`` split into its four stages, each timed.

    Returns ``(status, format, markdown, {stage: seconds})``.  HTML, text,
    PDF and DOCX run stage by stage through the same public functions
    ``extract_document`` calls, in the same order; every other format is
    one ``extract_document`` call booked to ``convert``.
    """
    from document_convert_to__markdown_spark.extractors import sniffer
    from document_convert_to__markdown_spark.extractors.cleanup import (
        clean_markdown_content,
    )
    from document_convert_to__markdown_spark.extractors.docx_extractor import (
        extract_docx,
    )
    from document_convert_to__markdown_spark.extractors.extract import (
        MAX_DOCUMENT_BYTES,
        extract_document,
    )
    from document_convert_to__markdown_spark.extractors.html_extractor import (
        html_to_markdown,
    )
    from document_convert_to__markdown_spark.extractors.insertion import (
        normalize_image_links,
        pdf_process_content,
    )
    from document_convert_to__markdown_spark.extractors.normalize import (
        doc_name_from_url,
    )
    from document_convert_to__markdown_spark.extractors.pdf_extractor import (
        extract_pdf,
    )

    clock = time.perf_counter
    spent = dict.fromkeys(STAGES, 0.0)
    doc_name = doc_name_from_url(url)
    if not payload:
        return "skipped_empty", sniffer.FMT_EMPTY, None, spent
    if len(payload) > MAX_DOCUMENT_BYTES:
        return "skipped_too_large", sniffer.FMT_UNKNOWN, None, spent

    t = clock()
    fmt = sniffer.sniff_format(payload)
    spent["sniff"] = clock() - t
    if fmt == sniffer.FMT_EMPTY:
        return "skipped_empty", fmt, None, spent
    if fmt == sniffer.FMT_UNKNOWN:
        return "skipped_unsupported", fmt, None, spent
    if fmt not in (sniffer.FMT_HTML, sniffer.FMT_TEXT, sniffer.FMT_PDF,
                   sniffer.FMT_DOCX):
        t = clock()
        doc = extract_document(url, payload)
        spent["convert"] = clock() - t
        return doc.status, doc.format, doc.markdown, spent

    stage = "convert"
    try:
        t = clock()
        is_pdf = fmt == sniffer.FMT_PDF
        if fmt == sniffer.FMT_HTML:
            content = html_to_markdown(payload)
        elif fmt == sniffer.FMT_TEXT:
            content = payload.decode("utf-8", errors="replace")
        elif is_pdf:
            result = extract_pdf(payload)
        else:
            result = extract_docx(payload, doc_name)
        spent[stage] = clock() - t

        stage = "images"
        t = clock()
        if is_pdf:
            content = pdf_process_content(
                result.text, doc_name,
                [(img.key, img.filename) for img in result.images],
                result.image_pages)
        elif fmt == sniffer.FMT_DOCX:
            content = normalize_image_links(
                result.markdown, doc_name,
                [(key, filename) for key, filename, _ in result.images])
        spent[stage] = clock() - t

        stage = "cleanup"
        t = clock()
        markdown = clean_markdown_content(content, is_pdf=is_pdf)
        spent[stage] = clock() - t
    except Exception:  # noqa: BLE001 — the kernel's per-row isolation
        spent[stage] = clock() - t
        return "failed", fmt, None, spent
    return "ok", fmt, markdown, spent


def _pct(values: list, q: float) -> float:
    if not values:
        return 0.0
    ordered = sorted(values)
    return ordered[min(len(ordered) - 1, int(q * len(ordered)))]


def kernel_layer(rows, reference: dict) -> tuple:
    """L0 over ``(url, payload)`` rows.  Returns ``(metrics, errors)``;
    an error is any row whose staged output differs from the reference."""
    from .corpus import md_sha256

    per_doc = {g: [] for g in FORMAT_GROUPS}
    bytes_in = dict.fromkeys(FORMAT_GROUPS, 0)
    stage_s = dict.fromkeys(STAGES, 0.0)
    errors = []
    for url, payload in rows:
        t = time.perf_counter()
        status, fmt, markdown, spent = extract_by_stages(url, payload)
        elapsed = time.perf_counter() - t
        group = fmt if fmt in FORMAT_GROUPS else "other"
        per_doc[group].append(elapsed)
        bytes_in[group] += len(payload) if payload else 0
        for k, v in spent.items():
            stage_s[k] += v
        ref = reference[url]
        if (status, fmt, md_sha256(markdown)) != (
                ref["status"], ref["format"], ref["md_sha256"]):
            errors.append(f"staged output differs from extract_document: "
                          f"{url}")

    total_s = sum(sum(v) for v in per_doc.values())
    total_b = sum(bytes_in.values())
    m = {
        "extractors.docs_per_s": len(rows) / total_s,
        "extractors.mb_per_s": total_b / 1e6 / total_s,
        "extractors.doc_s_max": max(max(v, default=0.0)
                                    for v in per_doc.values()),
    }
    for g in FORMAT_GROUPS:
        spent = sum(per_doc[g])
        m[f"extractors.{g}.share"] = spent / total_s
        m[f"extractors.{g}.mb_per_s"] = (bytes_in[g] / 1e6 / spent
                                         if spent else 0.0)
        m[f"extractors.{g}.us_p50"] = _pct(per_doc[g], 0.50) * 1e6
        m[f"extractors.{g}.us_p99"] = _pct(per_doc[g], 0.99) * 1e6
    for k in STAGES:
        m[f"extractors.stage.{k}.share"] = stage_s[k] / total_s
    return m, errors


def _identity_batches(batches):
    """Identity ``mapInPandas`` body: url, payload length, and a marker
    on each batch's first row so the batch count can be summed."""
    import pandas as pd

    for pdf in batches:
        if len(pdf):
            yield pd.DataFrame({
                "url": pdf["url"],
                "n": pdf["html"].map(lambda b: 0 if b is None else len(b)),
                "first": [1] + [0] * (len(pdf) - 1),
            })


def job_partitions(spark) -> int:
    """The partition count ``run_extraction`` picks by default."""
    return max(spark.sparkContext.defaultParallelism * 3, 8)


def arrow_identity(spark, pages) -> dict:
    from pyspark.sql import functions as F

    t = time.perf_counter()
    row = (pages.select("url", "html")
           .repartition(job_partitions(spark), F.col("url"))
           .mapInPandas(_identity_batches, "url string, n long, first int")
           .agg(F.count("*"), F.sum("n"), F.sum("first"))
           .collect()[0])
    return {"s": time.perf_counter() - t, "rows": row[0], "bytes": row[1],
            "batches": row[2]}


def shuffle_only(spark, pages) -> dict:
    from pyspark.sql import functions as F

    t = time.perf_counter()
    row = (pages.select("url", "html")
           .repartition(job_partitions(spark), F.col("url"))
           .agg(F.count("*"), F.sum(F.length("html")))
           .collect()[0])
    return {"s": time.perf_counter() - t, "rows": row[0], "bytes": row[1]}


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, files in os.walk(path) for f in files)


def first_half(pages):
    """Deterministic half of the urls: the fresh pass of a resume pair."""
    from pyspark.sql import functions as F

    return pages.filter(F.pmod(F.xxhash64("url"), F.lit(2)) == 0)


def resumable_pair(spark, pages, out_dir: str) -> dict:
    """Fresh run over half the urls, then a resume over all of them."""
    from document_convert_to__markdown_spark.pipeline.job import (
        run_extraction_resumable,
    )
    from pyspark.sql import functions as F

    t = time.perf_counter()
    run_extraction_resumable(spark, first_half(pages), out_dir,
                             run_id="fresh")
    fresh_s = time.perf_counter() - t
    t = time.perf_counter()
    run_extraction_resumable(spark, pages, out_dir, run_id="resume",
                             resume=True)
    resume_s = time.perf_counter() - t
    ledger = spark.read.parquet(f"{out_dir}/ledger")
    per_run = {r["run_id"]: r["docs"] for r in ledger.groupBy("run_id")
               .agg(F.sum("m_docs").alias("docs")).collect()}
    return {"fresh_s": fresh_s, "resume_s": resume_s,
            "fresh_docs": per_run.get("fresh", 0),
            "resume_docs": per_run.get("resume", 0)}


def sources_layer(spark, corpus) -> dict:
    """L4: WARC read with no extraction, and one file decoded in-process."""
    from document_convert_to__markdown_spark.sources.warc import (
        read_warc_pages,
        responses_from_warc,
    )
    from pyspark.sql import functions as F

    df = read_warc_pages(spark, corpus.warc_dir)
    t = time.perf_counter()
    row = df.agg(F.count("*"), F.sum(F.length("html"))).collect()[0]
    read_s = time.perf_counter() - t
    largest = max(corpus.warc_files, key=lambda f: f["bytes"])
    with open(largest["path"], "rb") as fh:
        data = fh.read()
    t = time.perf_counter()
    for _ in responses_from_warc(data):
        pass
    decode_s = time.perf_counter() - t
    raw = sum(f["raw_bytes"] for f in corpus.warc_files)
    return {
        "warc.read_s": read_s,
        "warc.records_per_s": row[0] / read_s,
        "warc.mb_per_s": raw / 1e6 / read_s,
        "warc.read_tasks": df.rdd.getNumPartitions(),
        "warc.decode_single_s": decode_s,
        "_rows": row[0], "_bytes": row[1],
    }


def skew(ledger: list) -> dict:
    """Skew ratios over the partitions that extracted at least one doc.
    ``ledger`` rows are ``(m_docs, m_bytes, m_elapsed_us)``."""
    busy = [r for r in ledger if r[0]]
    if not busy:
        return {"task": 0.0, "docs": 0.0}
    secs = [r[2] for r in busy]
    docs = [r[0] for r in busy]
    return {"task": max(secs) / statistics.median(secs),
            "docs": max(docs) / statistics.median(docs)}


def giant_docs(ledger: list, threshold: int) -> int:
    """Docs extracted in giant-branch partitions.  The job routes docs of
    ``threshold`` bytes or more to their own partitions, so a partition
    whose mean doc size reaches the threshold holds only giants."""
    return sum(r[0] for r in ledger if r[0] and r[1] >= r[0] * threshold)
