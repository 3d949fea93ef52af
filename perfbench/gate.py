"""Correctness gate: Spark output against the standalone reference.

The gate compares what a pass delivered — ``(url, status, format,
md_sha256)`` per results row — with ``extract_document`` run on the same
rows outside Spark.  Any difference fails the run.
"""

from __future__ import annotations

import json
import os
from collections import Counter

GOLDEN_FILE = os.path.join(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))), "tests", "golden_fixtures.json")


def check_rows(rows, reference: dict) -> dict:
    """Gate one pass.  ``rows`` are ``(url, status, format, md_sha256)``.

    Returns ``{"lost": n, "failed": n, "errors": [...]}``: ``lost`` counts
    input urls with no results row, ``failed`` counts input urls whose
    row is missing, duplicated, status-less or differs from the reference.
    """
    errors = []
    per_url = Counter(r[0] for r in rows)
    lost = [u for u in reference if u not in per_url]
    duplicated = [u for u, n in per_url.items() if n > 1]
    unexpected = [u for u in per_url if u not in reference]
    no_status = {r[0] for r in rows if r[1] is None}
    differs = {r[0] for r in rows if r[0] in reference
               and (r[1], r[2], r[3]) != (reference[r[0]]["status"],
                                          reference[r[0]]["format"],
                                          reference[r[0]]["md_sha256"])}
    for label, urls in (("lost", lost), ("duplicated", duplicated),
                        ("unexpected", unexpected),
                        ("null status", no_status),
                        ("differs from extract_document", differs)):
        if urls:
            errors.append(f"{len(urls)} {label}: {sorted(urls)[:3]}")

    got = Counter((r[1], r[2]) for r in rows)
    want = Counter((r["status"], r["format"]) for r in reference.values())
    if got != want:
        errors.append(f"status x format counts differ: {got - want} "
                      f"extra, {want - got} missing")
    bad = set(lost) | set(duplicated) | no_status | differs
    return {"lost": len(lost), "failed": len(bad), "errors": errors}


def golden_replay(spark) -> list:
    """Replay the golden fixture records through ``run_extraction`` and
    ``golden_compare``; returns error strings (empty when all match)."""
    from document_convert_to__markdown_spark.data.fixtures import fixture_pages
    from document_convert_to__markdown_spark.pipeline.golden import (
        golden_compare,
    )
    from document_convert_to__markdown_spark.pipeline.job import run_extraction
    from document_convert_to__markdown_spark.pipeline.schemas import (
        PAGES_SCHEMA,
    )

    with open(GOLDEN_FILE) as fh:
        pinned = json.load(fh)
    pages = spark.createDataFrame(
        [(url, None, payload, "", "en") for url, payload in fixture_pages()],
        schema=PAGES_SCHEMA)
    golden = spark.createDataFrame(
        [(r["url"], r["golden_sha256"]) for r in pinned],
        "url string, golden_sha256 string")
    # Materialise the extraction once: golden_compare runs several actions
    # over its input and would otherwise re-extract for each of them.
    results = spark.createDataFrame(
        run_extraction(pages).results
        .select("url", "md_sha256", "status").collect(),
        "url string, md_sha256 string, status string")
    report = golden_compare(results, golden)
    if report.passed and report.n_matched == len(pinned) \
            and report.n_unexpected_failed == 0:
        return []
    return [f"golden replay: {report.n_matched}/{report.n_golden} matched, "
            f"{report.n_hash_mismatch} hash mismatches, "
            f"{report.n_missing} missing, "
            f"{report.n_unexpected_failed} not ok"]
