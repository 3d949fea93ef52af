"""Giant-document skew routing: both branches produce identical bytes,
the ledger covers both branches' partitions, and the giant branch's
partitions come first (lowest partition ids, so they launch first).

The giant branch has ``max(1, partitions // 16)`` round-robin partitions:
below 32 partitions every giant shares one task, and round-robin can put
giants from different map tasks into the same slot, so it does not give
each giant its own task (ROADMAP direction 5)."""

import os
import subprocess
import sys

from pyspark.sql import functions as F

from document_convert_to__markdown_spark.extractors.extract import extract_document
from document_convert_to__markdown_spark.pipeline.corpus import synth_pages_df
from document_convert_to__markdown_spark.pipeline.job import run_extraction

GIANT_THRESHOLD = 100 * 1024  # force routing on sandbox-sized docs
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_RESTART_SCRIPT = """
from document_convert_to__markdown_spark.pipeline.corpus import synth_pages_df
from document_convert_to__markdown_spark.pipeline.job import run_extraction
from document_convert_to__markdown_spark.pipeline.session import build_session

for _ in range(2):
    spark = build_session("restart", master="local[2]", shuffle_partitions=2)
    rows = run_extraction(synth_pages_df(spark, 10, giant_every=0),
                          partitions=2, max_bytes=100).results.collect()
    assert len(rows) == 10, rows
    assert all(r.status == "skipped_too_large" and r.doc_name for r in rows)
    spark.stop()
"""


def test_oversize_docs_become_status_rows_not_drops(spark):
    """Docs above the size gate must surface as skipped_too_large status
    rows (A2/A3: no silent drops) — found by a 200k-doc soak run where a
    122MB giant silently vanished from the results."""
    pages = synth_pages_df(spark, 50, giant_every=0)
    plan = run_extraction(pages, partitions=4, max_bytes=5000)
    results = plan.results.cache()

    assert results.count() == 50  # every input row present
    skipped = results.filter("status = 'skipped_too_large'")
    n_over = pages.filter(F.length("html") > 5000).count()
    assert skipped.count() == n_over and n_over > 0
    row = skipped.first()
    assert row["markdown"] is None and row["input_bytes"] > 5000
    assert row["doc_name"]  # name derived from url without touching blob
    results.unpersist()


def test_oversize_branch_survives_session_restart():
    """The oversize branch's doc-name UDF is built per run_extraction call:
    a module-level UDF keeps its Java side bound to the first
    SparkContext, and after spark.stop() and a new session every task of
    the stage logs "Failed to update accumulator".  Two sessions, one
    after the other, in a child process (the shared test session stays
    up)."""
    env = dict(os.environ, SPARK_GRAFT_DRIVER_MEM="1g")
    proc = subprocess.run([sys.executable, "-c", _RESTART_SCRIPT], cwd=REPO,
                          env=env, capture_output=True, text=True,
                          timeout=600)
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert "Failed to update accumulator" not in proc.stderr


def test_giant_routing_byte_parity_and_ledger(spark):
    pages = synth_pages_df(spark, 300, giant_every=100).cache()
    n_giant = pages.filter(F.length("html") >= GIANT_THRESHOLD).count()
    assert n_giant >= 1, "corpus must contain giants for this test"

    plan = run_extraction(pages, partitions=8, giant_threshold=GIANT_THRESHOLD)
    results = plan.results.cache()

    # No row lost or duplicated across the two branches.
    assert results.count() == 300
    assert results.select("url").distinct().count() == 300

    # Ledger has one metrics row per partition of BOTH branches:
    # 8 normal + max(1, 8//16) giant.
    assert plan.ledger.count() == 9
    assert plan.ledger.agg(F.sum("m_docs")).first()[0] == 300

    # Giant-branch outputs are byte-identical to the standalone extractor
    # (routing must never change extraction semantics).
    giants = pages.filter(F.length("html") >= GIANT_THRESHOLD) \
        .select("url", "html").collect()
    giant_results = {
        r["url"]: r["md_sha256"]
        for r in results.join(
            pages.filter(F.length("html") >= GIANT_THRESHOLD).select("url"),
            "url", "left_semi").collect()
    }
    import hashlib
    for row in giants:
        doc = extract_document(row["url"], bytes(row["html"]))
        expect = hashlib.sha256(doc.markdown.encode("utf-8")).hexdigest() \
            if doc.markdown is not None else None
        assert giant_results[row["url"]] == expect
    results.unpersist()
    pages.unpersist()


def test_giant_partitions_come_first(spark):
    """The giant branch is unioned first: the partitions that hold giants
    get the smallest partition ids, and tasks launch in partition-id
    order, so the longest tasks start in the first wave instead of
    ending the stage."""
    pages = synth_pages_df(spark, 300, giant_every=100)
    plan = run_extraction(pages, partitions=32,
                          giant_threshold=GIANT_THRESHOLD)
    rows = plan.ledger.select("partition_id", "m_docs", "m_bytes").collect()
    giant_ids = [r["partition_id"] for r in rows
                 if r["m_docs"] and r["m_bytes"] >= r["m_docs"] * GIANT_THRESHOLD]
    other_ids = [r["partition_id"] for r in rows
                 if r["m_docs"] and r["partition_id"] not in giant_ids]
    assert giant_ids and other_ids
    # 32 // 16 = 2 giant-branch partitions; ids 0 and 1 (one may be
    # empty when round-robin puts every giant into the same slot).
    assert max(giant_ids) < 2 <= min(other_ids)
