"""Giant-document skew routing: giants and normal docs produce identical
bytes, the ledger covers every partition, and giants hold the lowest
partition ids (so they launch first).

One ``repartitionById`` exchange places every row: giants into the first
``defaultParallelism`` slots by input split (giants from different
splits never share a task; giants from one split do), everything else
exactly where ``repartition(P, "url")`` would, shifted past those
slots."""

import contextlib
import io
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
    assert (row["format"], row["extractor_used"]) == ("unknown", "none")
    # Oversize rows ride the extract stage, so the ledger counts them.
    assert plan.ledger.agg(F.sum("m_docs")).first()[0] == 50
    results.unpersist()


def test_oversize_branch_survives_session_restart():
    """Oversize rows keep working across a session restart.  Their status
    rows once came from a pandas UDF, and a module-level UDF keeps its
    Java side bound to the first SparkContext: after spark.stop() and a
    new session every task of the stage logged "Failed to update
    accumulator".  The plan must hold no such object.  Two sessions, one
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

    # Ledger has one metrics row per partition, empty ones included:
    # 8 url-hash partitions + one giant slot per default-parallelism core.
    assert plan.ledger.count() == 8 + spark.sparkContext.defaultParallelism
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


def _giant_ids(ledger):
    """Ledger partition ids whose mean doc size reaches the threshold
    (giants only), and the ids of the other non-empty partitions."""
    rows = ledger.select("partition_id", "m_docs", "m_bytes").collect()
    giant = [r["partition_id"] for r in rows
             if r["m_docs"] and r["m_bytes"] >= r["m_docs"] * GIANT_THRESHOLD]
    other = [r["partition_id"] for r in rows
             if r["m_docs"] and r["partition_id"] not in giant]
    return giant, other, {r["partition_id"]: r["m_docs"] for r in rows}


def test_giant_partitions_come_first(spark):
    """The partitions that hold giants get the smallest partition ids,
    and tasks launch in partition-id order, so the longest tasks start
    in the first wave instead of ending the stage."""
    pages = synth_pages_df(spark, 300, giant_every=100)
    plan = run_extraction(pages, partitions=32,
                          giant_threshold=GIANT_THRESHOLD)
    giant_ids, other_ids, _ = _giant_ids(plan.ledger)
    assert giant_ids and other_ids
    # Giant slots are ids [0, defaultParallelism); url-hash ones follow.
    slots = spark.sparkContext.defaultParallelism
    assert max(giant_ids) < slots <= min(other_ids)


def _giant_page(i: int) -> tuple:
    html = ("<html><body>" + f"<p>giant {i} paragraph</p>" * 8000
            + "</body></html>").encode()
    assert len(html) >= GIANT_THRESHOLD
    return (f"https://giant.example.com/{i}", None, html, None, "en")


def test_giants_from_two_splits_get_a_task_each(spark, tmp_path):
    """Two giants read from two parquet files (two input splits) land in
    two different partitions, each alone, below every url-hash
    partition."""
    from document_convert_to__markdown_spark.pipeline.schemas import (
        PAGES_SCHEMA,
    )

    dirs = []
    for k in range(2):
        normal = synth_pages_df(spark, 40, giant_every=0, partitions=1) \
            .withColumn("url", F.concat(F.lit(f"f{k}-"), "url"))
        giant = spark.createDataFrame([_giant_page(k)], PAGES_SCHEMA)
        dirs.append(str(tmp_path / f"part{k}"))
        normal.unionByName(giant).coalesce(1).write.parquet(dirs[-1])
    pages = spark.read.parquet(*dirs)
    assert pages.rdd.getNumPartitions() == 2

    plan = run_extraction(pages, partitions=8,
                          giant_threshold=GIANT_THRESHOLD)
    giant_ids, other_ids, docs = _giant_ids(plan.ledger)
    assert len(giant_ids) == 2
    assert all(docs[i] == 1 for i in giant_ids)
    assert max(giant_ids) < min(other_ids)
    assert sum(docs.values()) == 82


def test_normal_docs_keep_url_hash_placement(spark):
    """Every url-hash partition holds exactly the urls that
    repartition(P, "url") puts in the same partition: the giant slots
    shift the ids but do not move a row."""
    pages = synth_pages_df(spark, 200, giant_every=0)
    slots = spark.sparkContext.defaultParallelism
    got = (run_extraction(pages, partitions=8).results
           .select("url", (F.spark_partition_id() - slots).alias("p")))
    want = (pages.repartition(8, "url")
            .select("url", F.spark_partition_id().alias("p")))
    assert got.count() == 200
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0


def test_one_scan_one_exchange_no_python_udf(spark, tmp_path):
    """The extract plan scans the pages once and shuffles them once; no
    scalar Python UDF runs beside the mapInPandas stage."""
    path = str(tmp_path / "pages")
    synth_pages_df(spark, 20, partitions=2).write.parquet(path)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        run_extraction(spark.read.parquet(path)).raw.explain()
    plan = buf.getvalue()
    assert plan.count("Exchange ") == 1, plan
    assert "Exchange shufflepartitionidpassthrough" in plan, plan
    assert plan.count("FileScan ") == 1, plan
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
