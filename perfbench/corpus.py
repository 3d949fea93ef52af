"""Workload corpora: synthesis, on-disk materialisation and the reference.

Every corpus is a pure function of ``(workload, seed)``.  Shards are
built in a spawn pool: each worker synthesises its rows with the
program's own generator (``data/synth.py``), writes one parquet shard
(and, when asked, one gzip WARC file), and runs the standalone kernel
(``extract_document``) over the same rows.  That standalone output is the
reference every Spark pass is checked against.
"""

from __future__ import annotations

import gzip
import hashlib
import io
import multiprocessing
import os
import random
from concurrent.futures import ProcessPoolExecutor
from dataclasses import dataclass

# Giant pages are HTML, calibrated into a narrow size band just above the
# job's 4 MB routing threshold.  The synthesizer's own giants are
# lognormal x100 and any format: at size_scale=8 one seed yields a 61 MB
# PDF that takes 56 s to synthesize and 128 s to extract, which no
# bounded run can hold, and a random giant size would make the pass time
# a lottery across seeds.
GIANT_BYTES_LO = int(4.3e6)
GIANT_BYTES_HI = int(4.5e6)


@dataclass(frozen=True)
class Workload:
    name: str
    n_docs: int          # rows in the corpus, giants included
    size_scale: float    # synth_page size multiplier
    giants: int          # calibrated HTML giants spread through the corpus
    source: str          # "parquet" | "warc": what the timed pass reads
    pipeline: str        # "extract" | "resume"
    why: str


WORKLOADS = {
    w.name: w for w in (
        Workload("pages_small", 4000, 1.0, 0, "parquet", "extract",
                 "~3.5 KB pages: per-doc kernel work is small, so the Arrow "
                 "boundary, the shuffle and per-task overhead weigh most"),
        Workload("pages_large", 300, 8.0, 2, "parquet", "extract",
                 "~26 KB pages plus giants above the 4 MB routing threshold: "
                 "the kernel and the giant-branch straggler dominate"),
        Workload("pages_resume", 4000, 1.0, 0, "parquet", "resume",
                 "the pages_small corpus through run_extraction_resumable: "
                 "persist, three table writes and the resume anti-join"),
        Workload("warc_ingest", 4000, 1.0, 0, "warc", "extract",
                 "gzip WARC files, fewer than cores, read one file per task "
                 "before extraction: the only workload on the source layer"),
    )
}


def warc_file_count(cores: int) -> int:
    """Fewer WARC files than cores, so one-file-per-task reads show."""
    return max(1, cores - 1)


def giant_slots(n_docs: int, giants: int) -> list[int]:
    """Row indices that carry a giant, evenly spread (never row 0)."""
    return [(k + 1) * n_docs // (giants + 1) for k in range(giants)]


def _giant_payload(seed: int, i: int) -> bytes:
    """An HTML page of GIANT_BYTES_LO..GIANT_BYTES_HI bytes.  Page size is
    close to linear in ``make_html``'s scale for a fixed rng, so a cheap
    probe at a small scale sets the scale of the real page."""
    from document_convert_to__markdown_spark.data import synth

    lang = synth.LANGS[i % len(synth.LANGS)]
    target = (GIANT_BYTES_LO + GIANT_BYTES_HI) / 2
    scale = 100.0
    for _ in range(6):
        payload = synth.make_html(random.Random((seed << 20) ^ i), lang, i,
                                  scale)
        if GIANT_BYTES_LO <= len(payload) <= GIANT_BYTES_HI:
            return payload
        scale *= target / len(payload)
    raise RuntimeError(f"giant calibration did not converge for row {i}")


def synth_rows(workload: Workload, seed: int, indices) -> list:
    """``(url, warc_ts, html, text, lang)`` rows for the given indices."""
    from document_convert_to__markdown_spark.data.synth import synth_page

    slots = set(giant_slots(workload.n_docs, workload.giants))
    rows = []
    for i in indices:
        r = synth_page(i, seed, 0, workload.size_scale)
        html = _giant_payload(seed, i) if i in slots else r.html
        rows.append((r.url, r.warc_ts, html, r.text, r.lang))
    return rows


def md_sha256(markdown):
    """The hash the job stores in ``md_sha256`` (None for no markdown)."""
    if markdown is None:
        return None
    return hashlib.sha256(markdown.encode("utf-8")).hexdigest()


def reference_row(url: str, payload) -> dict:
    """Standalone kernel output for one row, in the gate's terms."""
    from document_convert_to__markdown_spark.extractors.extract import (
        extract_document,
    )

    doc = extract_document(url, payload)
    return {
        "url": url,
        "status": doc.status,
        "format": doc.format,
        "md_sha256": md_sha256(doc.markdown),
        "md_bytes": len(doc.markdown.encode("utf-8")) if doc.markdown else 0,
        "asset_bytes": sum(len(a.data) for a in doc.assets),
        "input_bytes": len(payload) if payload else 0,
    }


def _build_shard(args) -> dict:
    """Pool task: synthesise one shard, write it, compute its reference."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    workload, seed, indices, shard, pages_dir, warc_dir = args
    rows = synth_rows(workload, seed, indices)
    table = pa.table({
        "url": pa.array([r[0] for r in rows], pa.string()),
        "warc_ts": pa.array([r[1] for r in rows],
                            pa.timestamp("us", tz="UTC")),
        "html": pa.array([r[2] for r in rows], pa.binary()),
        "text": pa.array([r[3] for r in rows], pa.string()),
        "lang": pa.array([r[4] for r in rows], pa.string()),
    })
    pq.write_table(table, os.path.join(pages_dir, f"part-{shard:03d}.parquet"))

    warc = None
    if warc_dir is not None:
        from document_convert_to__markdown_spark.sources.warc import write_warc

        raw = io.BytesIO()
        write_warc([(r[0], r[2] or b"") for r in rows], raw)
        path = os.path.join(warc_dir, f"shard-{shard:03d}.warc.gz")
        with open(path, "wb") as fh:
            fh.write(gzip.compress(raw.getvalue(), mtime=0))
        warc = {"path": path, "bytes": os.path.getsize(path),
                "raw_bytes": raw.tell()}

    return {"reference": [reference_row(r[0], r[2]) for r in rows],
            "warc": warc}


@dataclass
class Corpus:
    workload: Workload
    seed: int
    pages_dir: str
    warc_dir: str | None
    reference: dict      # url -> reference_row
    warc_files: list     # [{"path", "bytes", "raw_bytes"}]

    @property
    def payload_bytes(self) -> int:
        return sum(r["input_bytes"] for r in self.reference.values())

    def manifest(self, giant_threshold: int) -> dict:
        from collections import Counter

        refs = self.reference.values()
        return {
            "workload": self.workload.name,
            "seed": self.seed,
            "docs": len(self.reference),
            "payload_bytes": self.payload_bytes,
            "format_mix": dict(sorted(Counter(r["format"] for r in refs)
                                      .items())),
            "giant_docs": sum(r["input_bytes"] >= giant_threshold
                              for r in refs),
            "warc_files": len(self.warc_files),
            "warc_file_bytes": [f["bytes"] for f in self.warc_files],
        }


def materialise(workload: Workload, seed: int, work_dir: str, shards: int,
                with_warc: bool, workers: int) -> Corpus:
    """Write the corpus under ``work_dir`` and compute its reference."""
    pages_dir = os.path.join(work_dir, "pages")
    warc_dir = os.path.join(work_dir, "warc") if with_warc else None
    os.makedirs(pages_dir)
    if warc_dir:
        os.makedirs(warc_dir)
    n = workload.n_docs
    tasks = [(workload, seed, range(k * n // shards, (k + 1) * n // shards),
              k, pages_dir, warc_dir) for k in range(shards)]
    ctx = multiprocessing.get_context("spawn")
    with ProcessPoolExecutor(max_workers=min(workers, shards),
                             mp_context=ctx) as pool:
        parts = list(pool.map(_build_shard, tasks))
    reference = {r["url"]: r for p in parts for r in p["reference"]}
    if len(reference) != workload.n_docs:
        raise RuntimeError("corpus urls are not unique")
    return Corpus(workload, seed, pages_dir, warc_dir, reference,
                  [p["warc"] for p in parts if p["warc"]])
