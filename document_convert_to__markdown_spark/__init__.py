"""PySpark-native document-to-markdown extraction engine.

A from-scratch rebuild (NOT a port) of the data-processing capabilities of
the reference repo HE1780/document-convert-to--markdown, re-expressed as an
idiomatic PySpark pipeline:

- ``extractors/``  — pure-Python, Spark-free per-document extraction modules
  (format sniff, HTML DOM parse + boilerplate strip + markdown serializer,
  PDF layout parse, DOCX/XLSX walks, cleanup chains) that reproduce the
  reference's per-document semantics byte-for-byte.
- ``pipeline/``    — the Spark job: Arrow-batched ``mapInPandas`` over an
  Iceberg/parquet pages table ``(url, warc_ts, html, text, lang)``,
  explicit url-hash repartitioning, salted giant-doc routing, per-partition
  lineage/metrics ledger, resumable runs, golden-comparison join.
- ``operators/``   — large-scale training-data-pipeline operators
  (dedup exact/MinHash-LSH/SimHash/Jaccard, ANN similarity, language-ID,
  quality scoring, token counting, fingerprinting, multimodal plumbing).

Nothing in ``extractors`` imports pyspark; nothing in ``pipeline`` contains
conversion logic (mirrors the reference's processors-vs-coordinator split,
/root/reference/WORK_PROGRESS.md:79-97, with the coordinator replaced by
Spark).
"""

__version__ = "0.1.0"

import sys as _sys

if "pyspark.worker" in _sys.modules:
    # Inside a PySpark Python worker: stop the per-task zip re-read
    # (worker_hook.py).  Every kernel reaches this when its worker
    # unpickles it.
    from . import worker_hook as _worker_hook

    _worker_hook.install()
