"""Layered extraction benchmark.  One workload per run.

    python3 perfbench/run.py --workload pages_small --seed 1 --seconds 10 \
        --trace 0

Run from the repository root.  With ``--trace 0`` the last stdout line is
a JSON object whose ``metrics`` are the end-to-end metrics; with
``--trace 1`` they are the per-layer metrics.  Every run checks the
program's output (see ``gate.py``) and exits 1 when a check fails.  The
lines before the last describe the corpus and give each metric's median,
quartiles and sample count.  See README.md for the workloads and layers.
"""

from __future__ import annotations

import argparse
import dataclasses
import json
import os
import shutil
import statistics
import sys
import time
from collections import Counter

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(BENCH_DIR)
sys.path.insert(0, REPO)

# (name, unit) in print order.  BENCHMARK.json lists the same names.
END_TO_END = [
    ("docs_per_s", "docs/s"),
    ("input_mb_per_s", "MB/s"),
    ("ok_ratio", "ratio"),
    ("peak_rss_mb", "MB"),
    ("setup_s", "s"),
]
PER_LAYER = (
    [("extractors.docs_per_s", "docs/s"), ("extractors.mb_per_s", "MB/s")]
    + [(f"extractors.{g}.{m}", u) for g in ("html", "pdf", "docx", "other")
       for m, u in (("share", "share"), ("mb_per_s", "MB/s"),
                    ("us_p50", "us"), ("us_p99", "us"))]
    + [(f"extractors.stage.{s}.share", "share")
       for s in ("sniff", "convert", "images", "cleanup")]
    + [("extractors.doc_s_max", "s"),
       ("arrow.identity_s", "s"), ("arrow.batches", "count"),
       ("pipeline.kernel_efficiency", "ratio"),
       ("shuffle.s", "s"), ("shuffle.write_mb", "MB"),
       ("tasks.s_p50", "s"), ("tasks.s_max", "s"),
       ("skew.task_s_max_over_p50", "ratio"),
       ("skew.docs_max_over_p50", "ratio"),
       ("route.giant_docs", "count"),
       ("write.s", "s"), ("write.results_mb", "MB"),
       ("write.assets_mb", "MB"), ("write.ledger_mb", "MB"),
       ("write.amp", "ratio"), ("spill.mb", "MB"),
       ("resume.s", "s"), ("resume.useful_ratio", "ratio"),
       ("warc.read_s", "s"), ("warc.records_per_s", "records/s"),
       ("warc.mb_per_s", "MB/s"), ("warc.read_tasks", "count"),
       ("warc.decode_single_s", "s"),
       ("scaling.eff_1to4", "ratio"), ("trace.overhead", "ratio")]
)

SETUP_REPEATS = 3
MIN_PASSES = 3          # untraced passes per run, at least
MIN_PASSES_TRACED = 2   # of each kind, traced and untraced
WARMUP_DOCS = 64


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--docs", type=int, default=None,
                   help="override the corpus size (self-tests)")
    return p.parse_args(argv)


def preflight() -> str | None:
    """Why this checkout cannot run the benchmark, or None."""
    try:
        import pyspark  # noqa: F401

        import document_convert_to__markdown_spark.pipeline.job as job
    except ImportError as err:
        return f"program not importable from {REPO}: {err}"
    if not os.path.abspath(job.__file__).startswith(REPO + os.sep):
        return f"program imported from outside {REPO}: {job.__file__}"
    from perfbench.gate import GOLDEN_FILE

    if not os.path.isfile(GOLDEN_FILE):
        return f"missing {GOLDEN_FILE}"
    return None


def cores() -> int:
    return len(os.sched_getaffinity(0))


def start_session(work: str, master_cores: int):
    from document_convert_to__markdown_spark.pipeline.session import (
        build_session,
    )

    spark = build_session(
        "perfbench", master=f"local[{master_cores}]",
        extra_conf={
            "spark.ui.port": "0",
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        })
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def restart_session(spark, work: str, master_cores: int):
    spark.stop()
    return start_session(work, master_cores)


def stop_jvm(spark) -> None:
    """Stop the session, then the JVM, and wait for the JVM to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def load_pages(spark, corpus):
    from document_convert_to__markdown_spark.pipeline.schemas import (
        PAGES_SCHEMA,
    )
    from document_convert_to__markdown_spark.sources.warc import (
        read_warc_pages,
    )

    if corpus.workload.source == "warc":
        return read_warc_pages(spark, corpus.warc_dir)
    return spark.read.schema(PAGES_SCHEMA).parquet(corpus.pages_dir)


def extract_rows(spark, pages) -> tuple:
    """``run_extraction`` over ``pages``, collected: the results rows
    ``(url, status, format, md_sha256)`` and the ledger rows
    ``(m_docs, m_bytes, m_elapsed_us)``."""
    from document_convert_to__markdown_spark.pipeline.job import run_extraction

    rows = (run_extraction(pages).raw
            .select("kind", "url", "status", "format", "md_sha256",
                    "m_docs", "m_bytes", "m_elapsed_us")
            .collect())
    return ([tuple(r[1:5]) for r in rows if r[0] == "doc"],
            [tuple(r[5:]) for r in rows if r[0] == "metrics"])


def run_pass(spark, corpus, out_dir: str, group: str) -> dict:
    """One timed pass of the workload's pipeline: its wall time, results
    rows and ledger rows (as ``extract_rows`` gives them)."""
    from perfbench import layers

    spark.sparkContext.setJobGroup(group, group)
    t = time.perf_counter()
    pages = load_pages(spark, corpus)
    if corpus.workload.pipeline == "extract":
        docs, ledger = extract_rows(spark, pages)
        wall = time.perf_counter() - t
    else:
        layers.resumable_pair(spark, pages, out_dir)
        wall = time.perf_counter() - t
        docs = [tuple(r) for r in spark.read.parquet(f"{out_dir}/results")
                .select("url", "status", "format", "md_sha256").collect()]
        ledger = [tuple(r) for r in spark.read.parquet(f"{out_dir}/ledger")
                  .filter("run_id = 'resume'")
                  .select("m_docs", "m_bytes", "m_elapsed_us").collect()]
    spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
    return {"wall": wall, "docs": docs, "ledger": ledger}


def warm_up(spark, corpus) -> None:
    """JIT, Python workers and the read path, on a slice of the corpus
    that leaves out giants (their cost belongs to the timed passes)."""
    from document_convert_to__markdown_spark.pipeline.job import (
        DEFAULT_GIANT_THRESHOLD,
        run_extraction,
    )
    from pyspark.sql import functions as F

    pages = (load_pages(spark, corpus)
             .filter(F.length("html") < DEFAULT_GIANT_THRESHOLD)
             .limit(WARMUP_DOCS))
    run_extraction(pages).results.select("md_sha256").collect()


def summary(values: list) -> dict:
    q = (statistics.quantiles(values, n=4) if len(values) > 1
         else [values[0]] * 3)
    return {"median": statistics.median(values), "q1": q[0], "q3": q[2],
            "n": len(values)}


class Run:
    """State of one benchmark run: corpus, session, gate tallies."""

    def __init__(self, args, work: str):
        from perfbench.corpus import WORKLOADS
        from perfbench.probes import Tracer

        workload = WORKLOADS[args.workload]
        if args.docs is not None:
            workload = dataclasses.replace(workload, n_docs=args.docs)
        self.args, self.work, self.workload = args, work, workload
        self.cores = cores()
        self.tracer = Tracer(bool(args.trace))
        self.attempted = self.failed = self.lost = 0
        self.errors: list = []
        self.report: dict = {}
        self.spark = None

    def gate(self, passed: dict) -> None:
        from perfbench.gate import check_rows

        res = check_rows(passed["docs"], self.corpus.reference)
        self.attempted += len(self.corpus.reference)
        self.failed += res["failed"]
        self.lost += res["lost"]
        self.errors += res["errors"]

    def setup(self) -> float:
        """Corpus, JVM launch, session set-ups, golden replay, full pass.

        After the JVM launch the session is stopped and built again
        SETUP_REPEATS times (new context each time); the median of those
        set-ups is the session's share.  The golden replay (the gate's
        first check) then warms the last session, and one untimed pass
        over the whole corpus fills what is still cold.  ``setup_s`` is
        the sum of the five parts."""
        from document_convert_to__markdown_spark.pipeline.job import (
            DEFAULT_GIANT_THRESHOLD,
        )
        from perfbench.corpus import materialise, warc_file_count
        from perfbench.gate import golden_replay

        span = self.tracer.span
        parts = {}
        with_warc = self.workload.source == "warc" or self.tracer.enabled
        shards = warc_file_count(self.cores) if with_warc else self.cores
        t = time.perf_counter()
        with span("setup.corpus"):
            self.corpus = materialise(self.workload, self.args.seed,
                                      self.work, shards, with_warc,
                                      workers=self.cores)
        parts["corpus_s"] = time.perf_counter() - t
        self.report["manifest"] = self.corpus.manifest(DEFAULT_GIANT_THRESHOLD)
        if self.workload.giants and not self.report["manifest"]["giant_docs"]:
            self.errors.append("corpus has no doc above the giant threshold")

        t = time.perf_counter()
        with span("setup.launch"):
            self.spark = start_session(self.work, self.cores)
        parts["launch_s"] = time.perf_counter() - t
        sessions = []
        for _ in range(SETUP_REPEATS):
            t = time.perf_counter()
            with span("setup.session"):
                self.spark = restart_session(self.spark, self.work,
                                             self.cores)
            sessions.append(time.perf_counter() - t)
        parts["session_s"] = statistics.median(sessions)
        t = time.perf_counter()
        with span("setup.golden_replay"):
            self.errors += golden_replay(self.spark)
        parts["golden_s"] = time.perf_counter() - t
        out = os.path.join(self.work, "out-warm")
        with span("setup.full_pass"):
            first = run_pass(self.spark, self.corpus, out, "warm")
        self.gate(first)
        shutil.rmtree(out, ignore_errors=True)
        parts["full_pass_s"] = first["wall"]
        self.report["setup"] = dict(parts, sessions_s=sessions)
        return sum(parts.values())

    def measure(self) -> dict:
        """Timed passes for ``--seconds``, and at least a few of each kind.

        A traced run alternates untraced and traced passes, so the two
        are timed in the same process for ``trace.overhead``."""
        from perfbench.probes import RssSampler

        kinds = (False, True) if self.tracer.enabled else (False,)
        least = MIN_PASSES_TRACED if self.tracer.enabled else MIN_PASSES
        walls = {k: [] for k in kinds}
        delivered, last = [], None
        deadline = time.perf_counter() + self.args.seconds
        with RssSampler(os.getpid()) as rss:
            i = 0
            while (time.perf_counter() < deadline
                   or min(len(v) for v in walls.values()) < least):
                traced = kinds[i % len(kinds)]
                out = os.path.join(self.work, f"out-{i}")
                group = f"pass-{i}"
                if traced:
                    with self.tracer.span("pass", workload=self.workload.name):
                        passed = run_pass(self.spark, self.corpus, out, group)
                    last = (group, passed)
                else:
                    passed = run_pass(self.spark, self.corpus, out, group)
                walls[traced].append(passed["wall"])
                delivered.append(passed)
                shutil.rmtree(out, ignore_errors=True)
                i += 1
        # Gate after the loop, so the passes run back to back.
        statuses = Counter()
        for passed in delivered:
            self.gate(passed)
            statuses.update(r[1] for r in passed["docs"])
        n = len(self.corpus.reference)
        attempted = n * len(delivered)
        plain = walls[False]
        self.report["passes_s"] = plain
        self.report["failed_ratio"] = statuses["failed"] / attempted
        self.report["lost_docs"] = self.lost
        return {
            "docs_per_s": [n / w for w in plain],
            "input_mb_per_s": [self.corpus.payload_bytes / 1e6 / w
                               for w in plain],
            "ok_ratio": [statuses["ok"] / attempted],
            "peak_rss_mb": [rss.peak / 1e6],
            "traced_walls": walls.get(True, []),
            "last_traced": last,
        }

    def layer_metrics(self, e2e: dict) -> dict:
        """Per-layer controls on this workload's corpus (traced runs)."""
        import pyarrow.parquet as pq

        from document_convert_to__markdown_spark.pipeline.job import (
            DEFAULT_GIANT_THRESHOLD,
        )
        from perfbench import layers
        from perfbench.probes import SparkRest, stage_figures

        span, spark, corpus = self.tracer.span, self.spark, self.corpus
        rest = SparkRest(spark)
        m: dict = {}
        pass_s = statistics.median(self.report["passes_s"])
        n = len(corpus.reference)

        group, traced = e2e["last_traced"]
        with span("probe.stages", group=group):
            fig = stage_figures(rest, group)
        m["shuffle.write_mb"] = fig["shuffle_write_bytes"] / 1e6
        m["tasks.s_p50"] = fig["task_s_p50"]
        m["tasks.s_max"] = fig["task_s_max"]
        sk = layers.skew(traced["ledger"])
        m["skew.task_s_max_over_p50"] = sk["task"]
        m["skew.docs_max_over_p50"] = sk["docs"]
        m["route.giant_docs"] = layers.giant_docs(traced["ledger"],
                                                  DEFAULT_GIANT_THRESHOLD)
        m["trace.overhead"] = (statistics.median(e2e["traced_walls"])
                               / pass_s)

        with span("layer.extractors"):
            table = pq.read_table(corpus.pages_dir, columns=["url", "html"])
            rows = list(zip(table.column("url").to_pylist(),
                            table.column("html").to_pylist()))
            del table
            kernel, errors = layers.kernel_layer(rows, corpus.reference)
            del rows
        self.errors += errors
        m.update(kernel)
        m["pipeline.kernel_efficiency"] = (
            statistics.median(e2e["docs_per_s"])
            / (self.cores * kernel["extractors.docs_per_s"]))

        pages = load_pages(spark, corpus)
        with span("layer.arrow"):
            ident = layers.arrow_identity(spark, pages)
        m["arrow.identity_s"] = ident["s"]
        m["arrow.batches"] = ident["batches"]
        with span("layer.shuffle"):
            shuf = layers.shuffle_only(spark, pages)
        m["shuffle.s"] = shuf["s"]
        for label, got in (("arrow", ident), ("shuffle", shuf)):
            if (got["rows"], got["bytes"]) != (n, corpus.payload_bytes):
                self.errors.append(f"{label} control lost rows or bytes")

        if self.workload.pipeline == "extract":
            extract_s = pass_s
        else:
            t = time.perf_counter()
            extract_rows(spark, pages)
            extract_s = time.perf_counter() - t
        out = os.path.join(self.work, "out-writes")
        spark.sparkContext.setJobGroup("writes", "writes")
        with span("layer.writes"):
            pair = layers.resumable_pair(spark, pages, out)
        spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
        sizes = {t: layers.dir_bytes(os.path.join(out, t))
                 for t in ("results", "assets", "ledger")}
        payload_out = sum(r["md_bytes"] + r["asset_bytes"]
                          for r in corpus.reference.values())
        m["write.s"] = pair["fresh_s"] + pair["resume_s"] - extract_s
        for t, b in sizes.items():
            m[f"write.{t}_mb"] = b / 1e6
        m["write.amp"] = sum(sizes.values()) / payload_out
        m["spill.mb"] = stage_figures(rest, "writes")["spill_bytes"] / 1e6
        m["resume.s"] = pair["resume_s"]
        m["resume.useful_ratio"] = (pair["resume_docs"]
                                    / (n - pair["fresh_docs"]))
        shutil.rmtree(out, ignore_errors=True)

        with span("layer.sources"):
            src = layers.sources_layer(spark, corpus)
        if src.pop("_rows") != n or src.pop("_bytes") != corpus.payload_bytes:
            self.errors.append("WARC read lost rows or bytes")
        m.update(src)

        with span("layer.scaling"):
            self.spark = spark = restart_session(spark, self.work, 1)
            warm_up(spark, corpus)
            one = run_pass(spark, corpus, os.path.join(self.work, "out-1c"),
                           "one-core")
        self.gate(one)
        m["scaling.eff_1to4"] = one["wall"] / (self.cores * pass_s)
        return m

    def execute(self) -> dict:
        setup_s = self.setup()
        e2e = self.measure()
        e2e["setup_s"] = [setup_s]
        layer = self.layer_metrics(e2e) if self.tracer.enabled else {}
        if self.lost:
            self.errors.append(f"lost_docs = {self.lost}")
        return {"e2e": e2e, "layer": layer}


def print_report(run: Run, measured: dict) -> dict:
    """Human-readable lines; returns the metrics object of the result."""
    print("manifest " + json.dumps(run.report["manifest"], sort_keys=True))
    print("setup " + json.dumps(run.report["setup"]))
    print("passes_s " + json.dumps(run.report["passes_s"]))
    print(f"failed_ratio {run.report['failed_ratio']:.6f} ratio")
    print(f"lost_docs {run.report['lost_docs']} count")
    metrics = {}
    for name, unit in END_TO_END:
        s = summary(measured["e2e"][name])
        print(f"{name} {s['median']:.6g} {unit} (median of {s['n']}; "
              f"q1 {s['q1']:.6g}, q3 {s['q3']:.6g})")
        if not run.tracer.enabled:
            metrics[name] = {"value": s["median"], "unit": unit}
    for name, unit in PER_LAYER if run.tracer.enabled else ():
        value = float(measured["layer"][name])
        print(f"{name} {value:.6g} {unit}")
        metrics[name] = {"value": value, "unit": unit}
    for err in run.errors:
        print(f"GATE FAILED: {err}")
    return metrics


def main(argv=None) -> int:
    args = parse_args(argv)
    problem = preflight()
    if problem:
        print(f"perfbench: {problem}", file=sys.stderr)
        return 2
    from perfbench.corpus import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload}", file=sys.stderr)
        return 2

    work = os.path.join(BENCH_DIR, ".work",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    for sub in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, sub))
    os.environ.update({
        "TMPDIR": os.path.join(work, "tmp"),
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "SPARK_GRAFT_CPUS": str(cores()),
        "SPARK_GRAFT_DRIVER_MEM": "1g",
        "PYSPARK_PYTHON": sys.executable,
        "PYTHONPATH": os.pathsep.join(
            [REPO] + [p for p in os.environ.get("PYTHONPATH", "").split(
                os.pathsep) if p]),
    })
    from perfbench.probes import become_subreaper, reap_children

    become_subreaper()
    run = Run(args, work)
    try:
        measured = run.execute()
    finally:
        try:
            if run.spark is not None:
                stop_jvm(run.spark)
        finally:
            reap_children()
        if run.tracer.enabled:
            traces = os.path.join(BENCH_DIR, ".work", "traces")
            os.makedirs(traces, exist_ok=True)
            run.tracer.write(os.path.join(
                traces, f"{args.workload}-seed{args.seed}.json"))
        shutil.rmtree(work, ignore_errors=True)

    metrics = print_report(run, measured)
    result = {"correct": not run.errors, "attempted": run.attempted,
              "failed": run.failed, "metrics": metrics}
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
