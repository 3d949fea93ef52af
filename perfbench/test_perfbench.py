"""Self-tests of the benchmark, on tiny corpora.

    python -m pytest perfbench -q

The tests marked ``spark`` run ``run.py`` end to end (a JVM per run, a
few minutes in all).
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(BENCH_DIR)
sys.path.insert(0, REPO)

from perfbench import run  # noqa: E402
from perfbench.corpus import (  # noqa: E402
    WORKLOADS,
    md_sha256,
    reference_row,
    synth_rows,
)
from perfbench.gate import check_rows  # noqa: E402
from perfbench.layers import extract_by_stages  # noqa: E402


def _spec() -> dict:
    with open(os.path.join(REPO, "BENCHMARK.json")) as fh:
        return json.load(fh)


def _tiny_rows(name: str, n: int = 30) -> list:
    return synth_rows(WORKLOADS[name], 5, range(n))


def _reference(rows) -> dict:
    return {r[0]: reference_row(r[0], r[2]) for r in rows}


def _delivered(reference: dict) -> list:
    return [(u, r["status"], r["format"], r["md_sha256"])
            for u, r in reference.items()]


def test_benchmark_json_matches_the_runner():
    spec = _spec()
    assert [(m["name"], m["unit"]) for m in spec["end_to_end"]] == \
        run.END_TO_END
    assert [(m["name"], m["unit"]) for m in spec["per_layer"]] == \
        run.PER_LAYER
    for w in spec["workloads"]:
        assert w["name"] in WORKLOADS
        assert w["why"] == WORKLOADS[w["name"]].why
    setup = [m for m in spec["end_to_end"] if m["name"] == "setup_s"]
    assert setup and setup[0]["bound"] == max(
        m["bound"] for m in spec["end_to_end"])


def test_stage_rebuild_matches_extract_document():
    from document_convert_to__markdown_spark.data.fixtures import fixture_pages

    rows = [(r[0], r[2]) for r in _tiny_rows("pages_small", 60)]
    for url, payload in rows + fixture_pages():
        ref = reference_row(url, payload)
        status, fmt, markdown, spent = extract_by_stages(url, payload)
        assert (status, fmt, md_sha256(markdown)) == (
            ref["status"], ref["format"], ref["md_sha256"]), url
        assert set(spent) == {"sniff", "convert", "images", "cleanup"}


def test_gate_passes_on_the_reference_output():
    reference = _reference(_tiny_rows("pages_small"))
    res = check_rows(_delivered(reference), reference)
    assert res == {"lost": 0, "failed": 0, "errors": []}


def test_gate_fails_on_a_dropped_row():
    reference = _reference(_tiny_rows("pages_small"))
    res = check_rows(_delivered(reference)[1:], reference)
    assert res["lost"] == 1 and res["failed"] == 1 and res["errors"]


def test_gate_fails_on_a_one_byte_markdown_change():
    from document_convert_to__markdown_spark.extractors.extract import (
        extract_document,
    )

    rows = _tiny_rows("pages_small")
    reference = _reference(rows)
    url, payload = next((r[0], r[2]) for r in rows
                        if reference[r[0]]["status"] == "ok")
    markdown = extract_document(url, payload).markdown
    changed = markdown[:-1] + chr(ord(markdown[-1]) ^ 1)
    delivered = [(u, s, f, md_sha256(changed) if u == url else h)
                 for u, s, f, h in _delivered(reference)]
    res = check_rows(delivered, reference)
    assert res["lost"] == 0 and res["failed"] == 1 and res["errors"]


def test_gate_fails_on_a_duplicated_row():
    reference = _reference(_tiny_rows("pages_small"))
    delivered = _delivered(reference)
    res = check_rows(delivered + delivered[:1], reference)
    assert res["failed"] == 1 and res["errors"]


def test_exits_nonzero_without_the_program():
    bare = os.path.join(BENCH_DIR, ".work", "bare-checkout")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    try:
        shutil.copy(os.path.join(REPO, "BENCHMARK.json"), bare)
        shutil.copytree(BENCH_DIR, os.path.join(bare, "perfbench"),
                        ignore=shutil.ignore_patterns(".work", "__pycache__"))
        proc = subprocess.run(
            [sys.executable, "perfbench/run.py", "--workload", "pages_small",
             "--seed", "1", "--seconds", "1", "--trace", "0"],
            cwd=bare, capture_output=True, text=True, timeout=180)
    finally:
        shutil.rmtree(bare, ignore_errors=True)
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""


def _session_pids(sid: int) -> list:
    """Processes of session ``sid`` that still exist, zombies included."""
    pids = []
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(fields[3]) == sid:
            pids.append(int(name))
    return pids


def _run(workload: str, trace: int, docs: int) -> tuple:
    """Run ``run.py`` in a session of its own; also return the processes
    of that session still there once it has exited."""
    with subprocess.Popen(
            [sys.executable, "perfbench/run.py", "--workload", workload,
             "--seed", "3", "--seconds", "1", "--trace", str(trace),
             "--docs", str(docs)],
            cwd=REPO, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
            text=True, start_new_session=True) as proc:
        out = proc.communicate(timeout=600)[0]
    lines = out.strip().splitlines()
    return (proc.returncode, lines[:-1], json.loads(lines[-1]),
            _session_pids(proc.pid))


@pytest.mark.spark
@pytest.mark.parametrize("workload", sorted(WORKLOADS))
@pytest.mark.parametrize("trace", [0, 1])
def test_every_metric_is_printed_with_its_unit(workload, trace):
    if trace and workload not in {w["name"] for w in _spec()["workloads"]}:
        pytest.skip("traced runs are checked on the BENCHMARK.json workloads")
    docs = 40 if WORKLOADS[workload].giants else 120
    rc, text, result, left = _run(workload, trace, docs)
    assert rc == 0 and result["correct"], text
    assert left == [], "processes left running after the run"
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["failed"] == 0 and result["attempted"] >= docs
    names = run.PER_LAYER if trace else run.END_TO_END
    assert list(result["metrics"]) == [n for n, _ in names]
    for name, unit in names:
        assert result["metrics"][name]["unit"] == unit
        assert any(line.split()[:1] == [name] and f" {unit}" in line
                   for line in text), name
    if WORKLOADS[workload].giants and trace:
        assert result["metrics"]["route.giant_docs"]["value"] >= 1
