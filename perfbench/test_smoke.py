"""Smoke test of the benchmark itself (not part of the program's test suite).

Runs every workload at ``--scale tiny``, untraced and traced, and asserts
that the last line is the result object, that every metric BENCHMARK.json
names is printed with its unit, and that the workload's correctness checks
ran. Also checks that the command fails cleanly where the program is absent.

    python3 -m pytest perfbench/test_smoke.py -q

Takes several minutes: each Spark workload starts its own JVM, and the first
``corpus_queries`` run computes its DuckDB oracle results.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
with open(os.path.join(ROOT, "BENCHMARK.json")) as _fh:
    SPEC = json.load(_fh)

EXPECTED_CHECKS = {
    "extract_bulk": {"bulk.rows_match_input", "bulk.repetitions_agree",
                     "bulk.reference_sample"},
    "extract_resumable": {"resumable.killed_at_half", "resumable.matches_bulk",
                          "resumable.manifest", "resumable.reference_sample"},
    "serve_extract": {"serve.status_200", "serve.matches_extract_batch"},
    "corpus_queries": {"oracle.q_canonical_docs", "oracle.q_html_links"},
}


def _session_members(sid: int) -> list[int]:
    """Processes, zombies included, whose session id is ``sid``."""
    out = []
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                raw = fh.read()
        except OSError:
            continue
        # fields after the command name: state ppid pgrp session ...
        if int(raw[raw.rindex(")") + 2 :].split()[3]) == sid:
            out.append(int(entry))
    return out


def _run(cwd: str, workload: str, trace: int) -> subprocess.CompletedProcess:
    """Run the command in a session of its own, and assert that nothing it
    started is left once it has exited."""
    args = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "7",
            "--seconds", "1", "--trace", str(trace), "--scale", "tiny"]
    with subprocess.Popen(args, cwd=cwd, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                          text=True, start_new_session=True) as proc:
        out, err = proc.communicate(timeout=900)
    left = _session_members(proc.pid)
    assert not left, f"processes left running: {left}"
    return subprocess.CompletedProcess(args, proc.returncode, out, err)


def test_benchmark_json_names_the_workloads():
    assert {w["name"] for w in SPEC["workloads"]} <= set(EXPECTED_CHECKS)


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", sorted(EXPECTED_CHECKS))
def test_workload_reports_every_metric_and_checks(workload, trace):
    proc = _run(ROOT, workload, trace)
    assert proc.returncode == 0, proc.stderr[-4000:]
    lines = proc.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["attempted"] >= 1

    for m in SPEC["per_layer" if trace else "end_to_end"]:
        got = result["metrics"][m["name"]]
        assert got["unit"] == m["unit"], m["name"]
        assert math.isfinite(got["value"]), m["name"]
        # the readable summary names it too, with the same unit
        assert any(ln.split()[:1] == [m["name"]] and m["unit"] in ln.split() for ln in lines)

    ran = next(ln for ln in lines if ln.startswith("checks run: "))
    assert EXPECTED_CHECKS[workload] <= set(ran[len("checks run: "):].split(", "))
    failed_lines = [ln for ln in lines if ln.startswith("FAILED ")]
    assert result["correct"] == (result["failed"] == 0 and not failed_lines)
    if workload == "corpus_queries" and trace:
        assert any(k.startswith("q.q_canonical_docs.") for k in result["metrics"])


def test_fails_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = _run(str(tmp_path), "extract_bulk", 0)
    assert proc.returncode != 0
    assert '"metrics"' not in proc.stdout
