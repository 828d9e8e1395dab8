"""Self-test of the benchmark on tiny inputs (scale 0.001).

Run from the repository root::

    python3 perfbench/selftest.py

For every workload it makes one short untraced and one short traced run and
checks that each metric BENCHMARK.json names is printed, finite and in its
unit; that the traced run's spans have parents within the same operation;
and that no span's self time is negative. It also checks that the benchmark
exits non-zero, printing no result, where the program is absent.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from spans import covered  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

def _run(command: list[str], workload: str, trace: int,
         cwd: str) -> subprocess.CompletedProcess:
    return subprocess.run(
        command + ["--workload", workload, "--seed", "7", "--seconds", "0",
                   "--trace", str(trace), "--scale", "0.001"],
        cwd=cwd, capture_output=True, text=True, timeout=600, check=False)


def _check_result(proc, spec: list[dict], what: str) -> tuple[dict, dict]:
    assert proc.returncode == 0, f"{what}: exit {proc.returncode}\n{proc.stderr[-3000:]}"
    lines = proc.stdout.strip().splitlines()
    result, record = json.loads(lines[-1]), json.loads(lines[-2])["record"]
    assert set(result) == {"correct", "attempted", "failed", "metrics"}, what
    assert isinstance(result["attempted"], int) and result["attempted"] >= 1, what
    assert isinstance(result["failed"], int), what
    got = result["metrics"]
    assert set(got) == {m["name"] for m in spec}, (
        f"{what}: metric names differ: {sorted(set(got) ^ {m['name'] for m in spec})}")
    for m in spec:
        v = got[m["name"]]
        assert set(v) == {"value", "unit"}, (what, m["name"])
        assert v["unit"] == m["unit"], (what, m["name"], v["unit"])
        assert isinstance(v["value"], (int, float)) and math.isfinite(v["value"]), (
            what, m["name"], v["value"])
    return result, record


def _check_spans(path: str, what: str) -> None:
    with open(path) as f:
        spans = json.load(f)["spans"]
    assert spans, f"{what}: no spans"
    by_id = {s["id"]: s for s in spans}
    ops = {s["op"] for s in spans}
    for s in spans:
        assert s["end"] is not None and s["end"] >= s["start"], (what, s)
        if s["parent"] is None:
            assert s["name"].startswith("op."), (what, s)
        else:
            assert by_id[s["parent"]]["op"] == s["op"], (what, s)
    for op in ops:
        kinds = {s["name"] for s in spans if s["op"] == op}
        assert {"operators.build", "operators.materialize"} <= kinds, (what, op, kinds)
    assert any(s["name"] == "scheduler.job" for s in spans), f"{what}: no job spans"
    kids: dict[int, list] = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
    for s in spans:
        self_s = s["end"] - s["start"] - covered(s["start"], s["end"], kids.get(s["id"], []))
        assert self_s >= -1e-9, (what, s, self_s)


def main() -> int:
    root = os.getcwd()
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        bench = json.load(f)
    cmd = bench["command"]
    assert sorted(w["name"] for w in bench["workloads"]) == sorted(WORKLOADS)
    for name in WORKLOADS:
        _check_result(_run(cmd, name, 0, root), bench["end_to_end"], f"{name} untraced")
        _, record = _check_result(_run(cmd, name, 1, root), bench["per_layer"],
                                  f"{name} traced")
        _check_spans(os.path.join(root, record["trace_file"]), f"{name} traced")
        print(f"ok {name}", flush=True)

    bare = os.path.join(root, ".perfbench_tmp", "selftest-bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    try:
        shutil.copy(os.path.join(root, "BENCHMARK.json"), bare)
        for p in bench["paths"]:
            shutil.copytree(os.path.join(root, p), os.path.join(bare, p),
                            ignore=shutil.ignore_patterns("__pycache__"))
        proc = _run(cmd, next(iter(WORKLOADS)), 0, bare)
        assert proc.returncode != 0 and not proc.stdout.strip(), "ran without the program"
    finally:
        shutil.rmtree(bare, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(bare))
        except OSError:
            pass
    print("ok bare checkout refused")
    return 0


if __name__ == "__main__":
    sys.exit(main())
