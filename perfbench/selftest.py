"""Self-test of the benchmark, at a tiny input size.

    python3 perfbench/selftest.py

For every workload the command accepts it checks that

* an untraced run prints, as its last stdout line, the result object
  with every ``end_to_end`` metric of ``BENCHMARK.json`` (with its unit,
  never 0) and no failed operation;
* a traced run prints every ``per_layer`` metric with its unit;
* a run whose outputs are deliberately corrupted before their oracle
  check reports every operation as failed, so the check is not vacuous;

and that the command, run in a directory holding only ``BENCHMARK.json``
and the benchmark's own files, exits non-zero without a result line.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("taxi_etl", "taxi_analytics", "taxi_pipeline", "doc_curation")


def _run(cwd: str, workload: str, *extra: str) -> tuple[int, list[str]]:
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        command = json.load(fh)["command"]
    p = subprocess.run(
        [*command, "--workload", workload, "--seed", "7", "--seconds", "1", *extra],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )
    return p.returncode, p.stdout.strip().splitlines()


def _result(workload: str, *extra: str) -> dict:
    code, lines = _run(ROOT, workload, "--size", "tiny", *extra)
    if code != 0 or not lines:
        raise AssertionError(f"{workload} {extra}: exit {code}")
    result = json.loads(lines[-1])
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        raise AssertionError(f"{workload}: result keys {sorted(result)}")
    return result


def _expect_metrics(result: dict, declared: list[dict], nonzero: bool, where: str) -> None:
    got = result["metrics"]
    if set(got) != {m["name"] for m in declared}:
        raise AssertionError(f"{where}: metric names differ: {sorted(set(got) ^ {m['name'] for m in declared})}")
    for m in declared:
        value, unit = got[m["name"]]["value"], got[m["name"]]["unit"]
        if unit != m["unit"] or not isinstance(value, (int, float)):
            raise AssertionError(f"{where}: {m['name']} = {value!r} {unit!r}")
        if nonzero and value == 0:
            raise AssertionError(f"{where}: {m['name']} is 0")


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        bench = json.load(fh)
    for w in WORKLOADS:
        r = _result(w, "--trace", "0")
        _expect_metrics(r, bench["end_to_end"], True, f"{w} trace 0")
        if not r["correct"] or r["failed"]:
            raise AssertionError(f"{w}: {r['failed']} of {r['attempted']} operations failed")
        _expect_metrics(_result(w, "--trace", "1"), bench["per_layer"], False, f"{w} trace 1")
        r = _result(w, "--trace", "0", "--perturb")
        if r["correct"] or r["failed"] != r["attempted"]:
            raise AssertionError(f"{w}: perturbed outputs passed the oracle ({r})")
        print(f"ok {w}", flush=True)

    bare = os.path.join(ROOT, ".perfbench", "selftest-bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    try:
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        for path in bench["paths"]:
            shutil.copytree(os.path.join(ROOT, path), os.path.join(bare, path),
                            ignore=shutil.ignore_patterns("__pycache__"))
        code, lines = _run(bare, bench["workloads"][0]["name"], "--trace", "0")
        if code == 0 or any(line.startswith("{") for line in lines):
            raise AssertionError(f"bare directory: exit {code}, stdout {lines}")
    finally:
        shutil.rmtree(bare, ignore_errors=True)
    print("ok bare directory exits non-zero")
    return 0


if __name__ == "__main__":
    sys.exit(main())
