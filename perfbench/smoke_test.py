#!/usr/bin/env python3
"""The benchmark's own test, at sf0.001 sizes with a few passes per workload.

    python3 perfbench/smoke_test.py [workload ...]

For each workload it checks that
  - a plain run and a traced run exit 0, answer correctly, and print
    every end-to-end (resp. per-layer) metric by name with its unit,
    both in the report lines and in the last JSON line;
  - a run with one deliberately wrong expected answer reports it as a
    failed op, says correct: false and exits 1.
Last, it checks that the benchmark refuses to run, without printing a
result, in a directory holding only BENCHMARK.json and perfbench/.
"""
import json
import shutil
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))
import metrics  # noqa: E402


def run(workload, *extra, cwd=ROOT):
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "7",
           "--seconds", "1", "--scale", "small", *extra]
    p = subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=900)
    lines = p.stdout.strip().splitlines()
    return p.returncode, lines, p.stderr


def last_json(lines):
    return json.loads(lines[-1])


def check_metrics(lines, expected):
    result = last_json(lines)
    got = result["metrics"]
    assert list(got) == [n for n, _ in expected], f"metric names differ: {list(got)}"
    for name, unit in expected:
        assert got[name]["unit"] == unit, f"{name}: unit {got[name]['unit']} != {unit}"
        assert isinstance(got[name]["value"], (int, float)), f"{name}: no value"
        printed = [l for l in lines[:-1] if l.split()[1:2] == [name]]
        assert printed and printed[0].split()[3] == unit, f"{name} not printed with its unit"
    return result


def main(workloads):
    for w in workloads:
        code, lines, err = run(w, "--trace", "0")
        assert code == 0, f"{w}: exit {code}\n{err[-3000:]}"
        r = check_metrics(lines, metrics.END_TO_END)
        assert r["correct"] and r["failed"] == 0 and r["attempted"] >= 1, r
        print(f"ok  {w}: end-to-end metrics, {r['attempted']} ops checked")

        code, lines, err = run(w, "--trace", "1")
        assert code == 0, f"{w} traced: exit {code}\n{err[-3000:]}"
        r = check_metrics(lines, metrics.PER_LAYER)
        assert r["correct"], r
        print(f"ok  {w}: per-layer metrics")

        code, lines, err = run(w, "--trace", "0", "--wrong-answer")
        r = last_json(lines)
        assert code == 1 and not r["correct"] and r["failed"] >= 1, (code, r)
        assert any("FAILED" in l for l in lines), "the wrong answer is not reported"
        print(f"ok  {w}: a wrong expected answer is caught ({r['failed']} failed)")

    bare = ROOT / ".bench_build" / "smoke-bare"
    shutil.rmtree(bare, ignore_errors=True)
    shutil.copytree(HERE, bare / "perfbench", ignore=shutil.ignore_patterns("__pycache__", "target"))
    if (ROOT / "BENCHMARK.json").exists():
        shutil.copy(ROOT / "BENCHMARK.json", bare)
    code, lines, _ = run(workloads[0], "--trace", "0", cwd=bare)
    shutil.rmtree(bare, ignore_errors=True)
    assert code != 0 and not any(l.startswith("{") for l in lines), (code, lines[-3:])
    print("ok  refuses to run without the program's sources")


if __name__ == "__main__":
    main(sys.argv[1:] or list(metrics.WORKLOADS))
