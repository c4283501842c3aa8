#!/usr/bin/env python3
"""Self-check of the benchmark at tiny sizes.

Run from the repository root:

    python3 perfbench/selfcheck.py

It checks that

- ``run.py`` prints exactly the metrics BENCHMARK.json names (units
  are read from there): the end-to-end ones with ``--trace 0``, the
  per-layer ones with ``--trace 1``; every crawl passes its output
  checks;
- every Spark job of a traced crawl falls inside a named span or in
  ``crawl.self`` (``trace.unattributed_jobs`` reads 0);
- the traced runs' exact oracle checks pass, among them a fresh crawl
  of the down-scaled synthetic-web generator;
- the benchmark exits non-zero, printing no result, in a directory that
  holds only BENCHMARK.json and the benchmark's own files.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(workload, trace, cwd=ROOT):
    cmd = [sys.executable, os.path.join(cwd, "perfbench", "run.py"), "--workload", workload,
           "--seed", "0", "--seconds", "1", "--trace", str(trace), "--scale", "tiny"]
    p = subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=900)
    lines = p.stdout.strip().splitlines()
    return p.returncode, lines


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    want = {0: {m["name"]: m["unit"] for m in bench["end_to_end"]},
            1: {m["name"]: m["unit"] for m in bench["per_layer"]}}
    problems = []
    for wl in (w["name"] for w in bench["workloads"]):
        for trace in (0, 1):
            code, lines = run(wl, trace)
            tag = f"{wl} --trace {trace}"
            try:
                res = json.loads(lines[-1])
            except (IndexError, ValueError):
                problems.append(f"{tag}: exit {code}, no JSON result line")
                continue
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            if set(res) != {"correct", "attempted", "failed", "metrics"}:
                problems.append(f"{tag}: result keys {sorted(res)}")
            if got != want[trace]:
                problems.append(f"{tag}: metrics differ from BENCHMARK.json: "
                                f"{sorted(set(got.items()) ^ set(want[trace].items()))}")
            if not res["correct"] or res["failed"] or code:
                problems.append(f"{tag}: exit {code}, {res['failed']} of "
                                f"{res['attempted']} crawls failed their checks")
            if trace and res["metrics"].get("trace.unattributed_jobs", {}).get("value"):
                problems.append(f"{tag}: Spark jobs outside every span")
            print(f"{tag}: exit {code}, attempted {res['attempted']}, failed {res['failed']}",
                  flush=True)

    problems += bare_directory_check(bench)
    for p in problems:
        print("PROBLEM", p)
    print("selfcheck", "FAILED" if problems else "ok")
    return 1 if problems else 0


def bare_directory_check(bench) -> list[str]:
    d = tempfile.mkdtemp(prefix="bare-", dir=_mkdir(os.path.join(ROOT, ".perfbench")))
    try:
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), d)
        for p in bench["paths"]:
            shutil.copytree(os.path.join(ROOT, p), os.path.join(d, p),
                            ignore=shutil.ignore_patterns("__pycache__"))
        code, lines = run(bench["workloads"][0]["name"], 0, cwd=d)
    finally:
        shutil.rmtree(d, ignore_errors=True)
    if code == 0 or any(line.startswith("{") for line in lines):
        return [f"bare directory: exit {code}, output {lines[-1:]}"]
    print(f"bare directory: exit {code}, no result", flush=True)
    return []


def _mkdir(path):
    os.makedirs(path, exist_ok=True)
    return path


if __name__ == "__main__":
    sys.exit(main())
