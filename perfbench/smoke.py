"""Smoke check for the benchmark: every workload, one short run on tiny
inputs (sf0.001), untraced and traced.

    python3 perfbench/smoke.py [workload ...]

It runs ``run.py`` from the ``perfbench`` directory, not the repository
root, and asserts that

- the run exits 0 and its outputs check out (``correct``, no failures);
- the last line is the agreed JSON object, holding exactly the
  BENCHMARK.json metrics of its mode, each with its unit;
- the report before it prints every one of those metrics by name with
  its unit;
- the traced run writes spans with the agreed fields.

Exit code 0 when every run passes.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SPAN_FIELDS = {"id", "name", "op", "parent", "start", "end"}


def check_run(workload: str, trace: int, bench: dict) -> list[str]:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", "7", "--seconds", "1", "--trace", str(trace), "--smoke"]
    proc = subprocess.run(cmd, cwd=HERE, capture_output=True, text=True, timeout=300)
    if proc.returncode != 0:
        return [f"exit code {proc.returncode}: {proc.stderr.strip()[-2000:]}"]
    lines = proc.stdout.strip().splitlines()
    out = json.loads(lines[-1])
    errors = []
    if set(out) != {"correct", "attempted", "failed", "metrics"}:
        errors.append(f"result keys {sorted(out)}")
    if not out["correct"] or out["failed"] != 0 or out["attempted"] < 1:
        errors.append(f"outputs: correct={out['correct']} failed={out['failed']}")
    wanted = {m["name"]: m["unit"] for m in bench["per_layer" if trace else "end_to_end"]}
    got = {k: v["unit"] for k, v in out["metrics"].items()}
    if got != wanted:
        errors.append(f"metrics/units {got} != {wanted}")
    printed = {ln.split()[0]: ln.split()[-1] for ln in lines[:-1]
               if ln and not ln.startswith("#") and len(ln.split()) >= 3}
    for name, unit in wanted.items():
        if printed.get(name) != unit:
            errors.append(f"report line for {name} missing or without unit {unit}")
    if trace:
        path = os.path.join(ROOT, ".perfbench", "trace", f"{workload}-seed7.json")
        with open(path) as fh:
            spans = json.load(fh)["spans"]
        if not spans:
            errors.append("no spans written")
        for s in spans:
            if not SPAN_FIELDS <= set(s) or s["end"] is None or s["end"] < s["start"]:
                errors.append(f"bad span {s}")
                break
    return errors


def main(argv: list[str]) -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    names = argv or [w["name"] for w in bench["workloads"]]
    failed = 0
    for workload in names:
        for trace in (0, 1):
            errors = check_run(workload, trace, bench)
            print(f"{'ok  ' if not errors else 'FAIL'} {workload} --trace {trace}")
            for e in errors:
                print(f"     {e}")
            failed += bool(errors)
    return 1 if failed else 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
