"""Quick self-test of the benchmark at a tiny scale.

    python3 perfbench/selftest.py

For each workload declared in BENCHMARK.json it runs ``run.py`` once
untraced and twice traced with the same seed, at ``--scale 0.05`` and one
second of measurement, and checks that

- the last line is the result object with exactly its four keys, no failed
  operation, and every declared metric with its declared unit;
- the exact counts of the two traced runs are equal, and their byte counts
  agree within 1% (delete files and manifests hold random file names and
  snapshot ids, so their compressed sizes vary by a few bytes);
- each traced op's layer times add up to its wall time.

Exits non-zero on the first violation.  Takes a few minutes (one Spark
session per run).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# counts that must repeat exactly for one seed (first cycle of the loop)
EXACT = ["meta.manifests_read", "meta.entries_decoded",
         "plans.files_skipped_ratio", "scan.tasks", "write.files_added",
         "catalog.commit_attempts", "spark.jobs", "dml.jobs_per_op",
         "op.jobs", "maint.files_expired"]
CLOSE = ["write.bytes_added", "meta.manifest_bytes_written"]


def run(workload: str, trace: int, seed: int = 7) -> list:
    proc = subprocess.run(
        [sys.executable, os.path.join(ROOT, "perfbench", "run.py"),
         "--workload", workload, "--seed", str(seed), "--seconds", "1",
         "--trace", str(trace), "--scale", "0.05"],
        cwd=ROOT, capture_output=True, text=True, timeout=600)
    if proc.returncode != 0:
        sys.stderr.write(proc.stderr[-4000:])
        raise SystemExit(f"{workload} trace={trace}: exit {proc.returncode}")
    return [json.loads(line) for line in proc.stdout.splitlines()
            if line.startswith("{")]


def check(cond: bool, message: str) -> None:
    if not cond:
        raise SystemExit(f"FAIL: {message}")


def check_result(result: dict, declared: list, label: str) -> None:
    check(set(result) == {"correct", "attempted", "failed", "metrics"},
          f"{label}: result keys {sorted(result)}")
    check(result["correct"] and result["failed"] == 0
          and result["attempted"] >= 1, f"{label}: {result}")
    units = {m["name"]: m["unit"] for m in declared}
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    check(got == units, f"{label}: metrics {got} != declared {units}")


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    for w in (x["name"] for x in bench["workloads"]):
        check_result(run(w, 0)[-1], bench["end_to_end"], f"{w} untraced")
        traced = [run(w, 1) for _ in range(2)]
        for lines in traced:
            check_result(lines[-1], bench["per_layer"], f"{w} traced")
            gap = lines[-2]["detail"]["attribution_max_gap_ms"]
            check(gap < 5.0, f"{w}: layer times miss op time by {gap} ms")
        a, b = (lines[-1]["metrics"] for lines in traced)
        for name in EXACT:
            check(a[name]["value"] == b[name]["value"],
                  f"{w}: {name} {a[name]['value']} != {b[name]['value']}")
        pairs = [(name, a[name]["value"], b[name]["value"]) for name in CLOSE]
        pairs.append(("write_amp", *(lines[-2]["end_to_end_traced"]
                                     ["write_amp"] for lines in traced)))
        for name, x, y in pairs:
            check(abs(x - y) <= 0.01 * max(abs(x), abs(y)),
                  f"{w}: {name} {x} vs {y}")
        print(f"ok {w}", flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
