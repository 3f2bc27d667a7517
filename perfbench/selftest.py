#!/usr/bin/env python3
"""Smoke-size self-test of the validation benchmark.

    python3 perfbench/selftest.py

Runs each workload (bulk, batches, snapshots) on tiny inputs through
run.py, one process per run, and checks that
  * the untraced run reports every end-to-end metric of BENCHMARK.json with
    its unit, plus failed_frac and batch_p90_s everywhere and app_full_s /
    app_delta_s on snapshots, and that every gate passes;
  * the traced run reports every per-layer metric of BENCHMARK.json with its
    unit and writes a spans file;
  * adding one to an expected plant count makes the gate fail
    (failed_frac > 0, correct = false).
Exits non-zero on the first failed assertion.
"""
import json
import subprocess
import sys
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())
WORKLOADS = ["bulk", "batches", "snapshots"]
SEED = 7


def run(workload, *extra):
    """One run.py run; returns its result and every printed metric."""
    cmd = [sys.executable, str(BENCH / "run.py"), "--workload", workload,
           "--seed", str(SEED), "--seconds", "60", "--smoke", *extra]
    proc = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True)
    assert proc.returncode == 0, f"{' '.join(cmd)} exited {proc.returncode}"
    lines = [l for l in proc.stdout.splitlines() if l.strip()]
    printed = {}
    for l in lines[:-1]:
        parts = l.split()
        if len(parts) == 5 and parts[0] == "metric" and parts[1] == workload:
            printed[parts[2]] = {"value": float(parts[3]), "unit": parts[4]}
    return json.loads(lines[-1]), printed


def expect(metrics, workload, name, unit):
    got = metrics.get(name)
    assert got, f"{workload}: metric {name} missing"
    assert got["unit"] == unit, f"{workload}: {name} has unit {got['unit']}, want {unit}"


def main():
    for w in WORKLOADS:
        result, printed = run(w, "--trace", "0")
        assert result["correct"] and result["failed"] == 0, f"{w}: gate failed: {result}"
        for m in SPEC["end_to_end"]:
            expect(result["metrics"], w, m["name"], m["unit"])
        expect(printed, w, "failed_frac", "ratio")
        expect(printed, w, "batch_p90_s", "s")
        if w == "snapshots":
            expect(printed, w, "app_full_s", "s")
            expect(printed, w, "app_delta_s", "s")
        print(f"selftest: {w} end-to-end metrics ok")

        result, _ = run(w, "--trace", "1")
        assert result["correct"], f"{w}: traced gate failed: {result}"
        for m in SPEC["per_layer"]:
            expect(result["metrics"], w, m["name"], m["unit"])
        spans = BENCH / "results" / w / f"seed-{SEED}-spans.jsonl"
        assert spans.exists() and spans.stat().st_size > 0, f"no spans file {spans}"
        print(f"selftest: {w} per-layer metrics and spans ok")

    result, printed = run("bulk", "--trace", "0", "--perturb", "URI-EXISTENCE-100")
    assert not result["correct"] and result["failed"] > 0, \
        f"perturbed expectation did not fail the gate: {result}"
    frac = printed["failed_frac"]["value"]
    assert frac > 0, f"failed_frac {frac} with a perturbed expectation"
    print("selftest: perturbed plant count fails the gate; all ok")


if __name__ == "__main__":
    main()
