#!/usr/bin/env python3
"""Benchmark self-test on tiny inputs: every workload prints every named
metric with its unit, traced runs print every per-layer metric, and a
deliberately corrupted result raises wrong_results.

Usage: python3 benchmark/selftest.py [workload ...]
"""
import json
import subprocess
import sys
from pathlib import Path

BENCH = Path(__file__).resolve().parent
sys.dont_write_bytecode = True
sys.path.insert(0, str(BENCH))
import run  # noqa: E402

SPEC = json.loads((BENCH.parent / "BENCHMARK.json").read_text())


def bench(workload, *extra):
    r = subprocess.run([sys.executable, str(BENCH / "run.py"), "--workload", workload,
                        "--seed", "1", "--seconds", "2", "--tiny", *extra],
                       capture_output=True, text=True, cwd=BENCH.parent, timeout=600)
    assert r.returncode == 0, f"{workload} {extra}: exit {r.returncode}\n{r.stderr[-2000:]}"
    lines = r.stdout.strip().splitlines()
    return lines, json.loads(lines[-1])


def main():
    failures = []
    for w in sys.argv[1:] or run.WORKLOADS:
        try:
            lines, out = bench(w, "--trace", "0")
            assert out["correct"] and out["failed"] == 0 and out["attempted"] > 0, out
            for m in SPEC["end_to_end"]:
                got = out["metrics"][m["name"]]
                assert got["unit"] == m["unit"] and got["value"] > 0, (m, got)
            printed = {l.split()[1]: l.split()[3] for l in lines if l.startswith("metric ")}
            assert printed.get("wrong_results") == "count", printed
            assert printed.get("failed_frac") == "ratio", printed

            _, out = bench(w, "--trace", "1")
            for m in SPEC["per_layer"]:
                got = out["metrics"][m["name"]]
                assert got["unit"] == m["unit"] and isinstance(got["value"], (int, float)), (m, got)

            lines, out = bench(w, "--trace", "0", "--corrupt")
            wrong = [l for l in lines if l.startswith("metric wrong_results ")]
            assert not out["correct"] and wrong and int(wrong[0].split()[2]) > 0, wrong
            print(f"PASS {w}")
        except AssertionError as e:
            failures.append(w)
            print(f"FAIL {w}: {str(e)[:1500]}")
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
