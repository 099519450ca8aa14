#!/usr/bin/env python3
"""Self-test of the benchmark. Run from the repository root:

    python3 perfbench/selftest.py

Checks that:
  1. the same seed gives the same input digest and another seed another one;
  2. BENCHMARK.json is well formed, and a run prints every declared
     end-to-end metric with its declared unit (a missing one is an error,
     and so is a missing per-layer one unless the workload declares its
     layer not applicable);
  3. the oracle gate passes on a real routed output and fails on a
     deliberately corrupted copy of it.
Exits non-zero on the first failed check.
"""
import glob
import json
import os
import re
import shutil
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import run  # noqa: E402


def check(cond, what):
    print(("ok   " if cond else "FAIL ") + what)
    if not cond:
        sys.exit(1)


def digest(cp, seed):
    out = subprocess.run(["java", "-cp", cp, "perfbench.Main", "--digest", "--seed", str(seed)],
                         capture_output=True, text=True, check=True).stdout
    return out.strip().splitlines()[-1]


def spec_checks(spec):
    names = [m["name"] for m in spec["end_to_end"] + spec["per_layer"]]
    check(len(names) == len(set(names)), "metric names are unique")
    check(all(re.fullmatch(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}", n) for n in names),
          "metric names are well formed")
    check(any(m["name"] == "setup_s" and m["unit"] == "s" and m["better"] == "lower"
              for m in spec["end_to_end"]), "setup_s is declared")
    check(all(0 < m["bound"] <= 0.25 for m in spec["end_to_end"]), "bounds are within (0, 0.25]")
    fake = {"attempted": 1, "failed": 0, "gate_notes": [], "metrics": {}}
    try:
        run.assemble(spec, fake, [], trace=False)
        missing_raises = False
    except ValueError:
        missing_raises = True
    check(missing_raises, "a missing end-to-end metric is an error, not a silent gap")
    fake["not_applicable"] = ["streaming."]
    try:
        run.assemble(spec, fake, [], trace=True)
        missing_raises = False
    except ValueError:
        missing_raises = True
    check(missing_raises, "a missing per-layer metric of an exercised layer is an error")
    fake["not_applicable"] = [m["name"] for m in spec["per_layer"]]
    out = run.assemble(spec, fake, [], trace=True)
    check(all(v["value"] == 0 for v in out["metrics"].values()),
          "a per-layer metric declared not applicable prints 0")


def main():
    spec = run.load_spec()
    spec_checks(spec)
    cp = run.build()
    a, b, c = digest(cp, 7), digest(cp, 7), digest(cp, 8)
    check(a == b, f"same seed, same input digest ({a})")
    check(a != c, f"another seed, another input digest ({c})")

    line = subprocess.run([sys.executable, "perfbench/run.py", "--workload", "route_full",
                           "--seed", "7", "--seconds", "2", "--trace", "0", "--keep"],
                          capture_output=True, text=True).stdout.strip().splitlines()[-1]
    out = json.loads(line)
    check(out["correct"] and out["failed"] == 0 and out["attempted"] >= 1,
          "route_full passes the oracle gate")
    check([(k, v["unit"]) for k, v in out["metrics"].items()] ==
          [(m["name"], m["unit"]) for m in spec["end_to_end"]],
          "every end-to-end metric printed, with its unit, in declared order")

    work = os.path.join(run.BUILD, "runs", "route_full-seed7-trace0")
    with open(os.path.join(work, "result.json")) as f:
        result = json.load(f)
    check(run.oracle_gate("route_full", work, result) == [], "gate passes on the routed output")
    bad = os.path.join(work, "corrupted")
    shutil.rmtree(bad, ignore_errors=True)
    os.makedirs(bad)
    shutil.copytree(os.path.join(work, "routed"), os.path.join(bad, "routed"))
    shutil.copy(os.path.join(work, "oracle_sql.json"), bad)
    victim = sorted(glob.glob(os.path.join(bad, "routed", "record_type=attacks", "**", "*.parquet"),
                              recursive=True))[0]
    os.remove(victim)
    notes = run.oracle_gate("route_full", bad, result)
    check(notes != [], f"gate fails on a corrupted copy ({notes[:1]})")
    shutil.rmtree(work)
    print("selftest passed")


if __name__ == "__main__":
    main()
