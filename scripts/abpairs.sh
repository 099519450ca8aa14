#!/usr/bin/env bash
# A/B pairs of one perfbench workload between two checkouts.
#
# Usage: scripts/abpairs.sh <parentDir> <changeDir> <workload> <seed>...
#
# For each seed, runs `python3 perfbench/run.py --workload <workload>
# --seed <seed> --seconds <run_seconds> --trace 0` once in each checkout
# (run_seconds from the change's BENCHMARK.json), one side after the other.
# The side that runs first alternates from pair to pair, so a drift of the
# host over the session lands on both sides alike. Each checkout builds its
# own sources on first use (perfbench/run.py). Make the parent copy with
# `git archive`, not by copying a built checkout: the copied zinc analysis
# keeps absolute paths, and building the copy can delete the original's
# compiled classes.
#
# Prints, per run: side, seed, op_cpu_s, setup_s, correctness, exit status,
# the ledger's jit_s (JIT compile seconds summed over the timed operations)
# and whether its jvm.log says `CodeCache is full` (the JIT stopped
# compiling for want of code cache); per side: median and quartiles of
# op_cpu_s and setup_s, the median jit_s of its completed runs and the
# count of its runs whose code cache filled; the pairs the change won on
# each metric (lower is better) out of the pairs where both runs
# completed; and, for any run that exited non-zero, the CodeCache and
# exception lines of its jvm.log.
set -euo pipefail
if [ $# -lt 4 ]; then
  echo "usage: $0 <parentDir> <changeDir> <workload> <seed>..." >&2
  exit 2
fi
exec python3 - "$@" <<'PY'
import json, os, re, subprocess, sys

parent, change, workload = (os.path.abspath(sys.argv[1]), os.path.abspath(sys.argv[2]),
                            sys.argv[3])
seeds = [int(s) for s in sys.argv[4:]]
with open(os.path.join(change, "BENCHMARK.json")) as f:
    seconds = json.load(f).get("run_seconds", 15)
sides = {"parent": parent, "change": change}
METRICS = ("op_cpu_s", "setup_s")


def run(side, seed):
    d = sides[side]
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
                       cwd=d, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
    work = os.path.join(d, ".bench_build", "runs", f"{workload}-seed{seed}-trace0")
    r = {"side": side, "seed": seed, "rc": p.returncode, "correct": False, "jit_s": None,
         "cc_full": None}
    lines = [l for l in p.stdout.splitlines() if l.startswith("{")]
    if lines:
        out = json.loads(lines[-1])
        r["correct"] = out["correct"]
        for m in METRICS:
            if m in out["metrics"]:
                r[m] = out["metrics"][m]["value"]
    try:
        with open(os.path.join(work, "ledger.json")) as f:
            r["jit_s"] = sum(s["jit_s"] for s in json.load(f))
    except (OSError, ValueError):
        pass
    try:
        with open(os.path.join(work, "jvm.log"), errors="replace") as f:
            hits = [l.rstrip() for l in f if re.search(r"CodeCache|Exception|Error:", l)]
        r["cc_full"] = any("CodeCache is full" in l for l in hits)
    except OSError:
        hits = ["(no jvm.log)"]
    if p.returncode != 0:
        r["log"] = hits[:12]
    fmt = lambda v: "-" if v is None else f"{v:.2f}"
    print(f"{side:6} seed {seed:3}  op_cpu_s {fmt(r.get('op_cpu_s')):>7}  "
          f"setup_s {fmt(r.get('setup_s')):>6}  correct {str(r['correct']):5}  "
          f"exit {r['rc']:3}  jit_s {fmt(r['jit_s'])}  "
          f"codecache_full {'-' if r['cc_full'] is None else r['cc_full']}", flush=True)
    return r


def quantile(xs, q):
    s = sorted(xs)
    pos = q * (len(s) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


runs = []
for i, seed in enumerate(seeds):
    order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
    runs += [run(side, seed) for side in order]

print()
for m in METRICS:
    for side in sides:
        xs = [r[m] for r in runs if r["side"] == side and r["rc"] == 0 and m in r]
        if xs:
            print(f"{m:8} {side:6} median {quantile(xs, 0.5):.2f}  "
                  f"quartiles {quantile(xs, 0.25):.2f}-{quantile(xs, 0.75):.2f}  (n={len(xs)})")
    pairs = [(p, c) for p in runs for c in runs
             if p["side"] == "parent" and c["side"] == "change" and p["seed"] == c["seed"]
             and p["rc"] == 0 and c["rc"] == 0 and m in p and m in c]
    print(f"{m:8} change wins {sum(c[m] < p[m] for p, c in pairs)}/{len(pairs)} completed pairs")
for side in sides:
    mine = [r for r in runs if r["side"] == side]
    jit = [r["jit_s"] for r in mine if r["rc"] == 0 and r["jit_s"] is not None]
    print(f"jit_s    {side:6} median {'-' if not jit else f'{quantile(jit, 0.5):.2f}'}  "
          f"(n={len(jit)})  CodeCache is full in {sum(bool(r['cc_full']) for r in mine)}"
          f"/{len(mine)} runs")
for r in runs:
    if r["rc"] != 0:
        print(f"\n{r['side']} seed {r['seed']} exited {r['rc']}; jvm.log:")
        for l in r["log"]:
            print(f"  {l}")
PY
