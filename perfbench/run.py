#!/usr/bin/env python3
"""Benchmark of record for the graft engine.

Run from the repository root:

    python3 perfbench/run.py --workload route_full --seed 1 --seconds 10 --trace 0

Builds the program and the benchmark driver (perfbench/build.sbt) on first
use, runs one workload in a fresh JVM, checks its outputs against the DuckDB
oracle (graft.SparkEntry.oracleSql over the same generated files), and
prints one JSON line: {"correct", "attempted", "failed", "metrics"}.
With --trace 0 the metrics are BENCHMARK.json's end_to_end list, with
--trace 1 its per_layer list; see perfbench/README.md.
"""
import argparse
import collections
import datetime
import decimal
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
# a run must end within 180 s (a first build aside); the gate needs ~20 s
JVM_TIMEOUT_S = 155

# Spark 4 on JDK 17 outside spark-submit needs these (as in build.sbt)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(1)


def load_spec():
    path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isfile(path):
        die("BENCHMARK.json not found; run from the repository root")
    with open(path) as f:
        return json.load(f)


def source_fingerprint():
    """Digest of every build input, so a changed tree rebuilds."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(ROOT, "project"), os.path.join(HERE, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, dirs, fs in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            files += [os.path.join(d, f) for f in sorted(fs)]
    for f in files:
        if os.path.isfile(f):
            h.update(f.encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile the program and the driver with sbt; return the classpath."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        die("the program's sources (build.sbt, src/main/scala/graft) are not here")
    os.makedirs(os.path.join(BUILD, "tmp"), exist_ok=True)
    stamp_file = os.path.join(BUILD, "classpath.json")
    fp = source_fingerprint()
    if os.path.isfile(stamp_file):
        with open(stamp_file) as f:
            stamp = json.load(f)
        if stamp.get("fingerprint") == fp:
            return stamp["classpath"]
    env = dict(os.environ)
    env["SBT_OPTS"] = (env.get("SBT_OPTS", "") + " -Dsbt.server.autostart=false"
                       f" -Djava.io.tmpdir={os.path.join(BUILD, 'tmp')}").strip()
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as out:
        rc = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeClasspath"],
                            cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
                            timeout=850).returncode
    if rc != 0:
        with open(log) as f:
            sys.stderr.write(f.read()[-4000:])
        die(f"build failed (exit {rc}); log: {log}")
    with open(os.path.join(HERE, "target", "classpath.txt")) as f:
        cp = f.read().strip()
    with open(stamp_file, "w") as f:
        json.dump({"fingerprint": fp, "classpath": cp}, f)
    return cp


def run_jvm(cp, args, work, timeout, jit="c1"):
    # C1 only: the default tiered JIT spends ~60 CPU-s compiling this
    # program's generated code to C2 and keeps speeding up for ~40 s, longer
    # than a run; capped at C1 the JVM is close to steady after the warm-up.
    # --jit tiered runs the default JIT, to cross-check the C1 figures.
    cmd = ["java", "-Xmx2g", "-XX:+UseG1GC"] + (["-XX:TieredStopAtLevel=1"] if jit == "c1" else []) + [
           f"-Djava.io.tmpdir={os.path.join(BUILD, 'tmp')}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main"] + args
    log = os.path.join(work, "jvm.log")
    with open(log, "w") as out:
        proc = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT, cwd=ROOT)
        try:
            rc = proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            rc = -9
    if rc != 0:
        with open(log) as f:
            sys.stderr.write(f.read()[-6000:])
        die(f"benchmark JVM failed (exit {rc}); log: {log}")


# ---------------- oracle gate ----------------

def norm(v):
    """One canonical, engine-independent form per value."""
    if v is None:
        return None
    if isinstance(v, bool):
        return v
    if isinstance(v, (float, decimal.Decimal)):
        return float("%.9g" % float(v))
    if isinstance(v, (datetime.datetime, datetime.date)):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(norm(x) for x in v)
    return v


def table(cur):
    cols = [d[0] for d in cur.description]
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    rows = [tuple(norm(r[i]) for i in order) for r in cur.fetchall()]
    return [cols[i] for i in order], rows


def digest(rows):
    """Order-insensitive digest: hash of the sorted row reprs."""
    h = hashlib.sha256()
    for r in sorted(repr(r) for r in rows):
        h.update(r.encode())
    return h.hexdigest()[:16]


def compare_query(con, oracle_sql, out_dir):
    """Row count and order-insensitive digest of one dumped result against
    the oracle's; returns None when equal, else a reason."""
    got_cols, got = table(con.execute(f"SELECT * FROM read_parquet('{out_dir}/*.parquet')"))
    exp_cols, exp = table(con.execute(oracle_sql))
    if got_cols != exp_cols:
        return f"columns differ: {got_cols} vs {exp_cols}"
    if len(got) != len(exp):
        return f"{len(got)} rows, oracle {len(exp)}"
    if digest(got) != digest(exp):
        bad = collections.Counter(got) - collections.Counter(exp)
        return f"digest differs ({len(bad)} rows not in oracle, e.g. {list(bad)[:1]})"
    return None


def routed_sink_counts(con, routed):
    """Per-sink counts and closed attacks, read straight from routed sinks."""
    def src(family):
        return (f"read_parquet('{routed}/record_type={family}/**/*.parquet', "
                "hive_partitioning = true)")
    rows = con.execute(f"""
        SELECT record_type, remote_log_format, attack_severity, count(*) FROM (
          SELECT 'attacks' AS record_type, remote_log_format,
                 CAST(attack_severity AS BIGINT) AS attack_severity FROM {src('attacks')}
          UNION ALL SELECT 'attack_mitigation_stats', remote_log_format,
                 CAST(attack_severity AS BIGINT) FROM {src('attack_mitigation_stats')}
          UNION ALL SELECT 'traffic_stats', remote_log_format, NULL FROM {src('traffic_stats')})
        GROUP BY ALL""").fetchall()
    closed = con.execute(
        f"SELECT count(*) FROM {src('attacks')} WHERE attack_end_date IS NOT NULL").fetchone()[0]
    return sorted((tuple(norm(x) for x in r) for r in rows), key=repr), closed


def route_gate(con, oracle, routed):
    """Routed sinks against q08 (per-sink counts) and q11 (closed attacks)."""
    got, closed = routed_sink_counts(con, routed)
    exp = sorted((tuple(norm(x) for x in r) for r in con.execute(oracle["q08_sink_counts"]).fetchall()),
                 key=repr)
    exp_closed = con.execute(f"SELECT count(*) FROM ({oracle['q11_lifecycle']})").fetchone()[0]
    notes = []
    if got != exp:
        notes.append(f"sink counts differ from q08_sink_counts: {len(got)} vs {len(exp)} groups, "
                     f"{sum(r[3] for r in got)} vs {sum(r[3] for r in exp)} rows")
    if closed != exp_closed:
        notes.append(f"{closed} closed attacks, q11_lifecycle has {exp_closed}")
    return notes


def oracle_gate(workload, work, result):
    """Every check of this workload; returns the list of mismatches."""
    import duckdb
    with open(os.path.join(work, "oracle_sql.json")) as f:
        oracle = json.load(f)
    con = duckdb.connect()
    con.execute("SET threads = 4")
    inp = result["input_dir"]
    con.execute(f"CREATE VIEW events AS SELECT * FROM read_parquet('{inp}/events.parquet/*.parquet')")
    con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{inp}/documents.parquet/*.parquet')")
    notes = route_gate(con, oracle, os.path.join(work, "routed"))
    for q in result["gate_queries"]:
        why = compare_query(con, oracle[q], os.path.join(work, "gate", q))
        if why:
            notes.append(f"{q}: {why}")
    con.close()
    return notes


# ---------------- result ----------------

def assemble(spec, result, gate_notes, trace):
    """The result line: declared metrics, in declared order, declared units."""
    failed = result["failed"] + len(gate_notes)
    attempted = result["attempted"]
    got = dict(result["metrics"])
    got["failed_ratio"] = {"value": failed / max(attempted, 1), "unit": "fraction"}
    declared = spec["per_layer"] if trace else spec["end_to_end"]
    metrics = {}
    for m in declared:
        name, unit = m["name"], m["unit"]
        if name in got:
            if got[name]["unit"] != unit:
                raise ValueError(f"{name}: measured in {got[name]['unit']}, declared {unit}")
            metrics[name] = {"value": got[name]["value"], "unit": unit}
        elif trace and any(name.startswith(p) for p in result.get("not_applicable", [])):
            # a layer this workload does not exercise did no work in it
            metrics[name] = {"value": 0.0, "unit": unit}
        else:
            raise ValueError(f"metric {name} was not measured")
    correct = failed == 0 and not result.get("gate_notes")
    return {"correct": correct, "attempted": attempted, "failed": failed, "metrics": metrics}


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--keep", action="store_true", help="keep generated inputs and outputs")
    ap.add_argument("--turns", type=int, help="another input size (sizing studies only)")
    ap.add_argument("--jit", choices=("c1", "tiered"), default="c1",
                    help="c1: the figures of record; tiered: the default JIT, for cross-checks")
    a = ap.parse_args(argv)
    spec = load_spec()
    if a.workload not in [w["name"] for w in spec["workloads"]]:
        die(f"unknown workload {a.workload}")
    cp = build()
    work = os.path.join(BUILD, "runs", f"{a.workload}-seed{a.seed}-trace{a.trace}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    t0 = time.time()
    run_jvm(cp, ["--workload", a.workload, "--seed", str(a.seed), "--seconds",
                 str(a.seconds), "--trace", str(a.trace), "--work", work]
            + (["--turns", str(a.turns)] if a.turns else []), work, JVM_TIMEOUT_S, a.jit)
    t1 = time.time()
    with open(os.path.join(work, "result.json")) as f:
        result = json.load(f)
    gate_notes = oracle_gate(a.workload, work, result) + result.get("gate_notes", [])
    for n in gate_notes:
        print(f"perfbench: gate: {n}", file=sys.stderr)
    print(f"perfbench: jvm {t1 - t0:.1f} s, oracle gate {time.time() - t1:.1f} s", file=sys.stderr)
    out = assemble(spec, result, [n for n in gate_notes if n not in result.get("gate_notes", [])],
                   a.trace == 1)
    if not a.keep:
        for d in ("inputs", "store", "gate", "routed", "stream", "spark-local", "warehouse"):
            shutil.rmtree(os.path.join(work, d), ignore_errors=True)
    print(json.dumps(out))
    return 0 if out["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
