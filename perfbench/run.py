#!/usr/bin/env python3
"""Benchmark entry point: one run of one workload.

    python3 perfbench/run.py --workload ask --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. The first call builds the engine and this
harness from source (sbt, offline) into perfbench/target; later calls reuse
the build while the sources are unchanged. Each run then:

1. generates the workload's inputs from the seed (gen.py) into a private
   run directory, which also serves as the JVM's java.io.tmpdir and is
   deleted at exit;
2. runs perfbench.Main in one JVM at local[nproc] (see Main.scala);
3. checks the results: ops with oracle SQL against DuckDB through
   tools/check.py, every op's content digest across passes, and the
   benchmark's own self-checks;
4. prints one JSON line: the end-to-end metrics with --trace 0, the
   per-layer metrics with --trace 1.

The full record of the run (per-op rows, set-up times, layer tables, input
sizes, the box-speed probe) is kept in perfbench/out/records/.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq

START = time.monotonic()
HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
SRC = ROOT / "src" / "main" / "scala"
CHECK = ROOT / "tools" / "check.py"
OUT = HERE / "out"
DEADLINE_S = 170

# The gated end-to-end metrics (BENCHMARK.json). op_p50_s, op_p90_s and
# cpu_s are measured and kept in the record as `reported`, but a few slow
# minutes of a shared box push their spread over ten runs past the largest
# bound a gated metric may have (see README.md).
E2E = [("setup_s", "s"), ("pass_s", "s"), ("live_heap_peak_mb", "MB")]

# summed over the ops of a pass (per-op median over the recorded passes)
LAYER_SUMS = [
    ("queries.construct_s", "s"), ("plans.planning_s", "s"), ("plans.exchanges", "count"),
    ("spark.jobs", "count"), ("spark.stages", "count"), ("spark.tasks", "count"),
    ("spark.jobs_active_s", "s"), ("spark.task_overhead_s", "s"), ("driver.gap_s", "s"),
    ("spark.exec_run_s", "s"), ("spark.exec_cpu_s", "s"), ("spark.gc_s", "s"),
    ("spark.spill_bytes", "bytes"), ("spark.shuffle_write_bytes", "bytes"),
    ("spark.shuffle_read_bytes", "bytes"), ("spark.shuffle_fetch_wait_s", "s"),
    ("sources.scan_bytes", "bytes"), ("sources.scan_rows", "count"),
    ("io.rows_written", "count"), ("io.bytes_written", "bytes"),
    ("io.files_created", "count"), ("io.bytes_on_disk", "bytes"),
    ("streaming.batches", "count"), ("streaming.trigger_s", "s"), ("streaming.add_batch_s", "s"),
    ("streaming.wal_commit_s", "s"), ("streaming.commit_offsets_s", "s"),
    ("streaming.state_commit_s", "s"), ("streaming.state_rows", "count"),
    ("streaming.state_bytes", "bytes"), ("ext.cached_frames", "count"), ("jvm.gc_s", "s"),
]
PARSERS = [("parsers.pdf_extract_us", "us"), ("parsers.ticket_parse_us", "us"),
           ("parsers.mail_parse_us", "us"), ("parsers.reject_ratio", "ratio")]
FAMILIES = ["functions", "ops", "sources", "io", "streaming", "parsers",
            "ext.dedup", "ext.similarity", "ext.text", "ext.graph", "ext.multimodal"]
UNITS = dict(LAYER_SUMS + PARSERS + [("spark.util", "ratio"), ("sources.rows_scanned_per_row_out", "ratio"),
             ("ext.cached_bytes_peak", "bytes"), ("trace.overhead_ratio", "ratio")]
             + [(f"{f}.busy_s", "s") for f in FAMILIES])

# A fixed heap (no resizing between ops) and the throughput collector: the
# untimed System.gc() between ops is then a short parallel full collection,
# and no concurrent GC thread runs inside a timed delivery. The metaspace
# starts large enough that class loading in set-up triggers no full GC.
JVM_FLAGS = ["-Xms2g", "-Xmx2g", "-XX:+UseParallelGC", "-XX:MetaspaceSize=256m",
             "-XX:-UseDynamicNumberOfCompilerThreads"]

ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg):
    log(f"error: {msg}")
    sys.exit(2)


def left():
    """Seconds left of the run's budget. The clock starts after the build:
    the first run in a checkout may build for up to 14 minutes first."""
    return DEADLINE_S - (time.monotonic() - START)


def family(op):
    """The layer an op's time is charged to when it is summed as busy time."""
    head = op.split("_")[0]
    if op in ("pipeline_pdf_e2e", "pipeline_mp_e2e", "pipeline_bank_e2e") or head[:1] == "u" and head[1:].isdigit():
        return "parsers"
    if head.startswith("st") and head[2:].isdigit():
        return "streaming"
    if head[:1] == "k" and head[1:].isdigit():
        return "io"
    if head[:1] == "s" and head[1:].isdigit():
        return "sources"
    if head[:1] == "f" and head[1:].isdigit():
        return "functions"
    ext = {"dedup": "dedup", "decon": "dedup", "mine": "dedup", "pipeline_curation_e2e": "dedup",
           "ann": "similarity", "emb": "similarity", "retrieval": "similarity", "mixture": "similarity",
           "pipeline_ann_maintenance_e2e": "similarity", "text": "text", "graph": "graph",
           "multimodal": "multimodal"}
    key = op if op.startswith("pipeline_") else head
    return f"ext.{ext[key]}" if key in ext else "ops"


def percentile(values, q):
    """Linear-interpolated percentile; returns (value, sample count)."""
    xs = sorted(values)
    if not xs:
        return float("nan"), 0
    pos = (len(xs) - 1) * q
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo), len(xs)


def percentile_self_check():
    v, n = percentile(range(1, 11), 0.9)
    return abs(v - 9.1) < 1e-9 and n == 10 and percentile([], 0.5)[1] == 0


# ---------------------------------------------------------------- build

def build_inputs():
    files = sorted(f for d in (SRC.parent, HERE / "src") for f in d.rglob("*") if f.is_file()) + [
        HERE / "build.sbt", HERE / "project" / "build.properties"]
    h = hashlib.sha256()
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode() + b"\0" + f.read_bytes() + b"\0")
    return h.hexdigest()


def build():
    stamp = build_inputs()
    cp_file = HERE / "target" / "perfbench-classpath.txt"
    if cp_file.exists():
        saved, cp = cp_file.read_text().split("\n", 1)
        if saved == stamp:
            return cp.strip()
    log("building engine + harness (sbt, offline)")
    spark_home = os.environ.get("SPARK_HOME")
    if not spark_home and shutil.which("spark-submit"):
        spark_home = str(Path(shutil.which("spark-submit")).resolve().parent.parent)
    if not spark_home:
        fail("SPARK_HOME is not set and spark-submit is not on PATH")
    repos = Path.home() / ".sbt" / "repositories"
    env = dict(os.environ, COURSIER_MODE="offline", SPARK_HOME=spark_home, SBT_OPTS=os.environ.get("SBT_OPTS") or (
        f"-Dsbt.override.build.repos=true -Dsbt.repository.config={repos} -Dsbt.offline=true -Xmx3g"))
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
                       cwd=HERE, env=env, capture_output=True, text=True, timeout=840, stdin=subprocess.DEVNULL)
    lines = [l for l in p.stdout.splitlines() if l.startswith(str(HERE / "target"))]
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-2000:])
        fail("build failed")
    cp_file.write_text(stamp + "\n" + lines[-1] + "\n")
    return lines[-1]


# ---------------------------------------------------------------- checks

def oracle_check(verify, data, names):
    """tools/check.py on the warm-up results; returns {op: ok?} for the
    ops it compared (rows-only ops are not in the map)."""
    if not names:
        return {}, ""
    p = subprocess.run([sys.executable, str(CHECK), str(verify), str(data), *names],
                       capture_output=True, text=True, timeout=max(10, left() - 5))
    status = {}
    for line in p.stdout.splitlines():
        s = line.strip()
        for mark, ok in (("✓ ", True), ("✗ ", False)):
            if s.startswith(mark):
                status[s[2:].split(" ")[0].rstrip(":")] = ok
    return status, p.stdout


def inject_wrong_row(verify, oracle, names):
    """Self-check set-up: copy one oracle op's result as `<op>__injected`
    with one value of one row changed, under the same oracle SQL. The
    checker must report the copy as failing. Returns the copy's name."""
    for op in names:
        files = sorted((verify / op).glob("*.parquet"))
        t = pq.read_table(files[0]) if files else None
        if t is None or t.num_rows == 0:
            continue
        col = next((i for i, f in enumerate(t.schema) if pa.types.is_integer(f.type)
                    or pa.types.is_floating(f.type) or pa.types.is_string(f.type)), None)
        if col is None:
            continue
        vals = t.column(col).to_pylist()
        v = vals[0]
        vals[0] = (v + "#") if isinstance(v, str) else (1 if v is None else v + 1)
        t = t.set_column(col, t.schema.field(col), pa.array(vals, type=t.schema.field(col).type))
        name = f"{op}__injected"
        (verify / name).mkdir()
        pq.write_table(t, verify / name / "part-0.parquet")
        oracle[name] = oracle[op]
        (verify / "oracle_sql.json").write_text(json.dumps(oracle))
        return name
    return None


# ---------------------------------------------------------------- metrics

def by_op(rows):
    out = {}
    for r in rows:
        out.setdefault(r["op"], []).append(r)
    return out


def med(xs):
    return statistics.median(xs) if xs else float("nan")


def end_to_end(rec, runs):
    ops = by_op(runs)
    wall = {op: med([r["wall_s"] for r in rs]) for op, rs in ops.items()}
    p50, n = percentile(wall.values(), 0.5)
    p90, _ = percentile(wall.values(), 0.9)
    gated = {
        "setup_s": med(rec["setup_s"]),
        "pass_s": sum(wall.values()),
        "live_heap_peak_mb": max(rec["live_heap_mb"].values()),
    }
    reported = {"op_p50_s": p50, "op_p90_s": p90,
                "cpu_s": sum(med([r["cpu_s"] for r in rs]) for rs in ops.values())}
    return gated, reported, n


def per_layer(rec, runs):
    traced = [r for r in runs if r["traced"]]
    plain = [r for r in runs if not r["traced"] and r["pass"] > 0]
    t_ops, p_ops = by_op(traced), by_op(plain)
    per = {op: {k: med([r["layers"][k] for r in rs]) for k in rs[0]["layers"]} for op, rs in t_ops.items()}
    m = {name: sum(v[name] for v in per.values()) for name, _ in LAYER_SUMS}
    den = sum(v["spark.util_den"] for v in per.values())
    m["spark.util"] = sum(v["spark.util_num"] for v in per.values()) / den if den else 0.0
    rows_out = sum(med([r["rows"] for r in rs]) for rs in t_ops.values())
    m["sources.rows_scanned_per_row_out"] = m["sources.scan_rows"] / rows_out if rows_out else 0.0
    m["ext.cached_bytes_peak"] = max(v["ext.cached_bytes"] for v in per.values())
    both = [op for op in t_ops if op in p_ops]
    m["trace.overhead_ratio"] = (sum(med([r["wall_s"] for r in t_ops[op]]) for op in both)
                                 / sum(med([r["wall_s"] for r in p_ops[op]]) for op in both))
    for name, _ in PARSERS:
        m[name] = rec["parsers"][name]
    for f in FAMILIES:
        m[f"{f}.busy_s"] = sum(med([r["wall_s"] for r in rs]) for op, rs in p_ops.items() if family(op) == f)
    return m, per


def main():
    # a terminated run still stops its JVM and deletes its run directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    if not SRC.is_dir() or not CHECK.is_file():
        fail(f"engine sources not found under {ROOT}; run from the root of a checkout")
    spec = json.loads((HERE / "workloads.json").read_text())
    if a.workload not in spec["workloads"]:
        fail(f"unknown workload {a.workload}")
    wl = spec["workloads"][a.workload]
    cp = build()
    global START
    START = time.monotonic()

    run_dir = OUT / f"run-{a.workload}-{a.seed}-{a.trace}-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    data, tmp, verify = run_dir / "data", run_dir / "tmp", run_dir / "verify"
    for d in (data, tmp, verify):
        d.mkdir(parents=True)
    try:
        sys.path.insert(0, str(HERE))
        import gen
        t0 = time.monotonic()
        inputs = gen.generate(data, a.seed)
        gen_s = time.monotonic() - t0
        (run_dir / "ops.txt").write_text("\n".join(wl["ops"]) + "\n")
        cmd = ["java", *JVM_FLAGS, *ADD_OPENS, f"-Djava.io.tmpdir={tmp}", f"-Dderby.system.home={tmp}",
               "-cp", cp, "perfbench.Main", "--data", str(data), "--out", str(run_dir),
               "--ops", str(run_dir / "ops.txt"), "--probe", wl["probe"], "--seconds", str(a.seconds),
               "--trace", str(a.trace), "--seed", str(a.seed)]
        with open(run_dir / "jvm.log", "w") as jlog:
            # cwd is the private temp root, so relative paths (a derby log,
            # a default warehouse) are deleted with the run too
            proc = subprocess.Popen(cmd, cwd=tmp, stdout=jlog, stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
            try:
                rc = proc.wait(timeout=max(5, left() - 15))
            except subprocess.TimeoutExpired:
                fail("the run did not finish in time")
            finally:
                if proc.poll() is None:
                    proc.kill()
                    proc.wait()
        if rc != 0 or not (run_dir / "record.json").exists():
            sys.stderr.write((run_dir / "jvm.log").read_text()[-4000:])
            fail(f"JVM exited with {rc}")
        jvm_s = time.monotonic() - t0 - gen_s
        rec = json.loads((run_dir / "record.json").read_text())
        if not rec["runs"]:
            fail("no op of the workload is declared")

        # correctness
        failed = {op: "no longer declared" for op in rec["undeclared"]}
        warm = {r["op"]: r for r in rec["warm"]}
        for r in rec["warm"] + rec["runs"]:
            if r["error"]:
                failed.setdefault(r["op"], r["error"])
            elif r["digest"] != warm[r["op"]]["digest"] and not warm[r["op"]]["error"]:
                failed.setdefault(r["op"], f"digest {r['digest']} != warm-up {warm[r['op']]['digest']}")
        oracle = json.loads((verify / "oracle_sql.json").read_text())
        names = [op for op in wl["ops"] if op in oracle and op not in failed]
        injected = inject_wrong_row(verify, oracle, names)
        status, check_out = oracle_check(verify, data, names + ([injected] if injected else []))
        for op in names:
            if status.get(op) is not True:
                failed.setdefault(op, "oracle mismatch" if op in status else "oracle check did not report")

        self_checks = {"injected_wrong_row_caught": injected is not None and status.get(injected) is False,
                       "percentile_reports_n": percentile_self_check()}
        runs = rec["runs"]
        if a.trace:
            gaps = [r["wall_s"] - r["layers"]["queries.construct_s"] - r["layers"]["spark.jobs_active_s"]
                    - r["layers"]["driver.gap_s"] for r in runs if r["traced"]]
            self_checks["layers_reconcile_with_wall"] = all(abs(g) < 1e-6 for g in gaps) and all(
                r["layers"]["driver.gap_s"] > -0.005 for r in runs if r["traced"])
            p = rec["parsers"]
            self_checks["parsers_correct"] = not p["errors"] and p["parsers.reject_ratio"] == p["expected_reject_ratio"]
            metrics, per_op = per_layer(rec, runs)
            units, n, reported = UNITS, len(per_op), {}
        else:
            metrics, reported, n = end_to_end(rec, runs)
            units, per_op = dict(E2E), None

        ok = not failed and all(self_checks.values())
        full = {"workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
                "correct": ok, "failed": failed, "self_checks": self_checks, "injected_into": injected,
                "ops_attempted": len(wl["ops"]), "samples": n, "passes": max(r["pass"] for r in runs) + 1,
                "deliveries": len(runs) + len(rec["warm"]), "metrics": metrics, "reported": reported,
                "per_op_layers": per_op,
                "inputs": inputs, "gen_s": gen_s, "calib_s": rec["calib_s"], "phases_s": rec["phases_s"], "live_heap_mb": rec["live_heap_mb"], "jvm_s": jvm_s, "total_s": time.monotonic() - START, "cores": rec["cores"],
                "setup_runs_s": rec["setup_s"], "parsers": rec["parsers"], "warm": rec["warm"],
                "runs": runs, "oracle_check": check_out}
        (OUT / "records").mkdir(parents=True, exist_ok=True)
        (OUT / "records" / f"{a.workload}-seed{a.seed}-trace{a.trace}.json").write_text(json.dumps(full, indent=1))
        if a.trace:
            spans = run_dir / "spans.json"
            shutil.copy(spans, OUT / "records" / f"{a.workload}-seed{a.seed}-spans.json")
        for op, why in failed.items():
            log(f"FAILED {op}: {why}")
        for k, v in self_checks.items():
            if not v:
                log(f"SELF-CHECK FAILED {k}")
        log(f"{a.workload} seed={a.seed} ops={len(wl['ops'])} samples/op-set n={n} "
            f"passes={full['passes']} calib={rec['calib_s']:.3f}s "
            + " ".join(f"{k}={v:.4f}" for k, v in reported.items()))
        print(json.dumps({"correct": ok, "attempted": len(wl["ops"]), "failed": len(failed),
                          "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()}}))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    main()
