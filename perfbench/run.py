#!/usr/bin/env python3
"""graft performance benchmark: one seeded workload, end to end and per layer.

Usage, from the repository root:
  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads: verify_batch, curate, verify_incremental (see perfbench/NOTES.md).
Builds the library and the harness from source (perfbench/build.py), runs
the workload in one JVM on Spark local[n] (n = min(4, cpus)), checks every
output, prints a report of every metric with its unit, and prints as its
last line one JSON object: {"correct", "attempted", "failed", "metrics"}.
With --trace 0 the metrics are the end-to-end ones, with --trace 1 the
per-layer ones from the traced pass.
"""
import argparse
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402

WORKLOADS = ("verify_batch", "curate", "verify_incremental")
TIME_LIMIT_S = 170  # the JVM run; the first run also builds

# End-to-end metrics in the result line: (name, unit).
END_TO_END = [
    ("setup_s", "s"),
    ("rows_per_s", "rows/s"),
    ("op_p50_s", "s"),
    ("jobs_per_op", "count"),
    ("input_bytes_per_op", "bytes"),
    ("shuffle_bytes_per_op", "bytes"),
    ("heap_retained_mb", "MB"),
]
MODULES = ("runners", "operators", "sketch", "checks", "core", "repository", "pipeline")
# Per-layer metrics in the result line, per traced operation: (name, unit).
PER_LAYER = [
    ("spark.actions", "count"), ("spark.jobs", "count"), ("spark.stages", "count"),
    ("spark.tasks", "count"), ("spark.failed_tasks", "count"),
    ("spark.job_wall_s", "s"), ("spark.driver_gap_s", "s"), ("spark.plan_s", "s"),
    ("spark.task_run_s", "s"), ("spark.task_cpu_s", "s"), ("spark.task_gc_s", "s"),
    ("spark.task_deser_s", "s"), ("spark.executor_busy_ratio", "ratio"),
    ("spark.input_bytes", "bytes"), ("spark.shuffle_write_bytes", "bytes"),
    ("spark.shuffle_read_bytes", "bytes"), ("spark.spill_bytes", "bytes"),
    ("spark.unattributed_jobs", "count"), ("spark.scan_file_bytes", "bytes"),
] + [(f"{m}.{k}", u) for m in MODULES for k, u in (("jobs", "count"), ("job_s", "s"))] + [
    ("checks.run_s", "s"), ("checks.evaluate_s", "s"),
    ("core.state_loads", "count"), ("core.state_load_s", "s"),
    ("core.state_persists", "count"), ("core.state_persist_s", "s"),
    ("core.state_bytes", "bytes"),
    ("repository.saves", "count"), ("repository.save_s", "s"),
    ("repository.loads", "count"), ("repository.load_s", "s"),
    ("repository.file_bytes", "bytes"),
    ("pipeline.build_s", "s"), ("pipeline.consume_s", "s"), ("pipeline.censuses_s", "s"),
    ("pipeline.release_s", "s"), ("pipeline.blocks_after_release", "count"),
    ("trace.overhead_ratio", "ratio"),
    # end-to-end figures that are 0 on a healthy run, so they carry no bound
    ("ops_failed_ratio", "ratio"), ("blocks_retained", "count"),
]

JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def run_jvm(root: Path, classes: Path, args, work: Path, deadline: float) -> dict:
    jars = build.spark_jars()
    cores = min(4, os.cpu_count() or 1)
    out, spans = work / "result.json", root / build.BUILD_DIR / "trace" / f"{args.workload}.json"
    spans.parent.mkdir(parents=True, exist_ok=True)
    (work / "tmp").mkdir(parents=True, exist_ok=True)
    cmd = ["java", "-Xms2g", "-Xmx2g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={work / 'tmp'}"]
    for p in JDK_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", f"{classes}{os.pathsep}{jars / '*'}", "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--dir", str(work), "--out", str(out),
            "--spans", str(spans), "--cores", str(cores)]
    log = root / build.BUILD_DIR / "logs" / f"{args.workload}.log"
    log.parent.mkdir(parents=True, exist_ok=True)
    with open(log, "w") as f:
        proc = subprocess.Popen(cmd, stdout=f, stderr=subprocess.STDOUT, cwd=work)
        try:
            rc = proc.wait(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            raise SystemExit(f"perfbench: {args.workload} did not finish in time; see {log}")
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    if rc != 0 or not out.is_file():
        sys.stderr.write(log.read_text()[-6000:])
        raise SystemExit(f"perfbench: {args.workload} failed (exit {rc}); see {log}")
    return json.loads(out.read_text())


def curate_failures(res: dict) -> list:
    """Replays the q96/q136 DuckDB oracle on the generated corpus and
    compares every recorded operation's censuses and shard stats."""
    import duckdb
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{res['documents']}/*.parquet')")
    sql = Path(res["oracle_sql"]).read_text()
    row = con.execute(sql).fetchone()
    want = dict(zip([d[0] for d in con.description], row))
    problems = []
    for o in res["outputs"]:
        got = dict(zip(res["output_columns"], o["values"]))
        bad = [f"{k}: got {got[k]}, want {want[k]}" for k in got if float(got[k]) != float(want[k])]
        if bad:
            problems.append(f"op {o['op']}: " + "; ".join(bad))
    return problems


def tail(ops: list):
    """Highest percentile with at least ten operations beyond it."""
    n = len(ops)
    if n < 20:
        return None
    return 100.0 * (n - 10) / n, sorted(ops)[n - 11]


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    # a terminated run still stops and waits for its JVM (see run_jvm)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    deadline = time.monotonic() + TIME_LIMIT_S
    root = Path.cwd()
    classes = build.build(root)
    deadline = max(deadline, time.monotonic() + 150)
    work = root / build.BUILD_DIR / "run" / f"{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    try:
        res = run_jvm(root, classes, args, work, deadline)
        failures = list(res["failures"])
        failed = int(res["failed"])
        if args.workload == "curate":
            wrong = curate_failures(res)
            failures += wrong
            failed += len(wrong)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    attempted = int(res["attempted"])
    layers = res["layers"]
    ops = res["op_s"]
    p50 = statistics.median(ops)
    e2e = {
        "setup_s": statistics.median(res["setup_s"]),
        "rows_per_s": res["rows_per_op"] * len(ops) / sum(ops),
        "op_p50_s": p50,
        "jobs_per_op": layers.get("spark.jobs", 0.0),
        "input_bytes_per_op": layers.get("spark.scan_file_bytes", 0.0),
        "shuffle_bytes_per_op": layers.get("spark.shuffle_write_bytes", 0.0),
        "heap_retained_mb": res["heap_retained_mb"],
    }
    extra = {
        "ops_failed_ratio": failed / attempted,
        "blocks_retained": float(res["blocks_retained"]),
        "trace.overhead_ratio": layers.get("op_s", 0.0) / p50,
    }
    per_layer = {name: float(extra.get(name, layers.get(name, 0.0))) for name, _ in PER_LAYER}

    units = dict(END_TO_END + PER_LAYER)
    print(f"perfbench {args.workload} seed={args.seed} cores={res['cores']} "
          f"rows_per_op={res['rows_per_op']} timed_ops={len(ops)} traced_ops={res['traced_ops']} "
          f"setups={len(res['setup_s'])}")
    print("  op_s " + " ".join(f"{x:.3f}" for x in ops) + "   setup_s " +
          " ".join(f"{x:.3f}" for x in res["setup_s"]))
    print("end to end (timings from the untraced loop, counts from the traced pass):")
    for name, unit in END_TO_END:
        print(f"  {name:<24} {e2e[name]:>16.6g} {unit}")
    t = tail(ops)
    if t:
        print(f"  {'op_tail_s':<24} {t[1]:>16.6g} s   (p{t[0]:.1f} of {len(ops)} ops, 10 beyond)")
    else:
        print(f"  {'op_tail_s':<24} {'n/a':>16} s   (needs >= 20 ops per run, got {len(ops)})")
    for name in ("ops_failed_ratio", "blocks_retained"):
        print(f"  {name:<24} {extra[name]:>16.6g} {units[name]}")
    print("per layer (traced pass, per operation):")
    for name, unit in PER_LAYER:
        if name not in ("ops_failed_ratio", "blocks_retained"):
            print(f"  {name:<32} {per_layer[name]:>16.6g} {unit}")
    for f in failures[:20]:
        print(f"  FAILED {f}")

    chosen = END_TO_END if args.trace == 0 else PER_LAYER
    values = e2e if args.trace == 0 else per_layer
    metrics = {name: {"value": values[name], "unit": unit} for name, unit in chosen}
    if any(not math.isfinite(m["value"]) for m in metrics.values()):
        raise SystemExit("perfbench: a metric is not a finite number")
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
