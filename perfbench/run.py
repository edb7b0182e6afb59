#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the harness (perfbench/build.sbt, which compiles the repository's
sources) when a source is newer than the last build, writes the seeded
inputs, runs one JVM (perfbench.Main), checks every op's output, and prints
a summary followed by one JSON line: {"correct", "attempted", "failed",
"metrics"}. With --trace 0 the metrics are the end-to-end ones, with
--trace 1 the per-layer ones. Every run also leaves a run record under
.bench_build/records/ for compare.py. A wrong output makes the command exit
1 and name the op.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))
import inputs  # noqa: E402
import metrics  # noqa: E402

ROOT = HERE.parent
BUILD = ROOT / ".bench_build"
WORKLOADS = ("datagen", "crawl-build", "crawl-refresh")
CRAWL_DOCS = 1000
HEAP = "3g"
JVM_BUDGET_S = 165
# what spark-submit would pass on JDK 17; the root build.sbt sets the same
ADD_OPENS = ["java.base/" + p for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]


def fail(msg, code=1):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def sources():
    for top in (ROOT / "src" / "main", HERE / "src"):
        yield from (p for p in top.rglob("*") if p.is_file())
    yield from (ROOT / "build.sbt", HERE / "build.sbt",
                ROOT / "project" / "build.properties",
                HERE / "project" / "build.properties")


def classpath():
    """The harness classpath, rebuilding when a source changed."""
    stamp = BUILD / "classpath.txt"
    newest = max(p.stat().st_mtime for p in sources())
    if stamp.exists() and stamp.stat().st_mtime >= newest:
        return stamp.read_text().strip()
    BUILD.mkdir(exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    env["SBT_OPTS"] = (env.get("SBT_OPTS", "") + " -Dsbt.offline=true").strip()
    log = BUILD / "build.log"
    with open(log, "w") as out:
        code = run_child(["sbt", "-batch", "-Dsbt.log.noformat=true",
                          f"-Dsbt.global.base={BUILD / 'sbt-global'}",
                          "export perfbench/Runtime/fullClasspath"],
                         cwd=HERE, stdout=out, env=env, timeout=800)
    lines = log.read_text().splitlines()
    if code != 0 or not lines or "scala-2.13/classes" not in lines[-1]:
        fail(f"build failed, see {log}")
    stamp.write_text(lines[-1])
    return lines[-1]


def run_child(cmd, timeout, **kw):
    """Run a child in its own process group and wait for it. The group is
    killed on timeout, and when this process is told to stop."""
    proc = subprocess.Popen(cmd, stderr=subprocess.STDOUT if "stdout" in kw
                            else None, start_new_session=True, **kw)

    def stop(signum, _frame):
        raise SystemExit(f"perfbench: stopped by signal {signum}")
    old = {s: signal.signal(s, stop) for s in (signal.SIGTERM, signal.SIGINT)}
    try:
        return proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        fail(f"{cmd[0]} did not finish within {timeout} s")
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        for s, h in old.items():
            signal.signal(s, h)


def git_commit():
    try:
        return subprocess.run(["git", "-C", str(ROOT), "rev-parse", "HEAD"],
                              capture_output=True, text=True, check=True,
                              timeout=10).stdout.strip()
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def canon(columns, rows):
    """Rows as sorted strings: columns by name, floats to 6 places (the
    repository's oracle-compare rule)."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    out = []
    for r in rows:
        vals = []
        for i in order:
            v = r[i]
            if hasattr(v, "as_tuple"):  # Decimal
                v = float(v)
            if isinstance(v, float):
                v = round(v, 6) + 0.0
            vals.append(str(v))
        out.append("|".join(vals))
    return sorted(out)


def oracle_failures(rec, input_dir):
    """{op id: reason} for ops whose output differs from the DuckDB replay
    of the query's oracle over the same input dir."""
    import duckdb
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM "
                f"'{input_dir}/documents.parquet'")
    rel = con.sql(rec["oracle_sql"])
    want = canon(rel.columns, rel.fetchall())
    bad = {}
    for out in rec["outputs"]:
        if sorted(out["columns"]) != sorted(rel.columns):
            why = f"columns {out['columns']} != oracle {rel.columns}"
        elif canon(out["columns"], out["rows"]) != want:
            why = "output differs from the DuckDB oracle"
        else:
            continue
        bad.update({op: why for op in out["ops"]})
    return bad


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not (ROOT / "build.sbt").exists() or not (ROOT / "src" / "main").is_dir():
        fail(f"no repository sources next to {HERE.name}/ (need build.sbt "
             "and src/main)", 2)
    if not (ROOT / "BENCHMARK.json").exists():
        fail("no BENCHMARK.json at the repository root", 2)
    cp = classpath()

    cores = min(len(os.sched_getaffinity(0)), 4)
    load_before = os.getloadavg()
    work = BUILD / f"run-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    try:
        input_dir = None
        if args.workload.startswith("crawl"):
            input_dir = work / "input"
            inputs.write_documents(str(input_dir), CRAWL_DOCS, args.seed)
        out_file = work / "record.json"
        cmd = ["java", *[a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")],
               f"-Xmx{HEAP}", f"-Djava.io.tmpdir={work / 'tmp'}",
               "-cp", cp, "perfbench.Main",
               "--workload", args.workload, "--seed", str(args.seed),
               "--seconds", str(args.seconds), "--trace", str(args.trace),
               "--cores", str(cores), "--work", str(work),
               "--out", str(out_file)]
        if input_dir:
            cmd += ["--input", str(input_dir)]
        log = work / "jvm.log"
        with open(log, "w") as out:
            code = run_child(cmd, timeout=JVM_BUDGET_S, cwd=ROOT, stdout=out)
        if code != 0 or not out_file.exists():
            tail = "\n".join(log.read_text(errors="replace").splitlines()[-30:])
            fail(f"the JVM exited with {code}:\n{tail}")
        rec = json.loads(out_file.read_text())
        failures = {o["id"]: o["error"] for o in rec["ops"] if not o["ok"]}
        if input_dir:
            for op, why in oracle_failures(rec, input_dir).items():
                failures.setdefault(op, why)
        attempted = len(rec["ops"])
        if "phase_b" in rec:
            attempted += 1
            if not rec["phase_b"]["ok"]:
                failures["phase_b"] = f"bridge totals {rec['phase_b']}"
    finally:
        shutil.rmtree(work, ignore_errors=True)

    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    units = {m["name"]: m["unit"] for m in
             bench["per_layer" if args.trace else "end_to_end"]}
    if args.trace:
        facts = {}
        layers = metrics.per_layer(rec, cores)
        # a layer the workload does not run reads 0
        values = {name: layers.get(name, 0.0) for name in units}
    else:
        e2e, facts = metrics.end_to_end(rec)
        values = {name: e2e[name] for name in units}
    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "commit": git_commit(),
        "nproc": len(os.sched_getaffinity(0)), "cores": cores,
        "load_before": load_before, "load_after": os.getloadavg(),
        "time": time.strftime("%Y-%m-%dT%H:%M:%S"),
        "crawl_docs": CRAWL_DOCS if input_dir else None, "heap": HEAP,
        "conf": rec["conf"], "probes": rec["probes"], "setup_s": rec["setup_s"],
        "op_walls_s": [o["wall_s"] for o in rec["ops"]],
        "op_cpu_s": [o["cpu_s"] for o in rec["ops"]],
        "op_jit_s": [o["jit_s"] for o in rec["ops"]],
        "heap_gcs": rec["heap_gcs"],
        "attempted": attempted, "failures": failures,
        "failed_frac": len(failures) / attempted,
        "metrics": values, **facts,
    }
    if args.trace:
        record["spans"] = rec["trace"]["spans"]
    records = BUILD / "records"
    records.mkdir(parents=True, exist_ok=True)
    (records / f"{args.workload}-s{args.seed}-t{args.trace}-"
               f"{time.time_ns()}.json").write_text(json.dumps(record, indent=1))

    print(f"workload={args.workload} seed={args.seed} cores={cores} "
          f"ops={[round(w, 3) for w in record['op_walls_s']]} "
          f"setup={rec['setup_s']:.3f} "
          f"failed_frac={record['failed_frac']:.3f} {facts}")
    if args.trace:
        print(f"{'span':24} {'count':>6} {'median ms':>10} {'self ms':>10}")
        for name, (n, dur, own) in metrics.span_summary(
                rec["trace"]["spans"]).items():
            print(f"{name:24} {n:6d} {dur:10.3f} {own:10.3f}")
    for name, unit in units.items():
        print(f"{name:28} {record['metrics'][name]:14.6g} {unit}")
    for op, why in failures.items():
        print(f"perfbench: op {op} failed: {why}", file=sys.stderr)
    print(json.dumps({
        "correct": not failures, "attempted": attempted,
        "failed": len(failures),
        "metrics": {k: {"value": v, "unit": units[k]}
                    for k, v in record["metrics"].items()}}))
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
