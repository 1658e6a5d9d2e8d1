#!/usr/bin/env python3
"""graft benchmark: one workload, timed end to end or per layer.

Usage (from the repository root):
  python3 perfbench/run.py --workload star --seed 1 --seconds 10 --trace 0

Builds graft and the harness from source (perfbench/build.sbt) into
.bench_build/, runs perfbench.Harness in one JVM on local[nproc] over
the sf0.1 tables, checks every query's output against its DuckDB
oracle, and prints the metrics by name with their units. The last line
of standard output is one JSON object:
  {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
With --trace 0 the metrics are the end-to-end ones; with --trace 1
they are the per-layer ones, from traced passes. --members full runs
the workload's whole module set instead of its timed members; a traced
run of it gives the layer shares the timed members were chosen to match
(perfbench/src/main/scala/perfbench/Workloads.scala).

Every run leaves its artifacts in .bench_build/runs/<run id>/, keyed by
workload, core count, seed, trace flag, start time and process id.
The sf0.1 tables are read, never written, from SPARK_GRAFT_SF_DIR or
else the default directory graft.Bench uses.
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path

sys.dont_write_bytecode = True
try:
    import check  # imported after the switch, so no __pycache__ is written
except ImportError as e:  # check.py needs scripts/parity.py from the repository
    sys.exit(f"perfbench: {e}; run from the root of a full checkout")

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
BUILD = ROOT / ".bench_build"
DATA = Path(os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
WORKLOADS = ("star", "fixpoint", "compat", "corpus")
HEAP = "3g"
# A run must end within 180 s: the harness JVM is stopped after this
# many seconds, which leaves time for the output check. A run over a
# workload's full module set (--members full) is only for choosing the
# timed members, and may take longer.
RUN_LIMIT_S = {"timed": 160, "full": 1800}
BUILD_LIMIT_S = 850
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]
ERROR_LINE = re.compile(r"^\d\d/\d\d/\d\d \d\d:\d\d:\d\d ERROR ")

CHILDREN = []


def run_child(cmd, limit_s, **kw):
    """Runs `cmd` to completion; returns its exit code, or None if it was
    stopped after `limit_s` seconds."""
    p = subprocess.Popen(cmd, stdin=subprocess.DEVNULL, **kw)
    CHILDREN.append(p)
    try:
        return p.wait(timeout=max(1.0, limit_s))
    except subprocess.TimeoutExpired:
        p.kill()
        p.wait()
        return None
    finally:
        CHILDREN.remove(p)


def stop_children(signum, _frame):
    for p in CHILDREN:
        p.kill()
        p.wait()
    sys.exit(128 + signum)


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources():
    """Every file the build reads from the checkout, in a fixed order."""
    files = [ROOT / "build.sbt", ROOT / "project" / "build.properties",
             HERE / "build.sbt", HERE / "project" / "build.properties"]
    for base in (ROOT / "src" / "main", HERE / "src"):
        files += sorted(p for p in base.rglob("*") if p.is_file())
    return files


def java(classpath, main, *args, tmp=None):
    """The command line that runs `main` on the benchmark's JVM settings."""
    cmd = [os.path.join(os.environ["JAVA_HOME"], "bin", "java") if "JAVA_HOME" in os.environ else "java"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    # -XX:-DontCompileHugeMethods as in graft's own launch (build.sbt).
    # Compiler threads live for the whole run, so that their CPU time,
    # read per thread, is never lost with a thread that exits.
    cmd += [f"-Xmx{HEAP}", "-XX:-DontCompileHugeMethods", "-XX:-UseDynamicNumberOfCompilerThreads"]
    if tmp is not None:
        cmd.append(f"-Djava.io.tmpdir={tmp}")
    return cmd + ["-cp", classpath, main, *args]


def build():
    """Compiles graft and the harness unless the sources are unchanged;
    returns the runtime classpath."""
    if not (ROOT / "src" / "main" / "scala" / "graft" / "SparkEntry.scala").is_file():
        fail(f"no graft sources under {ROOT / 'src'}; run from a full checkout")
    h = hashlib.sha256()
    for p in sources():
        h.update(str(p.relative_to(ROOT)).encode() + b"\0" + p.read_bytes() + b"\0")
    fingerprint = h.hexdigest()
    stamp = BUILD / "build.json"
    if stamp.is_file():
        s = json.loads(stamp.read_text())
        if s.get("fingerprint") == fingerprint:
            return s["classpath"]
    BUILD.mkdir(exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true -Dsbt.repository.config="
                   f"{Path.home() / '.sbt' / 'repositories'} -Dsbt.offline=true -Xmx2g")
    log = BUILD / "build.log"
    with open(log, "w") as out:
        rc = run_child(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                        "export Runtime/fullClasspath"],
                       BUILD_LIMIT_S, cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT)
    if rc is None:
        fail("build timed out")
    lines = log.read_text().splitlines()
    cp = next((l for l in reversed(lines) if ".jar" in l and not l.startswith("[")), None)
    if rc != 0 or cp is None:
        fail(f"build failed (exit {rc}); see {log}")
    # The oracles' results are computed once per build, outside every run.
    oracles = BUILD / "oracle_sql.json"
    with open(BUILD / "prepare.log", "w") as out:
        rc = run_child(java(cp, "perfbench.Prepare", str(oracles)), BUILD_LIMIT_S / 2,
                       cwd=BUILD, stdout=out, stderr=subprocess.STDOUT)
    if rc != 0:
        fail(f"oracle SQL export failed ({rc}); see {BUILD / 'prepare.log'}")
    check.fill_cache(str(DATA), str(oracles), str(BUILD / "oracle"))
    stamp.write_text(json.dumps({"fingerprint": fingerprint, "classpath": cp}))
    return cp


def harness(classpath, args, run_dir, deadline):
    """Runs the harness JVM; returns its stderr's ERROR line count."""
    tmp = run_dir / "tmp"
    tmp.mkdir(parents=True)
    cmd = java(classpath, "perfbench.Harness",
               "--workload", args.workload, "--seed", str(args.seed),
               "--seconds", str(args.seconds), "--trace", str(args.trace),
               "--data", str(DATA), "--out", str(run_dir), "--cpus", str(os.cpu_count()),
               "--members", args.members, tmp=tmp)
    with open(run_dir / "stdout.log", "w") as out, open(run_dir / "stderr.log", "w") as err:
        rc = run_child(cmd, deadline - time.monotonic(), cwd=run_dir, stdout=out, stderr=err)
    if rc is None:
        fail(f"harness exceeded {RUN_LIMIT_S[args.members]} s; see {run_dir}")
    if rc != 0:
        fail(f"harness failed (exit {rc}); see {run_dir / 'stderr.log'}")
    with open(run_dir / "stderr.log", errors="replace") as f:
        return sum(1 for line in f if ERROR_LINE.match(line))


def high_percentile(xs):
    """(percentile, value) of the highest percentile with at least ten
    samples beyond it, or None when there are too few samples."""
    n = len(xs)
    if n < 11:
        return None
    return int(100 * (n - 10) / n), sorted(xs)[n - 11]


def self_times(spans):
    """Per layer, the summed span time not covered by the span's children."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        a, b = s["start_ms"], s["end_ms"]
        covered, cur = 0.0, a
        for c in sorted(kids.get(s["id"], []), key=lambda c: c["start_ms"]):
            lo, hi = max(c["start_ms"], cur), min(c["end_ms"], b)
            if hi > lo:
                covered += hi - lo
                cur = hi
        out[s["layer"]] = out.get(s["layer"], 0.0) + (b - a - covered) / 1e3
    return out


def per_layer(run, spans, error_lines):
    traced = [p for p in run["passes"] if p["traced"]]
    plain = [p for p in run["passes"] if not p["traced"]]
    med = statistics.median

    def per_pass(f):
        return med([f(p) for p in traced])

    def phase(key):
        return per_pass(lambda p: sum(e[key] or 0.0 for e in p["execs"]))

    def counts(p, key):
        return p["other_counts"].get(key, 0.0) + sum(e["counts"].get(key, 0.0) for e in p["execs"])

    def count(key):
        return per_pass(lambda p: counts(p, key))

    def shape(key):
        return per_pass(lambda p: sum((e["shape"] or {}).get(key, 0) for e in p["execs"]))

    m = {
        "operators.construct_s": phase("construct_s"),
        "operators.construct_jobs": count("jobs.construct"),
        "plan.plan_s": phase("plan_s"),
        "exec.exec_s": phase("exec_s"),
        "exec.jobs": count("jobs.exec"),
        "exec.stages": count("stages"),
        "exec.tasks": count("tasks"),
        "exec.task_run_s": count("task_run_ms") / 1e3,
        "exec.task_cpu_s": count("task_cpu_ns") / 1e9,
        "exec.driver_cpu_s": per_pass(lambda p: p["cpu_s"] - counts(p, "task_cpu_ns") / 1e9),
        "exec.jit_cpu_s": per_pass(lambda p: p["jit_cpu_s"]),
        "exec.gc_s": per_pass(lambda p: p["gc_s"]),
        "exec.sched_wait_s": count("sched_wait_ms") / 1e3,
        "exec.empty_task_frac": per_pass(
            lambda p: counts(p, "empty_tasks") / max(1.0, counts(p, "tasks"))),
        "shuffle.write_bytes": count("shuffle_write_bytes"),
        "shuffle.read_bytes": count("shuffle_read_bytes"),
        "shuffle.spill_bytes": count("spill_bytes"),
        "shuffle.fetch_wait_s": count("fetch_wait_ms") / 1e3,
        "tables.scan_bytes": count("scan_bytes"),
        "tables.scan_rows": count("scan_rows"),
        "log.error_lines": error_lines,
        "trace.overhead_s": per_pass(lambda p: p["wall_s"]) - med([p["wall_s"] for p in plain]),
    }
    for k in ("exchanges", "broadcasts", "smj", "root_range_sorts", "spread_exchanges",
              "checkpoint_scans", "codegen_stages"):
        m[f"plan.{k}"] = shape(k)
    st = self_times(spans)
    for layer in ("query", "construct", "plan", "exec", "job", "stage"):
        m[f"self.{layer}_s"] = st.get(layer, 0.0) / len(traced)
    return m


def end_to_end(run):
    passes = [p for p in run["passes"] if not p["traced"]]
    walls = [p["wall_s"] for p in passes]
    lat = [e["total_s"] for p in passes for e in p["execs"] if e["ok"]]
    return {
        "pass_s": statistics.median(walls),
        "query_p50_s": statistics.median(lat),
        "query_p90_s": statistics.quantiles(lat, n=10)[8],
        "cpu_s": statistics.median([p["cpu_s"] for p in passes]),
        "setup_s": run["setup_s"],
        "heap_live_peak_mb": run["live_heap_mb"],
    }, walls, lat


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--members", choices=("timed", "full"), default="timed",
                    help="time the workload's chosen members (the benchmark) or its whole module set")
    args = ap.parse_args()
    started = time.monotonic()
    for sig in (signal.SIGTERM, signal.SIGINT):
        signal.signal(sig, stop_children)
    missing = [t for t in check.TABLES if not (DATA / f"{t}.parquet").is_file()]
    if missing:
        fail(f"sf0.1 tables missing under {DATA}: {', '.join(missing)}")
    classpath = build()
    deadline = time.monotonic() + RUN_LIMIT_S[args.members]

    cpus = os.cpu_count()
    run_id = (f"{args.workload}-{args.members}-c{cpus}-seed{args.seed}-t{args.trace}-"
              f"{time.strftime('%Y%m%dT%H%M%S')}-{os.getpid()}")
    run_dir = BUILD / "runs" / run_id
    error_lines = harness(classpath, args, run_dir, deadline)
    run = json.loads((run_dir / "run.json").read_text())

    verdicts = check.check_outputs(str(DATA), str(run_dir / "check"), run["check"], str(BUILD / "oracle"))
    bad = {q for q, v in verdicts.items() if v is not None}
    execs = [e for p in run["passes"] for e in p["execs"]]
    attempted = len(execs) + len(verdicts)
    failed = sum(1 for e in execs if not e["ok"] or e["q"] in bad) + len(bad)

    e2e, walls, lat = end_to_end(run)
    if args.trace:
        spans = json.loads((run_dir / "spans.json").read_text())
        metrics = per_layer(run, spans, error_lines)
    else:
        metrics = e2e
    # The metrics reported, with their units, are those BENCHMARK.json lists.
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    listed = [(m["name"], m["unit"]) for m in spec["per_layer" if args.trace else "end_to_end"]]

    hp = high_percentile(walls)
    summary = {
        "run": run_id, "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "nproc": run["nproc"], "cpus": run["cpus"], "xmx_mb": run["xmx_mb"],
        "probe_s": run["probe_s"], "queries": run["queries"],
        "passes": len(walls), "query_samples": len(lat),
        "pass_s_high_percentile": hp, "warmup_passes": len(run["warmup"]),
        "warmup_jit_cpu_s": [p["jit_cpu_s"] for p in run["warmup"]],
        "load1_per_pass": [p["load1"] for p in run["passes"]],
        "steal_s_per_pass": [p["steal_s"] for p in run["passes"]],
        "fail_frac": failed / attempted, "attempted": attempted, "failed": failed,
        "check": verdicts, "end_to_end": e2e, "metrics": metrics,
        "error_lines": error_lines, "run_wall_s": time.monotonic() - started,
        "plan_shapes": {e["q"]: e["shape"] for p in run["passes"] for e in p["execs"] if e["shape"]},
        "query_counts": {e["q"]: e["counts"] for p in run["passes"] for e in p["execs"] if p["traced"]},
    }
    (run_dir / "summary.json").write_text(json.dumps(summary, indent=1, sort_keys=True))
    for d in ("check", "spark-local", "tmp", "warehouse"):
        shutil.rmtree(run_dir / d, ignore_errors=True)

    print(f"workload {args.workload}: {len(run['queries'])} queries, seed {args.seed}, "
          f"local[{run['cpus']}] of nproc {run['nproc']}, -Xmx {run['xmx_mb']} MB, "
          f"host probe {run['probe_s']:.3f} s, artifacts {run_dir.relative_to(ROOT)}")
    print(f"  passes {len(walls)} timed, {len(run['warmup'])} warm-up "
          f"(JIT CPU s {[round(p['jit_cpu_s'], 2) for p in run['warmup']]}); "
          f"1-min loadavg {[round(p['load1'], 2) for p in run['passes']]}; "
          f"steal s {[round(p['steal_s'], 2) for p in run['passes']]}; "
          f"run wall {time.monotonic() - started:.1f} s")
    notes = {"pass_s": f"median of {len(walls)} passes" +
             (f"; p{hp[0]} {hp[1]:.4f} s" if hp else "; too few passes for a high percentile"),
             "query_p50_s": f"median of {len(lat)} executions",
             "query_p90_s": f"p90 of {len(lat)} executions"}
    for name, unit in listed:
        note = f"  ({notes[name]})" if name in notes else ""
        print(f"  {name} = {metrics[name]:.6g} {unit}{note}")
    print(f"  fail_frac = {failed / attempted:.6g} ratio  ({failed} of {attempted} executions)")
    print(f"  JIT compiler CPU = "
          f"{statistics.median([p['jit_cpu_s'] for p in run['passes'] if not p['traced']]):.6g} s per pass")
    for q, v in sorted(verdicts.items()):
        if v is not None:
            print(f"  check failed: {q}: {v}")
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": {n: {"value": metrics[n], "unit": u} for n, u in listed}}))


if __name__ == "__main__":
    main()
