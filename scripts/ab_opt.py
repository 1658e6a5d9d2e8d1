#!/usr/bin/env python3
"""Interleaved A/B of two build jars on a query list: java -cp the
Spark jars plus a build jar, running graft.Bench with
SPARK_GRAFT_QUERIES.

Usage: ab_opt.py BEFORE_JAR AFTER_JAR "q1,q2,..." [rounds] [out.json]

Runs BEFORE/AFTER alternated `rounds` times in the same host window and
tables per-query median wall / summed task / cpu seconds, plus each
run's wall, calibration reference (`cal.ref`, the per-run probe time
to normalize walls across windows and rounds) and bracketing loadavg —
the honest way to attribute a change on a co-tenant-noisy host
(BENCH_VARIANCE.md). The core count is SPARK_GRAFT_CPUS (default: the
CPUs this process may run on) and the heap SPARK_DRIVER_MEM (default
8g), as in the tier-1 test command.
"""
import json, os, subprocess, sys, tempfile, time

SPARK_JARS = "/opt/spark/jars/*"
CPUS = os.environ.get("SPARK_GRAFT_CPUS") or str(len(os.sched_getaffinity(0)))
HEAP = os.environ.get("SPARK_DRIVER_MEM") or "8g"


def run_bench(jar, label, workdir, queries):
    env = dict(os.environ,
               SPARK_GRAFT_SF_DIR="/root/testdata/sf0.1",
               SPARK_GRAFT_CPUS=CPUS,
               SPARK_GRAFT_QUERIES=queries,
               SPARK_GRAFT_REQUEUE_MAX="0")
    t0 = time.monotonic()
    load0 = open("/proc/loadavg").read().split()[0]
    p = subprocess.run(
        ["java", f"-Xmx{HEAP}", "-cp", f"{SPARK_JARS}:{jar}",
         "--add-opens=java.base/java.lang=ALL-UNNAMED",
         "--add-opens=java.base/java.lang.invoke=ALL-UNNAMED",
         "--add-opens=java.base/java.lang.reflect=ALL-UNNAMED",
         "--add-opens=java.base/java.io=ALL-UNNAMED",
         "--add-opens=java.base/java.net=ALL-UNNAMED",
         "--add-opens=java.base/java.nio=ALL-UNNAMED",
         "--add-opens=java.base/java.util=ALL-UNNAMED",
         "--add-opens=java.base/java.util.concurrent=ALL-UNNAMED",
         "--add-opens=java.base/java.util.concurrent.atomic=ALL-UNNAMED",
         "--add-opens=java.base/jdk.internal.ref=ALL-UNNAMED",
         "--add-opens=java.base/sun.nio.ch=ALL-UNNAMED",
         "--add-opens=java.base/sun.nio.cs=ALL-UNNAMED",
         "--add-opens=java.base/sun.security.action=ALL-UNNAMED",
         "--add-opens=java.base/sun.util.calendar=ALL-UNNAMED",
         "graft.Bench"],
        cwd=workdir, env=env, capture_output=True, text=True, timeout=3600)
    wall = round(time.monotonic() - t0, 1)
    load1 = open("/proc/loadavg").read().split()[0]
    detail_path = os.path.join(workdir, "bench_detail.json")
    detail = {}
    if os.path.exists(detail_path):
        detail = json.load(open(detail_path))
        os.remove(detail_path)
    if p.returncode != 0:
        # fail even when partial detail exists (r12, ADVICE r11): a run
        # that crashed after writing bench_detail.json must not
        # silently contribute numbers to the A/B table
        print(p.stdout[-1500:], p.stderr[-1500:])
        raise SystemExit(f"{label}: bench failed rc={p.returncode}")
    return {"label": label, "wall_s": wall, "load": [load0, load1],
            "queries": detail.get("queries", {}),
            "task": detail.get("task", {}), "cpu": detail.get("cpu", {}),
            "plans": detail.get("plans", {}), "cal": detail.get("cal")}


def main(before_jar, after_jar, queries, rounds=2, out="AB_OPT.json"):
    runs = []
    with tempfile.TemporaryDirectory() as db, tempfile.TemporaryDirectory() as da:
        for i in range(rounds):
            runs.append(run_bench(before_jar, f"before#{i}", db, queries))
            runs.append(run_bench(after_jar, f"after#{i}", da, queries))
    names = queries.split(",")
    print(f"{'query':24s} " + " ".join(f"{r['label']:>11s}" for r in runs))
    table = {}
    for metric in ("queries", "task", "cpu"):
        print(f"-- {metric} (s)")
        for q in names:
            vals = [r[metric].get(q, -1) for r in runs]
            table.setdefault(metric, {})[q] = vals
            print(f"{q:24s} " + " ".join(f"{v:11.2f}" for v in vals))
    for r in runs:
        ref = (r["cal"] or {}).get("ref")
        print(f"{r['label']:>11s} wall={r['wall_s']}s cal.ref={ref} "
              f"load={r['load'][0]}->{r['load'][1]}")
    json.dump({"queries_run": names, "rounds": rounds,
               "runs": [{k: r[k] for k in ("label", "wall_s", "load", "cal")}
                        for r in runs],
               "per_metric": table,
               "plans": {r["label"]: r["plans"] for r in runs}},
              open(out, "w"), indent=1, sort_keys=True)
    print(f"wrote {out}")


if __name__ == "__main__":
    main(sys.argv[1], sys.argv[2], sys.argv[3],
         int(sys.argv[4]) if len(sys.argv) > 4 else 2,
         sys.argv[5] if len(sys.argv) > 5 else "AB_OPT.json")
