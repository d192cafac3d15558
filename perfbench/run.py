#!/usr/bin/env python3
"""Import-pipeline benchmark.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the program from its sources together with the harness in
perfbench/src (perfbench/build.py) the first time, or when any source
changed, then runs one workload in one JVM and
prints one human line per metric and, as its last line, one compact JSON
object: {"correct", "attempted", "failed", "metrics"}. With --trace 0 the
metrics are the end_to_end metrics of BENCHMARK.json, with --trace 1 its
per_layer metrics. Every file it writes stays under .bench_build/ in the
checkout; each run's full report is kept in .bench_build/perfbench/results/.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import threading

import build

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BENCH = os.path.join(ROOT, "perfbench")
OUT = os.path.join(ROOT, ".bench_build", "perfbench")
HEAP = "3g"
JVM_KILL_S = 170     # a run that is still going is killed

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    if a.workload not in [w["name"] for w in spec["workloads"]]:
        fail(f"unknown workload {a.workload}")
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("the program's sources (src/main/scala) are not in this checkout")
    try:
        cp = build.classpath(ROOT, OUT)
        java = build.java()
    except build.BuildError as e:
        fail(str(e))

    run_dir = os.path.join(OUT, f"run-{a.workload}")
    shutil.rmtree(run_dir, ignore_errors=True)
    tmp = os.path.join(run_dir, "tmp")
    for d in (tmp, os.path.join(OUT, "results")):
        os.makedirs(d, exist_ok=True)
    env = {k: v for k, v in os.environ.items() if not k.startswith("SPARK_GRAFT_")}
    env.update(LC_ALL="C.UTF-8", SPARK_LOCAL_DIRS=os.path.join(run_dir, "spark-local"))
    # A fixed-size heap (no growth phases inside the timed passes) and the
    # throughput collector, with which passes settle sooner after the JIT
    # warm-up than with the default G1.
    cmd = [java, f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseParallelGC", "-XX:-UsePerfData"]
    for o in ADD_OPENS:
        cmd += ["--add-opens", f"{o}=ALL-UNNAMED"]
    cmd += [
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        f"-Djava.io.tmpdir={tmp}",
        f"-Dspark.sql.warehouse.dir={os.path.join(run_dir, 'warehouse')}",
        f"-Dspark.hadoop.hadoop.tmp.dir={os.path.join(run_dir, 'hadoop')}",
        f"-Dderby.system.home={run_dir}",
        "-cp", cp, "perfbench.Main",
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", str(a.trace), "--work", os.path.join(run_dir, "work"),
        "--pins", os.path.join(BENCH, "pins.properties"),
    ]
    jvm_log = os.path.join(run_dir, "jvm.log")
    with open(jvm_log, "w") as lf:
        p = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=subprocess.PIPE,
                             stderr=lf, stdin=subprocess.DEVNULL, text=True,
                             start_new_session=True)
        killer = threading.Timer(JVM_KILL_S, os.killpg, (p.pid, signal.SIGKILL))
        killer.start()
        try:
            for line in p.stdout:
                sys.stdout.write(line)
                sys.stdout.flush()
        finally:
            code = p.wait()
            killer.cancel()
    work = os.path.join(run_dir, "work")
    result = os.path.join(work, "result.json")
    if code != 0 or not os.path.exists(result):
        with open(jvm_log) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        fail(f"run failed (exit {code}); log in {jvm_log}", 3)
    shutil.copy(os.path.join(work, "report.json"), os.path.join(
        OUT, "results", f"{a.workload}-seed{a.seed}-trace{a.trace}.json"))
    with open(result) as f:
        res = json.load(f)

    wanted = spec["per_layer"] if a.trace else spec["end_to_end"]
    missing = [m["name"] for m in wanted if m["name"] not in res["metrics"]]
    if missing:
        fail(f"run reported no value for {', '.join(missing)}", 4)
    metrics = {m["name"]: {"value": res["metrics"][m["name"]], "unit": m["unit"]}
               for m in wanted}
    print(json.dumps({"correct": res["correct"], "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics},
                     separators=(",", ":")), flush=True)


if __name__ == "__main__":
    main()
