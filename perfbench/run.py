#!/usr/bin/env python3
"""Layered warehouse benchmark.

    python3 perfbench/run.py --workload pipeline|txn --seed N \
        --seconds S --trace 0|1

Run from the repository root.  Builds the program from source (once per
source change), generates the workload's inputs from the seed, runs the
workload in one JVM with one client thread on ``local[k]``
(k = min(4, cores)), checks every timed result outside the timed region,
and prints one JSON line: ``correct``, ``attempted``, ``failed`` and
``metrics``.  A run times one fixed pass over the workload's ops;
``--seconds`` is accepted but does not change the amount of work.  ``--trace 0`` reports the end-to-end metrics; ``--trace 1``
runs with the Spark/query-execution listeners and the counting
FileSystem installed and reports the per-layer metrics.  The raw
records (per-op times, spans, per-op layer figures) of the last run of
each workload and mode stay in ``.perfbench/last/<workload>-trace<t>.json``.

Every run works in a fresh directory under ``.perfbench/runs`` (tables,
Spark scratch and local dirs, warehouse, the program's Scratch
artifacts); whatever an earlier, killed run left there is deleted first.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import check  # noqa: E402
import gen  # noqa: E402
import metrics  # noqa: E402
import workloads  # noqa: E402

ROOT = os.path.dirname(HERE)
RUNS = os.path.join(ROOT, ".perfbench", "runs")
JVM_TIMEOUT_S = 150
CORES = max(1, min(4, os.cpu_count() or 1))

# the module opens Spark needs on JDK 17 outside spark-submit
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def du(path):
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, fs in os.walk(path) for f in fs)


def plan_lines(run_dir, ops, settings, cores):
    confs = {
        "spark.master": f"local[{cores}]",
        "spark.sql.shuffle.partitions": str(cores),
        "spark.sql.session.timeZone": "UTC",
        "spark.ui.enabled": "false",
        "spark.driver.host": "localhost",
        "spark.driver.bindAddress": "127.0.0.1",
        "spark.local.dir": os.path.join(run_dir, "local"),
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.graft.scratchDir": os.path.join(run_dir, "scratch"),
        "spark.hadoop.hadoop.tmp.dir": os.path.join(run_dir, "tmp"),
    }
    lines = [f"conf\t{k}\t{v}" for k, v in confs.items()]
    lines += [f"set\t{k}\t{v}" for k, v in settings.items()]
    for o in ops:
        assert "\t" not in o["payload"] and "\n" not in o["payload"]
        lines.append("\t".join(["op", o["phase"], str(o["group"]), o["kind"],
                                o["name"], o["cls"], o["payload"]]))
    return "\n".join(lines) + "\n"


def run_jvm(cp, run_dir, plan_path):
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(run_dir, "local"))
    cmd = ["java", "-Xmx3g", "-XX:+UseG1GC", "-Xss8m", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}"] + ADD_OPENS + \
          ["-cp", cp, "perfbench.Runner", plan_path]
    log_path = os.path.join(run_dir, "jvm.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, env=env,
                                cwd=run_dir)
        try:
            code = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            code = "timeout"
        finally:  # also on SIGTERM: never leave the JVM behind
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    if code != 0:
        with open(log_path) as f:
            sys.stderr.write(f.read()[-4000:])
        raise SystemExit(f"perfbench: the program's JVM exited with {code}")


def main():
    signal.signal(signal.SIGTERM, lambda signum, frame: sys.exit(128 + signum))
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=["pipeline", "txn"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True,
                    help="accepted; a run always times one fixed pass")
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    cp = build.build()
    shutil.rmtree(RUNS, ignore_errors=True)
    run_dir = os.path.join(RUNS, f"{a.workload}-{a.seed}-{os.getpid()}")
    out = os.path.join(run_dir, "out")
    for d in ("out", "scratch", "warehouse", "local", "tmp", "tables"):
        os.makedirs(os.path.join(run_dir, d))

    if a.workload == "txn":
        ops, info = workloads.txn(a.seed, run_dir)
    else:
        ops, info = workloads.pipeline(a.seed, run_dir)
    inputs_sum = gen.checksum(info["data"])
    settings = {"trace": a.trace, "out": out}
    if a.workload == "txn":
        settings.update(txnroot=info["root"], txntable=info["table"])
    else:
        settings["data"] = info["data"]
    plan_path = os.path.join(run_dir, "plan.tsv")
    with open(plan_path, "w") as f:
        f.write(plan_lines(run_dir, ops, settings, CORES))

    run_jvm(cp, run_dir, plan_path)
    result = json.load(open(os.path.join(out, "result.json")))

    extra = {}
    if a.workload == "txn":
        bad, msgs, rows_written, final_rows = check.txn(result, ops, out, info["table"])
        extra = metrics.writes(result, rows_written, du(info["root"]),
                               du(os.path.join(out, "final")), final_rows)
        extra["root"] = info["root"]
    else:
        bad, msgs = check.queries(result, out, info["data"])
    msgs += [f"set-up: {e}" for e in result["warm_errors"]]
    msgs += [f"set-up op {r['name']} failed: {r['err']}" for r in result["ops"]
             if not r["timed"] and not r["ok"]]
    if gen.checksum(info["data"]) != inputs_sum:
        msgs.append("the run modified its generated inputs")
    timed = [r for r in result["ops"] if r["timed"]]
    attempted, failed = len(timed), len(bad)
    if not attempted:
        raise SystemExit("perfbench: no timed op ran")
    correct = not msgs and failed == 0
    for m in msgs:
        sys.stderr.write(f"perfbench: {m}\n")

    if a.trace:
        layers = metrics.per_op_layers(result)
        vals = metrics.per_layer(result, layers, extra)
        vals["check.op_fail_frac"] = failed / attempted
        names = metrics.PER_LAYER
    else:
        layers = {}
        vals = metrics.end_to_end(result)
        names = metrics.END_TO_END
    last = os.path.join(ROOT, ".perfbench", "last")
    os.makedirs(last, exist_ok=True)
    with open(os.path.join(last, f"{a.workload}-trace{a.trace}.json"), "w") as f:
        json.dump({"layers": {str(k): v for k, v in layers.items()}, "result": result}, f)
    shutil.rmtree(RUNS, ignore_errors=True)
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": {n: {"value": vals[n], "unit": metrics.unit(n)}
                                  for n in names}}))


if __name__ == "__main__":
    main()
