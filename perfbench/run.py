#!/usr/bin/env python3
"""graft benchmark: one command per workload.

    python3 perfbench/run.py --workload dashboard --seed 1 --seconds 10 --trace 0

Builds graft and the benchmark's JVM side from source (perfbench/build.py),
generates the workload's inputs from the seed (perfbench/gen.py), runs the
workload in one JVM on local[min(4, cores)], checks every output against an
independent DuckDB recomputation, and prints a summary followed by one JSON
line: {"correct", "attempted", "failed", "metrics"}. With --trace 0 the
metrics are the end-to-end ones; with --trace 1 the per-layer ones, from
spans and Spark listener counters recorded around each layer call.

Everything a run writes goes under perfbench/.runs/ and is removed at the
end; the compiled classes are kept under perfbench/.build/.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import gen  # noqa: E402
import report  # noqa: E402

WORKLOADS = ["dashboard", "stream_replay", "ingest"]
SETUPS = 3          # set-up repeats per run; setup_s is their median
# Untimed warm-up before the timed phase, in seconds per workload. The
# dashboard and ingest warm up with fixed numbers of requests and imports
# instead (gen.DASHBOARD, gen.INGEST).
WARM_S = {"dashboard": 0, "stream_replay": 2, "ingest": 0}
HEAP = "3g"         # fixed JVM heap, well below the host's memory
DEADLINE_S = 170    # whole run, build excluded

# Tier up to C2 after a tenth of the default invocation counts, so a short
# run reaches steady-state code during its warm-up instead of drifting
# through the timed phase.
JIT = ["-XX:Tier3InvocationThreshold=20", "-XX:Tier3MinInvocationThreshold=10",
       "-XX:Tier3CompileThreshold=200", "-XX:Tier4InvocationThreshold=500",
       "-XX:Tier4MinInvocationThreshold=60", "-XX:Tier4CompileThreshold=1500"]

ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def run_jvm(classes, manifest, out, seconds, trace, run_dir, timeout):
    os.makedirs(f"{run_dir}/tmp", exist_ok=True)
    cmd = (["java", f"-Xmx{HEAP}", f"-Xms{HEAP}", "-Xss8m", "-XX:-UsePerfData"] + JIT + [
            f"-Djava.io.tmpdir={run_dir}/tmp", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC"] + ADD_OPENS
           + ["-cp", build.classpath(classes), "graft.perfbench.Main",
              manifest, out, str(seconds), str(trace)])
    log_path = f"{run_dir}/jvm.log"
    with open(log_path, "w") as log:
        env = dict(os.environ, SPARK_LOCAL_DIRS=f"{run_dir}/spark-local")
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=run_dir, env=env)
        try:
            rc = p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            rc = "timeout"
        finally:  # also on SIGTERM: never leave the JVM running
            if p.poll() is None:
                p.kill()
                p.wait()
    if rc != 0:
        with open(log_path) as f:
            tail = f.read()[-4000:]
        raise RuntimeError(f"workload JVM failed ({rc}):\n{tail}")


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)

    classes = build.build()
    t_start = time.time()
    run_dir = os.path.join(HERE, ".runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    try:
        man = gen.generate(a.workload, a.seed, run_dir)
        man.update(run_dir=run_dir, setups=SETUPS, warm_seconds=WARM_S[a.workload])
        mpath, out = f"{run_dir}/manifest.json", f"{run_dir}/result.json"
        with open(mpath, "w") as f:
            json.dump(man, f)
        t_jvm = time.time()
        run_jvm(classes, mpath, out, a.seconds, a.trace, run_dir,
                DEADLINE_S - (time.time() - t_start))
        t_report = time.time()
        with open(out) as f:
            res = json.load(f)
        rep = report.REPORTS[a.workload](res, man, a.trace == 1)
        res["phase_s"].update(jvm=round(t_report - t_jvm, 2), report=round(time.time() - t_report, 2))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    names = report.PER_LAYER if a.trace else report.END_TO_END
    values = rep.layers if a.trace else rep.e2e
    # Every end-to-end metric must have been measured; a layer the workload
    # does not run reads 0.
    metrics = {n: {"value": float(values.get(n, 0.0) if a.trace else values[n]), "unit": u}
               for n, u in names}
    print(f"workload={a.workload} seed={a.seed} seconds={a.seconds} trace={a.trace}")
    print("inputs: " + json.dumps(rep.inputs))
    print("phases_s: " + json.dumps({"setup": res["setup_s"], **res["phase_s"],
                                     "total": round(time.time() - t_start, 2)}))
    if a.trace:  # for the tracing overhead: traced minus untraced end-to-end
        print("end_to_end_traced: " + json.dumps(rep.e2e))
    for k, v in rep.notes.items():
        print(f"{k}: {v}")
    for p in rep.problems[:20]:
        print(f"problem: {p}")
    for n, m in metrics.items():
        print(f"  {n:34s} {m['value']:14.4f} {m['unit']}")
    print(json.dumps({"correct": rep.failed == 0, "attempted": rep.attempted,
                      "failed": rep.failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        sys.exit(main())
    except Exception as e:  # no result line on any failure
        print(f"error: {e}", file=sys.stderr)
        sys.exit(1)
