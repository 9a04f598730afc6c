"""Runs one benchmark workload and prints its metrics.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the harness and the
program (see build.py). The last line of standard output is the result:
{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}; the
line before it is a detail record (input properties, workload-specific
figures and sample counts). See README.md for every metric.
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

import build    # noqa: E402
import check    # noqa: E402
import gen      # noqa: E402
import metrics  # noqa: E402

WORKLOADS = ["lakehouse_mix", "neardup_stream"]
SETUP_REPS = 2
JVM_TIMEOUT_S = 165
JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def cores():
    return max(1, min(4, len(os.sched_getaffinity(0))))


def run_jvm(classpath, workload, inputs, run_dir, seconds, trace, out):
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", "-Xms2g", "-Xmx2g", f"-Djava.io.tmpdir={tmp}"]
    for p in JDK17_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "perfbench.Main", workload, inputs, run_dir, str(seconds),
            "1" if trace else "0", str(SETUP_REPS), str(cores()), out]
    env = dict(os.environ, SPARK_LOCAL_DIRS=tmp)
    log_path = os.path.join(run_dir, "jvm.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, env=env,
                                cwd=run_dir)
        try:
            rc = proc.wait(timeout=JVM_TIMEOUT_S)
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    if rc != 0 or not os.path.exists(out):
        with open(log_path) as f:
            sys.stderr.write(f.read()[-6000:])
        raise RuntimeError(f"benchmark process failed with exit code {rc}")
    with open(out) as f:
        return json.load(f)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    # a terminated run still stops its JVM and removes its files (finally)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    try:
        classpath = build.ensure_built()
    except build.BuildError as e:
        sys.exit(f"perfbench: {e}")
    run_dir = os.path.join(os.getcwd(), ".bench_run", f"{a.workload}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        inputs = os.path.join(run_dir, "inputs")
        gen_s = []
        for _ in range(SETUP_REPS):
            shutil.rmtree(inputs, ignore_errors=True)
            t0 = time.perf_counter()
            props = gen.generate(a.workload, a.seed, a.seconds, inputs)
            gen_s.append(time.perf_counter() - t0)
        result = run_jvm(classpath, a.workload, inputs, run_dir, a.seconds, a.trace,
                         os.path.join(run_dir, "result.json"))
        if a.trace:
            # the span dump outlives the run: raw spans, jobs and planning
            # records, for questions the summary metrics do not answer
            shutil.copy(os.path.join(run_dir, "result.json"), os.path.join(
                os.path.dirname(run_dir), f"trace-{a.workload}-{a.seed}.json"))
        if a.workload == "lakehouse_mix":
            verdicts, attempted, failed = check.check_lake(result, a.seed, a.seconds, inputs)
        else:
            verdicts, attempted, failed = check.check_neardup(result, inputs)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    setup_s = metrics.median([g + j for g, j in zip(gen_s, result["setup_jvm_s"])])
    e2e, spec, samples = metrics.e2e(a.workload, result, verdicts, setup_s)
    if a.trace:
        values = metrics.layers(result, e2e, spec)
        units = metrics.layer_units()
    else:
        values, units = e2e, metrics.E2E_UNITS
    spec["failed_ratio"] = failed / attempted
    detail = {"workload": a.workload, "seed": a.seed, "seconds": a.seconds,
              "trace": a.trace, "cores": cores(), "inputs": props, "figures": spec,
              "samples": samples, "setup_runs_s": [g + j for g, j in
                                                   zip(gen_s, result["setup_jvm_s"])],
              "errors": [w for _, ok, w in verdicts if not ok][:5]}
    print(json.dumps(detail, sort_keys=True))
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": {k: {"value": values[k], "unit": units[k]} for k in units}}))


if __name__ == "__main__":
    main()
