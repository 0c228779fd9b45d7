#!/usr/bin/env python3
"""Run one benchmark workload and print its result as the last line.

    python3 perfbench/run.py --workload backfill --seed 1 --seconds 12 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 12

Builds the program from the checkout's sources first (see build.py), then
runs the workload in one JVM with Spark as local[N], N = the CPUs this
process may use. ``--trace 1`` reports the per-layer metrics instead of the
end-to-end ones and writes a span file. Run records and span files land in
``.bench_build/perfbench/results``. ``--workload all`` runs every workload,
prints every metric with its unit, and exits non-zero when any output check
failed.
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

sys.dont_write_bytecode = True
sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402

WORKLOADS = ("poll_live", "backfill", "ops_suite")
TAG = "PERFBENCH_RESULT "
# Spark on JDK 17 outside spark-submit needs the module opens spark-submit
# adds (org.apache.spark.launcher.JavaModuleOptions)
OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
         "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
         "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
         "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
         "java.base/sun.util.calendar"]
# a benchmark run must end within 180 s
RUN_LIMIT_S = 175


def run_one(a, cp: str, deadline: float) -> dict:
    cores = len(os.sched_getaffinity(0))
    work = build.OUT / f"run-{os.getpid()}-{a.workload}"
    results = build.OUT / "results"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    results.mkdir(parents=True, exist_ok=True)
    # a fixed heap: a growing one resizes through the first timed operations
    cmd = ["java", "-Xms3g", "-Xmx3g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={work / 'tmp'}",
           "-Dspark.ui.enabled=false"]
    for o in OPENS:
        cmd += ["--add-opens", f"{o}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace), "--cores", str(cores),
            "--work", str(work), "--out", str(results), "--corpus", str(build.HERE / "corpus")]
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True, start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=max(1.0, deadline - time.monotonic()))
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise RuntimeError(f"{a.workload} did not finish in time")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = [l[len(TAG):] for l in out.splitlines() if l.startswith(TAG)]
    if proc.returncode != 0 or not lines:
        raise RuntimeError(f"{a.workload} exited with {proc.returncode} and no result")
    res = json.loads(lines[-1])
    return fill_absent(res) if a.trace else res


def fill_absent(res: dict) -> dict:
    """Add the per-layer metrics BENCHMARK.json declares that this
    workload's traced run does not measure, at 0: the layer does no work in
    this workload (the ETL layers in ops_suite, the operator library in
    poll_live and backfill)."""
    spec = build.ROOT / "BENCHMARK.json"
    if spec.is_file():
        for m in json.loads(spec.read_text())["per_layer"]:
            res["metrics"].setdefault(m["name"], {"value": 0.0, "unit": m["unit"]})
    return res


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS + ("all",))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = p.parse_args()
    try:
        cp = build.build()
    except build.BuildError as e:
        print(f"build failed: {e}", file=sys.stderr)
        return 2
    if a.workload != "all":
        try:
            res = run_one(a, cp, time.monotonic() + RUN_LIMIT_S)
        except RuntimeError as e:
            print(e, file=sys.stderr)
            return 3
        print(json.dumps(res))
        return 0 if res["correct"] else 1
    ok = True
    for w in WORKLOADS:
        try:
            res = run_one(argparse.Namespace(**{**vars(a), "workload": w}), cp,
                          time.monotonic() + RUN_LIMIT_S)
        except RuntimeError as e:
            print(f"{w}: {e}")
            ok = False
            continue
        ok &= res["correct"]
        print(f"{w}: correct={res['correct']} attempted={res['attempted']} failed={res['failed']}")
        print(f"  failed_frac = {res['failed'] / res['attempted']:.6g} ratio")
        for k, m in sorted(res["metrics"].items()):
            print(f"  {k} = {m['value']:.6g} {m['unit']}")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
