#!/usr/bin/env python3
"""Seeded benchmark of the engine's transcript pipeline: parse -> route ->
aggregate over generated transcript tables.

    python3 perfbench/run.py --workload ingest_clean --seed 1 --seconds 12 --trace 0

Run from the repository root. It builds the engine and the benchmark
(perfbench/build.py), generates the workload's table from the seed, runs the
job, checks every repetition against RefOracle's counts, and prints one JSON
object as its last line of output: the end-to-end metrics with --trace 0,
the per-layer metrics with --trace 1. The traced run also runs Pipeline.run's
stages (sinks, counter report, metrics) on the same table. The run's
artifact, with the input's realized properties and (traced) every span,
goes to perfbench/out/<workload>-seed<seed>-trace<t>.json. Exits 1 on a
wrong result, 2 when it cannot run.

Load is a closed loop: one client submits one Spark job at a time to
local[nproc]. Workloads, and why each exists:

  ingest_clean   parse -> Route.withSink -> per-(sink, role, window) counts
                 over clean log lines with small URI/UA/referer sets: the
                 parse fast tier, the memos and the codegen'd aggregate do
                 almost all the work
  ingest_mixed   the same job over a third prose turns, a quarter of the log
                 lines off the fast-tier shape and per-row URIs far past the
                 memo cap: the regex tier and the memo-miss path
"""

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path

sys.dont_write_bytecode = True  # keep the checkout free of __pycache__
sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402

# seconds the JVM phases of one run may take together, build excluded
RUN_LIMIT_S = 170
# metric name -> unit, as BENCHMARK.json at the repository root declares them
_BENCH = json.loads(Path("BENCHMARK.json").read_text())
UNITS = {m["name"]: m["unit"] for m in _BENCH["end_to_end"] + _BENCH["per_layer"]}
WORKLOADS = tuple(w["name"] for w in _BENCH["workloads"])
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def jvm_command(classpath, work):
    """The JVM flags the engine's sbt build forks Pipeline.main with."""
    opens = [a for p in ADD_OPENS for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    return ["java", *opens, "-XX:-UsePerfData",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Xmx{os.environ.get('SPARK_DRIVER_MEM', '4g')}",
            f"-XX:+{os.environ.get('SPARK_GRAFT_GC', 'UseParallelGC')}",
            f"-Djava.io.tmpdir={work / 'tmp'}",
            "-cp", classpath, "perfbench.Main"]


def run_phase(base, env, log, deadline, phase, *args):
    with open(log, "a") as err:
        err.write(f"\n=== {phase} {' '.join(args)}\n")
        err.flush()
        proc = subprocess.Popen([*base, phase, *args], stdout=err, stderr=err, env=env)
        try:
            code = proc.wait(timeout=max(1.0, deadline - time.monotonic()))
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    if code != 0:
        tail = Path(log).read_text().splitlines()[-40:]
        sys.stderr.write("\n".join(tail) + "\n")
        raise RuntimeError(f"phase {phase} exited with {code}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=_BENCH["run_seconds"])
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    classpath = build.build()
    cores = os.environ.get("SPARK_GRAFT_CPUS") or str(len(os.sched_getaffinity(0)))
    work = Path("perfbench/work") / f"{a.workload}-seed{a.seed}-trace{a.trace}-{os.getpid()}"
    out = Path("perfbench/out")
    out.mkdir(parents=True, exist_ok=True)
    (work / "tmp").mkdir(parents=True)
    env = dict(os.environ, SPARK_GRAFT_CPUS=cores, SPARK_LOCAL_DIRS=str((work / "spark-local").resolve()))
    base = jvm_command(classpath, work.resolve())
    log = work / "jvm.log"
    common = ["--workload", a.workload, "--seed", str(a.seed), "--dir", str(work.resolve())]
    deadline = time.monotonic() + RUN_LIMIT_S
    try:
        run_phase(base, env, log, deadline, "prepare", *common)
        props = json.loads((work / "expected.json").read_text())
        if a.trace:
            res_file = work / "trace.json"
            run_phase(base, env, log, deadline, "trace", *common, "--seconds", str(a.seconds), "--out", str(res_file))
            res = json.loads(res_file.read_text())
            artifact = {"spans": res.pop("spans")}
            metrics = {k: {"value": v, "unit": UNITS[k]} for k, v in sorted(res["metrics"].items())}
            artifact["samples"] = res
        else:
            res_file = work / "session.json"
            run_phase(base, env, log, deadline, "session", *common, "--seconds", str(a.seconds), "--out", str(res_file))
            res = json.loads(res_file.read_text())
            values = {
                "turns_per_s": props["turns"] / statistics.median(res["wide_s"]),
                "setup_s": res["setup_s"],
                "retained_heap_mb": res["retained_heap_mb"],
            }
            metrics = {k: {"value": v, "unit": UNITS[k]} for k, v in values.items()}
            artifact = {"samples": res}
        attempted, failed, errors = res["attempted"], res["failed"], res["errors"]
        result = {"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}
        artifact.update(workload=a.workload, seed=a.seed, seconds=a.seconds, trace=a.trace, cores=int(cores),
                        input=props, errors=errors, result=result)
        (out / f"{a.workload}-seed{a.seed}-trace{a.trace}.json").write_text(json.dumps(artifact, indent=1) + "\n")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    for e in errors[:10]:
        sys.stderr.write(f"mismatch: {e}\n")
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    # on SIGTERM, unwind so the running JVM is killed and waited for
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        sys.exit(main())
    except (RuntimeError, subprocess.SubprocessError, OSError) as e:
        sys.stderr.write(f"benchmark failed: {e}\n")
        sys.exit(2)
