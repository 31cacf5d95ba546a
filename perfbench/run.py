"""graft's benchmark: one workload as one closed-loop client.

    python3 perfbench/run.py --workload batch_etl --seed 1 --seconds 15 --trace 0
    python3 perfbench/run.py --workload batch_etl --seed 1 --seconds 15 --trace 1

Run it from the repository root. It builds graft and the driver from
source (perfbench/build.py), generates the workload's inputs from the
seed, runs the JVM driver (perfbench.Main), checks the outputs, and prints
the metrics: the end-to-end ones with `--trace 0`, the per-layer ones with
`--trace 1`. The last line of standard output is one JSON object; the exit
code is 0 only if every output check passed.
"""

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import uuid

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, BENCH_DIR)

import build       # noqa: E402
import metrics     # noqa: E402
import workloads   # noqa: E402

GEN_REPEATS = 3
WARMUP_CYCLES = 3
JVM_HEAP = "3g"
JVM_TIMEOUT_S = 170
JVM_START_FAILURE_S = 15
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def run_jvm(classpath, plan, ws, share=True):
    """Run the driver; return its result record. The first run after a
    build dumps the classes it loaded into a class-data archive, and later
    runs map it, which shortens JVM and session start. A JVM that fails to
    start with the archive settings drops the archive and runs once more
    without."""
    archive = os.path.join(build.repo_root(), build.OUT_NAME, build.ARCHIVE)
    cds = ([f"-XX:SharedArchiveFile={archive}"] if os.path.exists(archive)
           else [f"-XX:ArchiveClassesAtExit={archive}"]) if share else []
    plan_path = os.path.join(ws, "plan.json")
    result_path = os.path.join(ws, "result.json")
    plan["launched_ms"] = int(time.time() * 1000)
    with open(plan_path, "w") as fh:
        json.dump(plan, fh)
    tmp = os.path.join(ws, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", *cds, "-XX:-UsePerfData", f"-Xmx{JVM_HEAP}", "-Xss4m", f"-Djava.io.tmpdir={tmp}",
           f"-Dlog4j2.configurationFile={os.path.join(BENCH_DIR, 'log4j2.properties')}",
           *[a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")],
           "-cp", classpath, "perfbench.Main", plan_path, result_path]
    # Spark's scratch space stays inside the workspace
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(ws, "spark-local"))
    started = time.perf_counter()
    with open(os.path.join(ws, "jvm.log"), "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, env=env)
        try:
            code = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise RuntimeError(f"driver did not finish within {JVM_TIMEOUT_S} s")
    failed_at_start = time.perf_counter() - started < JVM_START_FAILURE_S
    if (code != 0 or not os.path.exists(result_path)) and cds and failed_at_start:
        if os.path.exists(archive):
            os.remove(archive)
        return run_jvm(classpath, plan, ws, share=False)
    if code != 0 or not os.path.exists(result_path):
        tail = open(os.path.join(ws, "jvm.log")).read()[-3000:]
        raise RuntimeError(f"driver exited with {code}:\n{tail}")
    with open(result_path) as fh:
        return json.load(fh)


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=workloads.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    try:
        classpath = build.build(quiet=True)
    except build.BuildError as e:
        print(f"build failed: {e}", file=sys.stderr)
        return 2

    ws = os.path.join(build.repo_root(), build.OUT_NAME, "work", args.workload)
    shutil.rmtree(ws, ignore_errors=True)
    os.makedirs(ws)

    # set-up, part 1: input generation, repeated; the median counts
    gen_s = []
    for _ in range(GEN_REPEATS):
        t0 = time.perf_counter()
        extra, rows_per_cycle, sizes = workloads.prepare(args.workload, args.seed, ws)
        gen_s.append(time.perf_counter() - t0)

    plan = dict(extra, workload=args.workload, seconds=args.seconds, trace=args.trace,
                warmup_cycles=WARMUP_CYCLES, cores=cores(), workspace=ws,
                config_dir=os.path.join(ws, "configs"), run_id=uuid.uuid4().hex[:12])
    try:
        result = run_jvm(classpath, plan, ws)
    except RuntimeError as e:
        print(str(e), file=sys.stderr)
        return 1

    setup = result["setup"]
    setup_s = (statistics.median(gen_s) + setup["session_s"] + setup["prepare_s"]
               + statistics.median(setup["warmup_s"]))
    failures = workloads.check(args.workload, args.seed, ws, result)
    all_ops = workloads.run_ops(result)
    op_errors = [f"{o['name']} cycle {o['cycle']}: {o['error']}" for o in all_ops if not o["ok"]]
    attempted = len(all_ops) + len(failures)
    failed = len(op_errors) + len(failures)

    reported, notes = {}, {}
    try:
        amp = workloads.space_amp(args.workload, result)
        if args.trace:
            arrival_bytes = 0
            if args.workload == "incremental_commits":
                traced = set(result["traced_cycles"])
                rounds = {o["round"] for o in result["ops"] if o["cycle"] in traced}
                arrival_bytes = sum(os.path.getsize(os.path.join(
                    plan["arrivals_dir"], f"arrival-{r:05d}.parquet")) for r in rounds)
            reported = metrics.per_layer(result, arrival_bytes, amp)
            reported["jvm.rss_peak_mb"] = (result["rss_peak_mb"], "MiB")
        else:
            reported, notes = metrics.end_to_end(result, setup_s, rows_per_cycle, amp)
    except (ValueError, KeyError, IndexError, ZeroDivisionError) as e:
        # a run whose operations failed may leave nothing to measure
        failures.append(f"metrics: {type(e).__name__}: {e}")
        failed += 1
        attempted += 1

    print(f"workload {args.workload} seed {args.seed} trace {args.trace}: "
          f"{result['cycles']} cycles in {result['wall_s']:.2f} s, local[{plan['cores']}], "
          f"driver heap {JVM_HEAP}, inputs {json.dumps(sizes)}")
    print(f"  set-up: generation {statistics.median(gen_s):.2f} s (median of {GEN_REPEATS}), "
          f"session {setup['session_s']:.2f} s, prepare {setup['prepare_s']:.2f} s, "
          f"warm-up {statistics.median(setup['warmup_s']):.2f} s "
          f"(median of {len(setup['warmup_s'])} cycles)")
    for name, (value, unit) in reported.items():
        print(f"  {name:28s} {value:14.6g} {unit}")
    for name, (value, unit, note) in notes.items():
        print(f"  {name:28s} {value:14.6g} {unit} ({note}; reported, not bounded)")
    print(f"  ops_failed_frac {failed / attempted:.6g} ({failed} of {attempted})")
    for msg in op_errors + failures:
        print(f"  FAILED: {msg}")
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in reported.items()},
    }))
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
