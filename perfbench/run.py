"""The repository's benchmark: one command, one workload per run.

  python3 perfbench/run.py --workload serve_zipf --seed 1 --seconds 10 --trace 0

Builds the program from source (perfbench/build.py), generates the seeded
capture and request plan (perfbench/gen_capture.py) and the events table of
the catalog phase (perfbench/gen_events.py), runs the harness
(perfbench/src/perfbench/Serve.scala) in a private run directory that is
deleted on exit, checks the outputs, and prints as its last stdout line

  {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

with the end-to-end metrics (--trace 0) or the per-layer metrics
(--trace 1). The line before it records the host and the run summary.
See perfbench/README.md for the workloads and the metric map.
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
import gen_capture  # noqa: E402
import gen_events  # noqa: E402

WORKLOADS = ("serve_zipf", "serve_scan")
E2E_UNITS = {
    "setup_s": "s", "throughput_rps": "1/s", "miss_p50_ms": "ms",
    "miss_p95_ms": "ms", "restart_s": "s", "catalog_s": "s", "retained_heap_mb": "MB",
}
EVENTS = 20_000  # rows of the catalog phase's events table
HEAP = "3g"
DEADLINE_S = 170  # a run must end within 180 s
# JDK 17 module opens Spark needs outside spark-submit (as in build.sbt).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def layer_unit(name):
    for suffix, unit in (("_mb_per_s", "MB/s"), ("_us", "us"), ("_ms", "ms"), ("_s", "s"),
                         (".s", "s"), ("_mb", "MB"), ("_ratio", "ratio")):
        if name.endswith(suffix):
            return unit
    return "count"


def git_sha():
    try:
        r = subprocess.run(["git", "-C", build.ROOT, "rev-parse", "HEAD"],
                           capture_output=True, text=True, timeout=10)
        if r.returncode == 0:
            return r.stdout.strip()
    except OSError:
        pass
    return None


def cpu_ticks():
    """(steal, total) jiffies of all CPUs, or None where /proc/stat is absent."""
    try:
        with open("/proc/stat") as f:
            fields = [int(x) for x in f.readline().split()[1:]]
    except OSError:
        return None
    return fields[7] if len(fields) > 7 else 0, sum(fields)


def host_record(args, classes, harness):
    return {
        "git_sha": git_sha(),
        "source_digest": os.path.basename(classes).split("-", 1)[1],
        "nproc": len(os.sched_getaffinity(0)),
        "jvm_heap": HEAP,
        "spark": harness.get("spark"),
        "jdk": harness.get("java"),
        "seed": args.seed,
        "workload": args.workload,
    }


def run_harness(args, classes, run_dir, trace_out, started):
    jars = os.path.join(build.spark_jars(), "*")
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "local")
    os.makedirs(tmp)
    os.makedirs(local)
    opens = [a for p in ADD_OPENS for a in ("--add-opens", p + "=ALL-UNNAMED")]
    # -XX:-UsePerfData: no hsperfdata file outside the checkout.
    cmd = (["java", f"-Xmx{HEAP}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false"] + opens
           + ["-cp", classes + os.pathsep + jars, "perfbench.Serve", run_dir, str(args.seconds),
              str(len(os.sched_getaffinity(0))), str(args.trace), str(int(args.inject_fault)),
              trace_out])
    env = dict(os.environ, SPARK_LOCAL_DIRS=local)
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, env=env, text=True,
                            start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=max(10, DEADLINE_S - (time.time() - started)))
    except BaseException:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise
    if proc.returncode != 0:
        sys.exit(f"perfbench: harness exited with {proc.returncode}")
    lines = [l for l in out.splitlines() if l.startswith("{")]
    if not lines:
        sys.exit("perfbench: harness printed no result")
    return json.loads(lines[-1])


def main():
    started = time.time()
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--originals", type=int, default=5_000, help="capture size")
    p.add_argument("--inject-fault", action="store_true",
                   help="corrupt one response and one catalog result, to prove the checks count them")
    args = p.parse_args()

    # SIGTERM unwinds through the finally blocks like Ctrl-C does.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    classes = build.build()
    runs = os.path.join(build.BUILD, "runs")
    run_dir = os.path.join(runs, f"{args.workload}-{args.seed}-{os.getpid()}")
    trace_dir = os.path.join(build.BUILD, "traces")
    os.makedirs(trace_dir, exist_ok=True)
    trace_out = os.path.join(trace_dir, f"{args.workload}-{args.seed}.jsonl")
    shutil.rmtree(run_dir, ignore_errors=True)
    try:
        order = gen_events.generate(args.seed, EVENTS, run_dir)
        manifest = gen_capture.generate(args.workload, args.seed, args.originals,
                                        20_000, run_dir, catalog_order=order)
        ticks0 = cpu_ticks()
        res = run_harness(args, classes, run_dir, trace_out, started)
        ticks1 = cpu_ticks()
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    attempted, failed = res["attempted"], res["failed"]
    if args.trace:
        metrics = {k: {"value": v, "unit": layer_unit(k)} for k, v in res["layers"].items()}
    else:
        metrics = {k: {"value": res["e2e"][k], "unit": u} for k, u in E2E_UNITS.items()}
    # Share of CPU time the hypervisor gave to other guests during the run:
    # a slow run with high steal says the host, not the program, was slow.
    steal = (None if not (ticks0 and ticks1) else
             (ticks1[0] - ticks0[0]) / max(1, ticks1[1] - ticks0[1]))
    summary = {
        "host": dict(host_record(args, classes, res), cpu_steal_ratio=steal),
        "capture": manifest,
        "fail_ratio": failed / attempted,
        "errors": res["errors"],
        "requests": res["requests"], "hits": res["hits"], "misses": res["misses"],
        "setup_samples_s": res["setup_samples_s"],
        "e2e": res["e2e"],
        "trace_file": os.path.relpath(trace_out, build.ROOT) if args.trace else None,
    }
    print(json.dumps(summary))
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
