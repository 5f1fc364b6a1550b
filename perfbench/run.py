"""graft's benchmark: one seeded, single-client, closed-loop workload per run.

    python3 perfbench/run.py --workload analytics_mix --seed 1 --seconds 10 --trace 0

Run from the root of a graft checkout. The first run compiles the engine and
the benchmark (perfbench/build.py). The run starts one JVM on
local[<nproc>], which makes the workload's inputs from the seed, sets up,
warms up, runs the closed loop for --seconds and checks every result after
the timed window. analytics_mix results are then checked against DuckDB
(perfbench/oracle.py). The last line of stdout is the result:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

--trace 0 reports the end-to-end metrics of BENCHMARK.json, --trace 1 the
per-layer ones (spans around the benchmark's calls into each module, plus
SparkListener/QueryExecutionListener counters). The line before it holds the
run's details: host size, loadavg before and after, set-up parts and, for
--trace 1, where the spans were written.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402
import oracle  # noqa: E402

WORKLOADS = ["analytics_mix", "ingest_stream", "graph_rank"]
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]
RUN_LIMIT_S = 175


def fail(msg):
    print("benchmark failed: " + msg, file=sys.stderr, flush=True)
    sys.exit(2)


def nproc():
    return len(os.sched_getaffinity(0))


def loadavg():
    with open("/proc/loadavg") as fh:
        return [float(x) for x in fh.read().split()[:3]]


def steal_s():
    """CPU seconds the hypervisor gave to other guests, summed over CPUs."""
    with open("/proc/stat") as fh:
        f = fh.readline().split()
    return int(f[8]) / os.sysconf("SC_CLK_TCK") if len(f) > 8 else 0.0


def heap():
    """Heap sized the way the repo's tier-1 test command sizes it: half of
    RAM, clamped to 2..8 GiB, unless SPARK_DRIVER_MEM is set."""
    if os.environ.get("SPARK_DRIVER_MEM"):
        return os.environ["SPARK_DRIVER_MEM"]
    try:
        with open("/proc/meminfo") as fh:
            kb = next(int(l.split()[1]) for l in fh if l.startswith("MemTotal:"))
        return "%dg" % min(8, max(2, kb // 2097152))
    except (OSError, StopIteration, ValueError):
        return "2g"


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--corrupt", default="",
                    help="comma-separated checks whose expected value is corrupted on "
                         "purpose (oracle, curate, pairs, labels, pagerank, hits, cc), "
                         "to show each check counts its operations as failed")
    args = ap.parse_args()
    root = os.getcwd()
    try:
        with open(os.path.join(root, "BENCHMARK.json")) as fh:
            spec = json.load(fh)
        cp = build.build()
    except Exception as e:  # noqa: BLE001
        fail(str(e))
    t_start = time.time()

    bd = build.build_dir()
    tag = "%s-seed%d-trace%d" % (args.workload, args.seed, args.trace)
    work = os.path.join(bd, "run", "%s-%d" % (tag, os.getpid()))
    logs = os.path.join(bd, "logs")
    for d in ("tmp", "local", "warehouse", "derby"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.makedirs(logs, exist_ok=True)
    trace_out = os.path.join(logs, tag + ".spans.jsonl")
    cpus = nproc()
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cpus))
    cmd = (["java", "-Xmx" + heap(), "-XX:-UsePerfData",
            "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
            "-Dspark.local.dir=" + os.path.join(work, "local"),
            "-Dspark.sql.warehouse.dir=" + os.path.join(work, "warehouse"),
            "-Dderby.system.home=" + os.path.join(work, "derby"),
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
           + ["-cp", cp, "graftbench.Main", "--workload", args.workload,
              "--seed", str(args.seed), "--seconds", str(args.seconds),
              "--trace", str(args.trace), "--work", os.path.join(work, "data"),
              "--trace-out", trace_out]
           + (["--corrupt", args.corrupt] if args.corrupt else []))
    load0 = loadavg()
    steal0 = steal_s()
    log_path = os.path.join(logs, tag + ".log")
    # A SIGTERM unwinds through the finally below, which stops the JVM.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    proc = None
    try:
        with open(log_path, "w") as log:
            proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log, env=env)
            out, _ = proc.communicate(timeout=max(30, RUN_LIMIT_S - (time.time() - t_start)))
        if proc.returncode != 0:
            with open(log_path) as fh:
                sys.stderr.write(fh.read()[-4000:])
            fail("engine run exited %d" % proc.returncode)
        lines = [l for l in out.decode().splitlines() if l.startswith("{")]
        if not lines:
            fail("engine run printed no result")
        res = json.loads(lines[-1])
        bad = []
        if args.workload == "analytics_mix":
            execs = res["details"].pop("executions")
            bad = oracle.mismatches(root, res["details"]["data_dir"], execs,
                                    corrupt="oracle" in args.corrupt.split(","))
    except subprocess.TimeoutExpired:
        fail("engine run exceeded %d s" % RUN_LIMIT_S)
    finally:
        if proc is not None and proc.poll() is None:
            proc.kill()
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)
    load1 = loadavg()
    steal1 = steal_s()

    attempted = int(res["attempted"])
    failed = int(res["errors"]) + int(res["wrong"]) + len(bad)
    if args.trace == 0:
        got = res["end_to_end"]
        metrics = {m["name"]: {"value": got[m["name"]], "unit": m["unit"]}
                   for m in spec["end_to_end"]}
    else:
        got = res["per_layer"]
        metrics = {m["name"]: {"value": got.get(m["name"], 0.0), "unit": m["unit"]}
                   for m in spec["per_layer"]}
    details = dict(res["details"], nproc=cpus, heap=heap(),
                   host_loadavg_before=load0, host_loadavg_after=load1,
                   host_steal_s=round(steal1 - steal0, 2),
                   window_s=res["window_s"], units=res["units"],
                   oracle_mismatches=bad, log=log_path,
                   spans=trace_out if args.trace else None)
    print(json.dumps({"details": details}))
    print(json.dumps({"correct": failed == 0 and attempted > 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
