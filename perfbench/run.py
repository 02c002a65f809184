"""Ed-Fi lake benchmark: one run of one workload, or every workload.

    python3 perfbench/run.py --workload full_refresh --seed 1 --seconds 6 --trace 0
    python3 perfbench/run.py --workload gold_queries --seed 1 --seconds 6 --trace 1
    python3 perfbench/run.py --workload all --seed 1 --seconds 6

A single-workload run starts one Spark session pinned to the host
(SPARK_GRAFT_CPUS = nproc, SPARK_GRAFT_DRIVER_MEM = a sixth of RAM, the
initial heap equal to it), generates its inputs from --seed, measures
at least one operation and about --seconds of work, checks every
output, and prints one `name value unit` line per metric, ungated
`wall.*` lines with the wall-clock times, a host fingerprint line, and
as its last line the JSON result
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the
metrics are the end-to-end ones; with --trace 1 the per-layer ones from
spans (trace file under .bench_results/). `--workload all` runs every
workload untraced and traced in child processes, prints both metric
sets and the tracing overhead (traced minus untraced), and exits
non-zero if any run was incorrect.

Scratch data lives under .bench_work/ in the checkout and is removed at
exit; Spark's local and temp directories are pointed there too.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import platform  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "api_to_amt_data_lake_spark"
WORKLOADS = ("full_refresh", "gold_queries")
STUDENTS = 2000  # sets the run time budget, see README.md

END_TO_END = {
    "setup_s": "s", "op_cpu_ms": "ms", "refresh_cpu_s": "s",
    "lake_mb": "MB", "jvm_peak_rss_mb": "MB",
}


def per_layer_units() -> dict[str, str]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)["per_layer"]}


def nproc() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def ram_bytes() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) * 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def pin_environment(work: str) -> dict[str, str]:
    """Point the program's Spark session at this host and this checkout
    through the environment variables it already reads."""
    cpus = nproc()
    mem_g = max(1, ram_bytes() // (6 << 30))
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    env = {
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": f"{mem_g}g",
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
        # -Xms = -Xmx: a growing G1 heap is sized by GC's share of wall
        # time, so heap size, GC work and peak RSS would follow host load
        "PYSPARK_SUBMIT_ARGS": (
            f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')} "
            f"--driver-java-options '-Djava.io.tmpdir={tmp} -Xms{mem_g}g' "
            "pyspark-shell"),
    }
    os.environ.update(env)
    tempfile.tempdir = tmp
    return env


def host_fingerprint(spark, env: dict[str, str]) -> dict:
    cpu = ""
    with open("/proc/cpuinfo") as f:
        for line in f:
            if line.startswith("model name"):
                cpu = line.split(":", 1)[1].strip()
                break
    import pyspark

    return {"cpu": cpu, "nproc": nproc(),
            "ram_gb": round(ram_bytes() / (1 << 30), 1),
            "loadavg": [round(x, 2) for x in os.getloadavg()],
            "java": spark._jvm.java.lang.System.getProperty("java.version"),
            "pyspark": pyspark.__version__, "python": platform.python_version(),
            "SPARK_GRAFT_CPUS": env["SPARK_GRAFT_CPUS"],
            "SPARK_GRAFT_DRIVER_MEM": env["SPARK_GRAFT_DRIVER_MEM"]}


def jvm_peak_rss_mb(spark) -> float:
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError("VmHWM missing for the Spark JVM")


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def run_one(args) -> int:
    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"no {PACKAGE} package in {ROOT}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".bench_work",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work)
    env = pin_environment(work)
    spark = None
    try:
        from api_to_amt_data_lake_spark.session import get_spark

        import workloads
        from spans import Tracer

        spark = get_spark("perfbench")
        tracer = Tracer(enabled=bool(args.trace))
        probe = workloads.Probe(spark)
        common = dict(spark=spark, work=work, seed=args.seed,
                      n_students=STUDENTS, seconds=args.seconds,
                      tracer=tracer, probe=probe, t_start=T_START,
                      workers=min(8, nproc()))
        if args.workload == "full_refresh":
            res = workloads.full_refresh(**common)
        else:
            res = workloads.gold_queries(**common, clients=nproc())
        host = host_fingerprint(spark, env)
        rss = jvm_peak_rss_mb(spark)
        if not res.op_ms:
            res.fail("no operation completed in the window")
        if args.trace:
            layers = dict(res.layers, **{"trace.spans": len(tracer.spans)})
            units = per_layer_units()
            metrics = {n: {"value": float(layers.get(n, 0.0)), "unit": u}
                       for n, u in units.items()}
            os.makedirs(os.path.join(ROOT, ".bench_results"), exist_ok=True)
            tracer.write(os.path.join(
                ROOT, ".bench_results",
                f"{args.workload}-seed{args.seed}-spans.jsonl"))
        else:
            values = {
                "setup_s": res.setup_s,
                "op_cpu_ms": statistics.median(res.op_cpu_ms or [0.0]),
                "refresh_cpu_s": statistics.median(res.refresh_cpu_s or [0.0]),
                "lake_mb": res.lake_mb,
                "jvm_peak_rss_mb": rss,
            }
            metrics = {n: {"value": v, "unit": END_TO_END[n]}
                       for n, v in values.items()}
        # wall-clock figures: printed, not gated (see README.md)
        wall = {
            "wall.op_p50_ms": (statistics.median(res.op_ms or [0.0]), "ms"),
            "wall.ops_per_s": (len(res.op_ms) / res.window_s
                               if res.window_s > 0 else 0.0, "1/s"),
            "wall.refresh_s": (statistics.median(res.refresh_s or [0.0]), "s"),
        }
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))  # only if no other run uses it
        except OSError:
            pass

    for name, m in metrics.items():
        print(f"{name} {m['value']:.6g} {m['unit']}")
    for name, (value, unit) in wall.items():
        print(f"{name} {value:.6g} {unit}")
    print("size " + json.dumps(res.size))
    print("host " + json.dumps(host))
    print(f"samples {len(res.op_ms)}")
    for e in res.errors[:20]:
        print(f"error {e}")
    print(json.dumps({"correct": res.failed == 0, "attempted": res.attempted,
                      "failed": res.failed, "metrics": metrics}))
    return 0


def run_all(args) -> int:
    """Every workload, untraced then traced, in child processes."""
    ok = True
    for wl in WORKLOADS:
        done, untraced_ms = set(), 0.0
        for trace in (0, 1):
            cmd = [sys.executable, os.path.abspath(__file__), "--workload", wl,
                   "--seed", str(args.seed), "--seconds", str(args.seconds),
                   "--trace", str(trace)]
            out = subprocess.run(cmd, cwd=ROOT, capture_output=True,
                                 text=True, check=False)
            lines = out.stdout.strip().splitlines()
            if out.returncode != 0 or not lines:
                print(f"{wl} trace={trace}: exit {out.returncode}\n"
                      f"{out.stderr[-2000:]}")
                ok = False
                continue
            result = json.loads(lines[-1])
            done.add(trace)
            if trace == 0:
                untraced_ms = next(float(line.split()[1]) for line in lines
                                   if line.startswith("wall.op_p50_ms "))
            ok &= result["correct"]
            print(f"== {wl} trace={trace} correct={result['correct']} "
                  f"attempted={result['attempted']} failed={result['failed']}")
            for line in lines[:-1]:
                print(f"   {line}")
        if len(done) == 2:
            # the traced run prints per-layer metrics only; its operation
            # times come from its span file
            print(f"   trace.overhead: traced-minus-untraced op time "
                  f"{trace_overhead(wl, args, untraced_ms):+.1f} ms")
    return 0 if ok else 1


def trace_overhead(wl: str, args, untraced_ms: float) -> float:
    """Median traced op duration (from the span file) minus the untraced
    run's wall.op_p50_ms."""
    path = os.path.join(ROOT, ".bench_results",
                        f"{wl}-seed{args.seed}-spans.jsonl")
    name = "op.full_refresh" if wl == "full_refresh" else "op.query"
    with open(path) as f:
        ops = [json.loads(line) for line in f]
    traced = [(s["end"] - s["start"]) * 1000 for s in ops if s["name"] == name]
    return statistics.median(traced) - untraced_ms


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS + ("all",))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args()
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    if args.workload == "all":
        return run_all(args)
    return run_one(args)


if __name__ == "__main__":
    sys.exit(main())
