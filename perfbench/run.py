"""dbtransfer_spark benchmark.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root.  One process, one Spark session on
``local[nproc]``.  The inputs are the fixture tables under
``perfbench/data/<scale>/`` (``--scale``, default ``sf0.01``), read in
place; everything a run writes goes to ``.perfbench_work/`` and is removed
at exit.  The workload is set up, warmed with untimed passes, and then
run in closed-loop passes until ``--seconds`` have passed (at least one
pass).  Every transfer pass's destination is checked after the
measurement, once peak memory has been read; each query's result is
checked in the warm-up pass (see ``workloads.py``).

The last line of standard output is one JSON object: ``correct``,
``attempted``, ``failed`` and ``metrics``.  With ``--trace 0`` the metrics
are the end-to-end ones of ``BENCHMARK.json``, and with ``--trace 1`` the
per-layer ones.  A traced run alternates untraced and traced passes and
reports the ratio of their medians as ``trace.overhead_ratio``.  The line
before it (``# detail ...``) records the host, the versions, the seed, the
canary bracket, the CPU steal share and the raw pass times.

Workloads, metrics and the layer each per-layer metric should move are
described in ``workloads.py`` and ``baseline.json``.
"""

from __future__ import annotations

import argparse
import glob
import hashlib
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback
from collections import defaultdict

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BASELINE_ROWS_PER_S = 10_000  # BASELINE.md's reference throughput
SETUP_REPEATS = 3
# A small fixed heap: the inputs are small, it fits any host (the program's
# default is 16g), and a capped heap keeps peak RSS steady where G1's
# adaptive heap growth would make it vary run to run.
DRIVER_MEM = "1g"
MAX_MEASURE_S = 120  # give up when no pass completes within this


def _process_age() -> float:
    """Seconds since this process started (from /proc)."""
    with open("/proc/self/stat") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


PROCESS_START = time.perf_counter() - _process_age()


def _vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def _descendants(pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for stat in glob.glob("/proc/[0-9]*/stat"):
        try:
            with open(stat) as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
            children.setdefault(int(fields[1]), []).append(int(stat.split("/")[2]))
        except (OSError, IndexError, ValueError):
            continue
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _cpu_ticks() -> tuple[int, int]:
    """(stolen, total) CPU ticks of the host since boot, from /proc/stat."""
    with open("/proc/stat") as fh:
        fields = [int(x) for x in fh.readline().split()[1:]]
    return fields[7], sum(fields[:8])


def _host() -> dict:
    with open("/proc/meminfo") as fh:
        mem_kb = int(next(line for line in fh if line.startswith("MemTotal:")).split()[1])
    return {"nproc": len(os.sched_getaffinity(0)), "ram_gb": round(mem_kb / 1024**2, 1)}


def _source_identity() -> dict:
    """The git commit when there is one, and always a digest of the
    program's sources (a benchmark checkout is not a git repository)."""
    h = hashlib.sha256()
    for path in sorted(glob.glob(os.path.join(ROOT, "dbtransfer_spark", "**", "*.py"), recursive=True)):
        with open(path, "rb") as fh:
            h.update(os.path.relpath(path, ROOT).encode() + b"\0" + fh.read())
    try:
        commit = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True, timeout=10,
        ).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        commit = None
    return {"git_commit": commit, "source_sha256": h.hexdigest()[:16]}


class Context:
    def __init__(self, seed: int, host: dict, work: str, scale: str = "sf0.01"):
        self.seed = seed
        self.scale = scale
        self.work = work
        self.nproc = host["nproc"]
        self.workers = min(4, self.nproc)
        self.spark = None
        self.tracer = None
        self.session_s = 0.0
        self.layout_s: list[float] = []
        self.counters: dict[str, float] = defaultdict(float)


def _start_spark(ctx: Context, driver_mem: str):
    os.environ["SPARK_GRAFT_CPUS"] = str(ctx.nproc)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = driver_mem
    tmp = os.path.join(ctx.work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(ctx.work, "spark-local")
    # Spark's Python workers import the connection factory and the program.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT, HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    import tempfile

    tempfile.tempdir = tmp
    from dbtransfer_spark.session import get_spark

    return get_spark(
        app_name="dbtransfer-perfbench",
        extra_conf={
            "spark.sql.warehouse.dir": os.path.join(ctx.work, "warehouse"),
            # No hsperfdata file in the system temp directory: a run
            # writes only inside its checkout.
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        },
    )


def _stop_spark(spark) -> None:
    """Stop the session and the JVM, and wait until the JVM and its
    Python workers have exited."""
    gateway = spark.sparkContext._gateway
    proc = gateway.proc
    kids = _descendants(proc.pid)
    spark.stop()
    gateway.shutdown()
    proc.stdin.close()  # the gateway JVM exits when its stdin closes
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    deadline = time.monotonic() + 30
    while kids and time.monotonic() < deadline:
        kids = [k for k in kids if os.path.exists(f"/proc/{k}")]
        time.sleep(0.1)
    for k in kids:
        try:
            os.kill(k, 9)
        except OSError:
            pass


def _geomean(values: list[float]) -> float:
    return math.exp(sum(math.log(v) for v in values) / len(values))


def _end_to_end(passes, setup_s: float, rss_mb: float) -> dict:
    names = passes[0].ops.keys()
    op_medians = [statistics.median(p.ops[n] for p in passes if n in p.ops) for n in names]
    return {
        "pass_s": {"value": statistics.median(p.wall for p in passes), "unit": "s"},
        "op_geomean_s": {"value": _geomean(op_medians), "unit": "s"},
        "setup_s": {"value": setup_s, "unit": "s"},
        "peak_rss_mb": {"value": rss_mb, "unit": "MB"},
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", default="sf0.01", help="fixture scale under perfbench/data/")
    args = ap.parse_args(argv)

    for needed in ("dbtransfer_spark/__init__.py", "__spark_entry__.py", "bench.py",
                   "tools/canary.py", "tools/diffcheck.py"):
        if not os.path.isfile(os.path.join(ROOT, needed)):
            print(f"perfbench: {needed} not found under {ROOT}; run from a full checkout",
                  file=sys.stderr)
            return 2
    sys.path.insert(0, ROOT)
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    if args.scale not in workloads.SCALES:
        print(f"perfbench: unknown scale {args.scale!r}; choose from {workloads.SCALES}",
              file=sys.stderr)
        return 2

    host = _host()
    work_root = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(work_root, f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    ctx = Context(args.seed, host, work, args.scale)
    spark = None
    try:
        t = time.perf_counter()
        spark = ctx.spark = _start_spark(ctx, DRIVER_MEM)
        ctx.session_s = time.perf_counter() - t
        session_ready = time.perf_counter() - PROCESS_START

        from tools import canary

        wl = workloads.WORKLOADS[args.workload](ctx)
        prep = []
        for i in range(SETUP_REPEATS):
            t = time.perf_counter()
            wl.prepare(i)
            prep.append(time.perf_counter() - t)
        warm = wl.warm()
        attempted, failed, warm_s = warm.attempted, warm.failed, warm.wall
        setup_s = session_ready + statistics.median(prep) + warm_s

        canary_before = canary.probe(spark)

        passes: list = []
        traced_passes: list = []
        tracer = None
        if args.trace:
            from spans import Tracer

            tracer = Tracer()

        def one_pass(label: str):
            nonlocal attempted, failed
            try:
                return [wl.run_pass(label)]
            except Exception:  # a failed pass is counted, and the run goes on
                traceback.print_exc()
                attempted, failed = attempted + 1, failed + 1
                return []

        steal0 = _cpu_ticks()
        start = time.perf_counter()
        # A traced run alternates untraced and traced passes, so that the
        # tracing overhead is compared at the same stage of JIT warm-up.
        while time.perf_counter() - start < args.seconds or (
            (not passes or (tracer and not traced_passes))
            and time.perf_counter() - start < MAX_MEASURE_S
        ):
            if tracer and len(traced_passes) < len(passes):
                ctx.tracer = tracer
                workloads.install_layers(tracer)
                try:
                    traced_passes += one_pass(f"t{len(traced_passes)}")
                finally:
                    tracer.uninstall()
                    ctx.tracer = None
            else:
                passes += one_pass(f"p{len(passes)}")
        if not passes or (tracer and not traced_passes):
            raise RuntimeError("no pass completed")
        if tracer:
            tracer.dump(os.path.join(work_root, f"spans-{args.workload}-{args.seed}.jsonl"))
        steal1 = _cpu_ticks()
        canary_after = canary.probe(spark)
        # Read before the checks, which pull outputs into this process.
        rss = {"driver": _vm_hwm_mb("self"), "jvm": _vm_hwm_mb(spark.sparkContext._gateway.proc.pid)}
        rss_mb = rss["driver"] + rss["jvm"]

        all_passes = passes + traced_passes
        attempted += sum(p.attempted for p in all_passes)
        failed += sum(p.failed for p in all_passes)
        t = time.perf_counter()
        oks = wl.check([warm] + all_passes)
        check_s = time.perf_counter() - t
        attempted += len(oks)
        failed += oks.count(False)
        import pyspark

        e2e = _end_to_end(passes, setup_s, rss_mb)
        pass_s = e2e["pass_s"]["value"]
        rows = statistics.median(p.rows for p in passes)
        detail = {
            "workload": args.workload,
            "seed": args.seed,
            "scale": args.scale,
            "seconds": args.seconds,
            "trace": args.trace,
            **host,
            "driver_mem": DRIVER_MEM,
            "pyspark": pyspark.__version__,
            "python": sys.version.split()[0],
            **_source_identity(),
            "canary_bracket_s": [canary_before, canary_after],
            "cpu_steal_share": (steal1[0] - steal0[0]) / max(1, steal1[1] - steal0[1]),
            "peak_rss_mb": rss,
            "setup": {"session_s": session_ready, "prepare_s": prep, "warm_s": warm_s},
            "check_s": check_s,
            "pass_s": [p.wall for p in passes],
            "op_median_s": {n: statistics.median(p.ops[n] for p in passes if n in p.ops)
                            for n in passes[0].ops},
            "rows": rows,
            "rows_per_s": rows / pass_s if rows else None,
            "rows_per_s_vs_baseline": rows / pass_s / BASELINE_ROWS_PER_S if rows else None,
            "failed_ratio": failed / attempted,
        }
        if args.trace:
            metrics, self_s = workloads.layer_metrics(ctx, tracer, traced_passes)
            detail["layer_self_s_per_pass"] = self_s
            overhead = statistics.median(p.wall for p in traced_passes) / pass_s
            metrics["trace.overhead_ratio"] = overhead
            detail["traced_pass_s"] = [p.wall for p in traced_passes]
            units = _units()
            metrics = {k: {"value": v, "unit": units[k]} for k, v in metrics.items()}
        else:
            metrics = e2e
    finally:
        if spark is not None:
            _stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)

    print("# detail " + json.dumps(detail))
    with open(os.path.join(work_root, "runs.jsonl"), "a") as fh:
        fh.write(json.dumps({**detail, "metrics": metrics}) + "\n")
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }))
    return 0


def _units() -> dict[str, str]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}


if __name__ == "__main__":
    sys.exit(main())
