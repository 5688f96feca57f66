"""CDC engine benchmark: one command, three workloads, oracle-checked.

    python3 cdcbench/run.py --workload backfill --seed 1 --seconds 10 --trace 0

Run from the repository root. The workload's inputs are generated from
``--seed``; set-up is Spark start, the median of ``SETUPS`` builds of the
starting state, and the full-size warm-up operations that finish JIT and
plan warm-up; then operations run in a closed loop for ``--seconds``.
After every operation the target is scanned and point-read, and both
results are compared with the generator's dict oracle. ``--trace 0`` prints the end-to-end metrics; ``--trace 1``
wraps the engine's layer entry points in spans (every other operation, or
every other maintenance cadence of ticks, to measure the tracing overhead
too) and prints the per-layer metrics. The
last line of stdout is one JSON object:
``{"correct", "attempted", "failed", "metrics": {name: {"value", "unit"}}}``.

Exits non-zero without a result line when the engine cannot be imported
or set-up fails. All scratch data lives under ``.cdcbench_work/`` in the
repository root and is removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import statistics
import subprocess
import sys
import time
import traceback

import layers
import spans
import workloads

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUPS = 3


def pin_environment(work: str) -> dict:
    """Pin cores, Spark memory, scratch dirs and the UI; return the record."""
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as fh:
        total_kib = int(fh.readline().split()[1])
    mem_g = max(1, min(4, total_kib // (4 * 1024 * 1024)))  # a quarter, at most 4g
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update(
        SPARK_GRAFT_CPUS=str(cpus),
        SPARK_GRAFT_DRIVER_MEM=f"{mem_g}g",
        SPARK_GRAFT_UI="false",
        SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
        TMPDIR=tmp,
        SPARK_SUBMIT_OPTS=" ".join(
            [
                os.environ.get("SPARK_SUBMIT_OPTS", ""),
                f"-Djava.io.tmpdir={tmp}",
                "-Dspark.ui.showConsoleProgress=false",
                "-XX:-UsePerfData",  # no hsperfdata file under /tmp
            ]
        ).strip(),
        SPARK_LAUNCHER_OPTS="-XX:-UsePerfData",
    )
    return {"nproc": cpus, "spark_mem": f"{mem_g}g"}


def git_sha() -> str:
    try:
        out = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True, timeout=10
        )
        return out.stdout.strip() or "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def steal_ticks() -> int:
    with open("/proc/stat") as fh:
        return int(fh.readline().split()[8])


def peak_rss_mb(spark) -> float:
    """Peak resident memory of the Spark JVM plus this Python process."""
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    jvm_kib = 0
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                jvm_kib = int(line.split()[1])
    return (jvm_kib + resource.getrusage(resource.RUSAGE_SELF).ru_maxrss) / 1024.0


def gc_ms(spark) -> int:
    beans = spark.sparkContext._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(beans.get(i).getCollectionTime() for i in range(beans.size()))


def probe(
    spark, result: dict, scans: int = 2, lookups: int = 3
) -> tuple[list[float], list[float], list[str]]:
    """Full-scan aggregates and point lookups on the target, checked
    against the oracle. Returns (scan seconds, lookup seconds, errors)."""
    from pyspark.sql import functions as F

    table, feed = result["table"], result["feed"]
    want = feed.checksum()
    errors = []
    scan_s = []
    for _ in range(scans):
        t0 = time.perf_counter()
        row = table.read(spark).agg(
            F.count(F.lit(1)),
            F.sum(F.crc32(F.concat_ws(":", "Id", F.col("versionnumber").cast("string")))),
        ).first()
        scan_s.append(time.perf_counter() - t0)
        got = (row[0], row[1] or 0)
        if got != want:
            errors.append(f"scan (rows, checksum) {got} != oracle {want}")
    lookup_s = []
    for _ in range(lookups):
        key, version = feed.lookup_key()
        t0 = time.perf_counter()
        hits = table.read(spark).where(F.col("Id") == key).select("versionnumber").collect()
        lookup_s.append(time.perf_counter() - t0)
        if [h[0] for h in hits] != [version]:
            errors.append(f"lookup {key}: {[h[0] for h in hits]} != oracle [{version}]")
    return scan_s, lookup_s, errors


def stop_spark(spark) -> None:
    """Stop the context, then the gateway JVM, and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    try:
        gateway.shutdown()
    except Exception:
        pass
    if proc is not None:
        try:
            proc.stdin.close()  # the gateway JVM exits on EOF
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


def measure(args, work: str, env: dict) -> dict:
    from arcane_stream_microsoft_synapse_link_spark.session import get_spark

    wl = workloads.WORKLOADS[args.workload](work, args.seed)
    wl.prepare()
    t0 = time.perf_counter()
    steal0 = steal_ticks()
    spark = get_spark("cdcbench")
    try:
        spark.sparkContext.setLogLevel("ERROR")
        env["spark"] = spark.version
        return run_workload(args, wl, spark, time.perf_counter() - t0, env)
    finally:
        stop_spark(spark)
        # host steal over the whole run, all CPUs: context for a slow run
        env["run_steal_s"] = round((steal_ticks() - steal0) / os.sysconf("SC_CLK_TCK"), 2)


def run_workload(args, wl, spark, spark_start_s: float, env: dict) -> dict:
    # set-up = Spark start + the median of SETUPS builds of the starting
    # state + the warm-up operations
    setup_s = []
    for _ in range(SETUPS):
        t0 = time.perf_counter()
        wl.setup(spark)
        setup_s.append(time.perf_counter() - t0)

    tracer = saved = None
    if args.trace:
        tracer = spans.Tracer(spark.sparkContext, f"cdcbench-{os.getpid()}")
        saved = spans.install(tracer, structured=wl.structured)

    ops: list[dict] = []
    failures: list[str] = []
    attempted = failed = 0
    storage = 0.0
    start = warm_start = time.perf_counter()
    warm_up_s = 0.0
    warm_up = wl.warm_up
    while True:
        traced = (tracer is not None and not warm_up
                  and (len(ops) // wl.trace_block) % 2 == 0)
        if traced:
            tracer.enabled = True
        # a warm-up operation is checked by one scan; a timed one also
        # gives the read probes their samples
        scans, lookups = (1, 0) if warm_up else (wl.probe_scans, wl.probe_lookups)
        attempted += 1 + scans + lookups
        try:
            with spans.root(tracer if traced else None, "bench.op"):
                res = wl.op(spark)
            errors = list(res["errors"])
            if not errors:
                with spans.root(tracer if traced else None, "bench.probe"):
                    scan_s, lookup_s, errors = probe(spark, res, scans, lookups)
        except Exception:
            errors = [traceback.format_exc(limit=8)]
        finally:
            if traced:
                tracer.enabled = False
        if errors:
            failed += 1
            failures.extend(errors)
            break
        if warm_up:
            # full-size operations that finish JIT and plan warm-up: checked,
            # timed as part of set-up, not as operations
            warm_up -= 1
            wl.finish_op(res)
            start = time.perf_counter()
            if not warm_up:
                warm_up_s = start - warm_start
                steal0, gc0 = steal_ticks(), gc_ms(spark)
            continue
        res.update(traced=traced, scan_s=scan_s, lookup_s=lookup_s)
        live = len(res["feed"].live)
        storage = workloads.du(res["table"].root) / live if live else 0.0
        ops.append(res)
        wl.finish_op(res)
        if wl.done(len(ops), time.perf_counter() - start, args.seconds):
            break
    window = time.perf_counter() - start

    for f in failures:
        print(f"cdcbench: operation failed: {f}", file=sys.stderr)
    out = {"attempted": attempted, "failed": failed, "correct": failed == 0 and len(ops) > 0}
    if tracer is not None:
        spans.uninstall(saved)
        jobs = spans.collect_jobs(spark.sparkContext, tracer.run_id)
        metrics = layers.per_layer(tracer, jobs, ops)
        n = max(1, len(ops))  # the window covers plain and traced operations
        metrics["session.gc_s"] = (gc_ms(spark) - gc0) / 1000.0 / n if ops else 0.0
        metrics["session.steal_s"] = (
            (steal_ticks() - steal0) / os.sysconf("SC_CLK_TCK") / n if ops else 0.0)
        metrics["session.peak_rss_mb"] = peak_rss_mb(spark)
        plain = [o["seconds"] for o in ops if not o["traced"]]
        traced_s = [o["seconds"] for o in ops if o["traced"]]
        metrics["trace.overhead_ratio"] = (
            statistics.median(traced_s) / statistics.median(plain) - 1.0
            if plain and traced_s else 0.0
        )
        out["metrics"] = {k: {"value": v, "unit": layers.UNITS[k]} for k, v in metrics.items()}
    else:
        secs = [o["seconds"] for o in ops] or [0.0]
        p50 = statistics.median(secs)
        rows = ops[0]["rows"] if ops else 0
        m = {
            "setup_s": (spark_start_s + statistics.median(setup_s) + warm_up_s, "s"),
            "op_p50_s": (p50, "s"),
            "rows_per_s": (rows / p50 if p50 else 0.0, "rows/s"),
            "read_scan_p50_s": (
                statistics.median([t for o in ops for t in o["scan_s"]] or [0.0]), "s"),
            "read_lookup_p50_s": (
                statistics.median([t for o in ops for t in o["lookup_s"]] or [0.0]), "s"),
            "storage_bytes_per_row": (storage, "B/row"),
            "ok_ratio": ((attempted - failed) / attempted, "ratio"),
        }
        out["metrics"] = {k: {"value": v, "unit": u} for k, (v, u) in m.items()}
    env.update(
        ops=len(ops), window_s=round(window, 3), spark_start_s=round(spark_start_s, 3),
        warm_up_s=round(warm_up_s, 3), setups_s=[round(s, 3) for s in setup_s],
        op_s=[round(o["seconds"], 4) for o in ops],
        scan_s=[round(t, 4) for o in ops for t in o.get("scan_s", [])],
        lookup_s=[round(t, 4) for o in ops for t in o.get("lookup_s", [])],
    )
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if args.workload not in workloads.WORKLOADS:
        print(f"cdcbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    # the JVM prints banners to fd 1: keep fd 1 on stderr for the whole run
    # and write the result line to the saved real stdout
    real_stdout = os.fdopen(os.dup(1), "w")
    os.dup2(2, 1)

    work = os.path.join(ROOT, ".cdcbench_work", f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        env = pin_environment(work)
        sys.path.insert(0, ROOT)
        try:
            import pyarrow
            import pyspark

            import arcane_stream_microsoft_synapse_link_spark.streaming.structured  # noqa: F401
        except ImportError as exc:
            print(f"cdcbench: cannot import the engine: {exc}", file=sys.stderr)
            return 2
        env.update(git_sha=git_sha(), pyspark=pyspark.__version__, pyarrow=pyarrow.__version__,
                   workload=args.workload, seed=args.seed, trace=args.trace)
        try:
            out = measure(args, work, env)
        except Exception:
            traceback.print_exc()
            print("cdcbench: set-up failed", file=sys.stderr)
            return 1
        real_stdout.write("cdcbench env: " + json.dumps(env) + "\n")
        real_stdout.write(json.dumps(out) + "\n")
        real_stdout.flush()
        return 0
    finally:
        shutil.rmtree(work, ignore_errors=True)
        parent = os.path.dirname(work)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)


if __name__ == "__main__":
    sys.exit(main())
