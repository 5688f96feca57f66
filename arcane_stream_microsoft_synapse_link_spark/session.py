"""SparkSession factory tuned for the engine.

Defaults are chosen for scale-out behavior even when running on
``local[N]``: AQE on (runtime coalesce + skew-join handling), explicit
broadcast threshold for dimension tables, Arrow for any pandas-UDF exchange,
and UTC session time to keep timestamp semantics engine-portable.

Python workers skip Spark's source-only zips. Spark puts
``$SPARK_HOME/python/lib/pyspark.zip`` and the py4j source zip first on
every Python worker's ``PYTHONPATH``; the zips hold no bytecode, so each
fresh worker (UDF daemon, data-source planner, and the per-query
streaming-source runner a readStream starts) compiles pyspark from
source: on 4 vCPUs, importing the streaming-source runner took 1.4-1.8 s
from the zip against 0.4 s from an installed pyspark with cached
bytecode. When the worker interpreter has that same pyspark version
installed, :func:`get_spark` points ``PYSPARK_PYTHON`` at a small
launcher that drops the two zips from ``PYTHONPATH`` and execs the
interpreter Spark would have used; otherwise Spark's default stays.
"""

from __future__ import annotations

import atexit
import glob
import os
import re
import shlex
import subprocess
import tempfile
import zipfile

from pyspark import SparkContext
from pyspark.sql import SparkSession

# Runtime-settable confs we also re-assert on sessions we did not create
# (the verification driver passes us its own session).
RUNTIME_CONF = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    # parallelismFirst deliberately stays at its default (true).  Spark's
    # docs recommend false-plus-advisory-size for production clusters, and
    # r15 A/B-tested exactly that (advisory 64m): 20-entry 7-run medians
    # REGRESSED across the board (embedding_near_dup 2.03→3.72 s, lsh_eval
    # 2.51→3.10, span_dedup 1.32→1.77 at zero steal) — at bench scale every
    # exchange is ~MB, so honoring the advisory size collapses post-shuffle
    # stages to ONE task and serializes work that is genuinely parallel
    # (banded self-joins, explode+agg chains).  See OPTIMIZATION_r15.md §2.
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    # dimension tables (region/nation/supplier/part at test SF) broadcast;
    # at 100 TB the big facts never qualify, so this is safe at scale.
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # older driver corpora wrote events.ts as INT64 TIMESTAMP(NANOS) which
    # vanilla Spark rejects; read as long and convert to µs timestamp in the
    # catalog (matches DuckDB's ns→µs truncation). Harmless for the current
    # µs corpus — the catalog also normalizes the TIMESTAMP_NTZ reading it
    # produces (catalog._fix_nanos).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Effective only if asserted before the process's first codegen (the
    # compiled-class cache is a process-static sized at first use); tune()
    # on a fresh external session gets the full benefit, a late tune() is
    # a harmless no-op. See get_spark() for the rationale.
    "spark.sql.codegen.cache.maxEntries": "2000",
}


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


def get_spark(app_name: str = "arcane-spark", shuffle_partitions: int | None = None) -> SparkSession:
    cpus = default_parallelism()
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or max(cpus, 8)))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g"))
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
        # UI off by default; SPARK_GRAFT_UI=true flips it on for profiling
        # tools that read per-stage task metrics over the local REST API
        .config("spark.ui.enabled", os.environ.get("SPARK_GRAFT_UI", "false"))
        # fair scheduling: concurrent jobs (multi-entity streams, parallel
        # backfills) share executors instead of queueing FIFO
        .config("spark.scheduler.mode", "FAIR")
        # ContextCleaner frees shuffle files / broadcast blocks only when
        # the DRIVER garbage-collects their weak references — and a large,
        # mostly-idle driver heap can go far longer than the default 30 min
        # between GCs. A resident multi-query session (the runner, a bench
        # sweep) then accumulates hundreds of retired queries' shuffle
        # state: measured on the 122-entry bench as 3-10× slowdowns in the
        # run's back half with untouched plans. 5 min bounds the debt.
        .config("spark.cleaner.periodicGC.interval", "5min")
        # The generated-class cache defaults to 100 entries; a resident
        # session serving a large query surface (the 172-entry sweep, a
        # long-lived runner) evicts every compiled whole-stage between
        # repeats and pays Janino again per query — measured ~2 s per
        # decimal-heavy plan (tpch_q01: 2.8 s recompiled vs 0.73 s warm).
        # 2000 classes is a few hundred MB of metaspace at worst, nothing
        # against a 48 g driver, and matches how a production session with
        # many registered views actually runs.
        .config("spark.sql.codegen.cache.maxEntries", "2000")
    )
    for k, v in RUNTIME_CONF.items():
        builder = builder.config(k, v)
    _use_worker_launcher()
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    _ship_package(spark)  # pandas-UDF closures must unpickle on workers
    return spark


# Drops exactly Spark's two zips from PYTHONPATH (globbing off, every
# other entry and variable untouched), then execs the interpreter.
_LAUNCHER_SH = """#!/bin/sh
set -f
path= sep=
IFS=:
for entry in $PYTHONPATH; do
  case $entry in
    */python/lib/pyspark.zip | */python/lib/py4j-*-src.zip) ;;
    *) path=$path$sep$entry; sep=: ;;
  esac
done
unset IFS
PYTHONPATH=$path
export PYTHONPATH
exec {python} "$@"
"""

# Run through the launcher: prints the version.py of the pyspark the
# interpreter resolves, if that is a plain file (not inside a zip) and
# py4j resolves too.
_PROBE = (
    "import importlib.util as u, os\n"
    "s = u.find_spec('pyspark')\n"
    "if s and s.origin and os.path.isfile(s.origin) and u.find_spec('py4j'):\n"
    "    print(open(os.path.join(os.path.dirname(s.origin), 'version.py')).read())\n"
)

_VERSION_RE = re.compile(r"""__version__(?:\s*:\s*str)?\s*=\s*["']([^"']+)["']""")

# the launcher this process wrote, once it is PYSPARK_PYTHON
_launcher: str | None = None


def _use_worker_launcher() -> None:
    """Before a SparkContext starts, point ``PYSPARK_PYTHON`` (read once,
    at context start, as the ``pythonExec`` of every UDF, data source and
    stream source) at a launcher that starts the same interpreter without
    Spark's pyspark and py4j zips on ``PYTHONPATH`` — when that is safe:
    the interpreter, without the zips, resolves a file-system pyspark (and
    py4j) of the zip's version. Otherwise, with no zip, or with a context
    already running, nothing changes."""
    global _launcher
    if SparkContext._active_spark_context is not None:
        return
    python = os.environ.get("PYSPARK_PYTHON", "python3")
    home = os.environ.get("SPARK_HOME")
    if python == _launcher or not home:
        return  # a context re-created in this process, or no Spark zips
    launcher = _make_launcher(python, os.path.join(home, "python", "lib"))
    if launcher:
        _launcher = os.environ["PYSPARK_PYTHON"] = launcher


def _make_launcher(python: str, lib: str) -> str | None:
    zips = [os.path.join(lib, "pyspark.zip")] + glob.glob(os.path.join(lib, "py4j-*-src.zip"))
    try:
        with zipfile.ZipFile(zips[0]) as zf:
            want = _VERSION_RE.search(zf.read("pyspark/version.py").decode())
    except (OSError, KeyError, zipfile.BadZipFile):
        return None
    # same directory as the _ship_package zip; mkstemp: unpredictable
    # name, created exclusively
    fd, path = tempfile.mkstemp(prefix="arcane_pyexec_", suffix=".sh")
    with os.fdopen(fd, "w") as fh:
        fh.write(_LAUNCHER_SH.format(python=shlex.quote(python)))
    os.chmod(path, 0o700)
    env = dict(os.environ, PYTHONPATH=os.pathsep.join(zips + [os.environ.get("PYTHONPATH", "")]))
    try:
        out = subprocess.run(
            [path, "-c", _PROBE], env=env, capture_output=True, text=True, timeout=60
        ).stdout
    except (OSError, subprocess.SubprocessError):
        out = ""
    got = _VERSION_RE.search(out)
    if not (want and got and got.group(1) == want.group(1)):
        os.unlink(path)
        return None
    atexit.register(lambda: os.path.exists(path) and os.unlink(path))
    return path


_SHIPPED_APPS: set[str] = set()


def _ship_package(spark: SparkSession) -> None:
    """Make this package importable on Python workers.

    An external driver (the verification harness, a user script) may create
    its session from a cwd where this package isn't on the default
    PYTHONPATH; cloudpickled pandas UDFs then fail to unpickle on workers.
    Shipping a zip via ``addPyFile`` fixes that for any session, local or
    cluster, and is a no-op when already shipped.
    """
    sc = spark.sparkContext
    app = sc.applicationId
    if app in _SHIPPED_APPS:
        return
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    root = os.path.dirname(pkg_dir)
    zpath = os.path.join(tempfile.gettempdir(), f"arcane_pkg_{os.getpid()}.zip")
    with zipfile.ZipFile(zpath, "w") as zf:
        for dirpath, _, files in os.walk(pkg_dir):
            for f in sorted(files):
                if f.endswith(".py"):
                    full = os.path.join(dirpath, f)
                    zf.write(full, os.path.relpath(full, root))
    try:
        sc.addPyFile(zpath)
    except Exception as exc:  # e.g. same file re-added under an unexpected session state
        import warnings

        # surfacing this matters: a swallowed failure resurfaces later as an
        # opaque worker-side ModuleNotFoundError in the first pandas-UDF stage
        warnings.warn(f"could not ship {zpath} to executors: {exc!r}", stacklevel=2)
    _SHIPPED_APPS.add(app)


def tune(spark: SparkSession) -> SparkSession:
    """Re-assert runtime-settable confs on an externally created session."""
    for k, v in RUNTIME_CONF.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # static conf on a running session; keep going
    _ship_package(spark)
    return spark


def local_df(spark: SparkSession, rows, schema):
    """Build a TINY literal DataFrame as an Arrow LocalRelation — no job.

    ``spark.createDataFrame(list, schema)`` parallelizes the rows across
    ``defaultParallelism`` slices, so even a 16-row centroid table costs a
    32-task job per materialization (~0.55 s measured on local[32]; 1.4 s
    with an ``orderBy`` on top, which adds a range-sampling job).  Routing
    through pandas takes the Arrow conversion path instead, which plans a
    driver-side ``LocalTableScan`` — measured 0.03 s, and a later
    ``collect()`` never leaves the driver.  Operator lifecycles that
    round-trip small state through DataFrames (IVF centroid iterations,
    PQ codebooks, media fixtures, merge tables) call this instead.

    The Arrow path rejects some inputs (mixed-type object columns); on any
    failure this falls back to the classic parallelize path, so callers
    lose only the speedup, never correctness."""
    import pandas as pd
    from pyspark.sql.types import StructType
    from pyspark.sql.types import _parse_datatype_string  # public-ish, stable

    def _has_nan(v) -> bool:
        if isinstance(v, float):
            return v != v
        if isinstance(v, (list, tuple)):
            return any(_has_nan(x) for x in v)
        return False

    try:
        # the Arrow path reads float NaN as a MISSING marker (-> NULL),
        # silently changing data the classic path preserves; NaN-bearing
        # rows take the classic parallelize path instead
        if any(_has_nan(v) for r in rows for v in r):
            raise ValueError("NaN present: Arrow would nullify it")
        st = _parse_datatype_string(schema) if isinstance(schema, str) else schema
        if not isinstance(st, StructType):
            raise TypeError(f"need a struct schema, got {st}")
        pdf = pd.DataFrame([tuple(r) for r in rows], columns=st.names)
        return spark.createDataFrame(pdf, schema=st)
    except Exception:
        return spark.createDataFrame(rows, schema)


def release_checkpoint(df) -> None:
    """Drop the storage blocks behind a ``localCheckpoint()``-ed frame.

    ``DataFrame.unpersist()`` is a no-op for checkpoint blocks — they are
    pinned at the RDD layer inside the LogicalRDD plan node, not in the
    DataFrame-level cache registry — so a long-lived session leaks one
    checkpoint's worth of storage per call site unless released through
    the underlying RDD."""
    if df is None:
        return
    try:
        df._jdf.queryExecution().logical().rdd().unpersist(False)
    except Exception:
        pass  # non-checkpointed frame or internal API drift: no-op
