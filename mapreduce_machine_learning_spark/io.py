"""Loaders for the driver-provided parquet testdata (FIXTURES.md).

Scale design: every table comes in through ``spark.read.parquet`` so the plan
bottoms out in a vectorized ``FileSourceScanExec`` with predicate pushdown and
column pruning — at 100 TB these scans are partition-pruned by the layout and
never read columns a query didn't ask for. No RDD ingestion paths.

Timestamp normalization (the load-bearing part): the driver regenerates the
testdata between rounds and the timestamp encoding has varied — parquet
``timestamp[ns]`` (which Spark only reads via
``spark.sql.legacy.parquet.nanosAsLong=true`` → arrives as a long) and
``timestamp[us]`` with ``isAdjustedToUTC=false`` (which Spark 4 infers as
``TIMESTAMP_NTZ``). Every load therefore goes through
``normalize_timestamps``: a ``bigint`` ``ts`` is truncated with **integer**
division (``ts DIV 1000`` — float division drifts ±1 µs from the DuckDB
oracle's ``ts::TIMESTAMP``), and any ``TIMESTAMP_NTZ`` column is cast to the
session-local ``TIMESTAMP`` type, which under the engine's fixed UTC session
timezone is value-preserving and keeps one stable output schema regardless of
how the parquet was written.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = "/root/testdata/sf0.001"


def prepare(spark: SparkSession) -> SparkSession:
    """Set session confs this engine depends on. All runtime-settable, so this
    is safe on a driver-owned session we didn't build."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    _ship_package(spark)
    return spark


# applicationIds already shipped to (or skipped for single-JVM masters)
_SHIPPED: set = set()


def _ship_package(spark: SparkSession) -> None:
    """Ship this package to executor Python workers — the self-served
    equivalent of ``spark-submit --py-files engine.zip``. Arrow UDF
    closures that reference package-level helpers are cloudpickled BY
    REFERENCE (module path), so they deserialize on an executor only if
    the package is importable there. Under any multi-JVM master
    (``local-cluster`` — the multi-executor test rig — standalone, YARN,
    k8s) the zip rides Spark's file server to every executor. Local
    masters skip it, and not because their workers inherit the driver's
    ``sys.path`` (they do not: they import from the JVM's working
    directory). The query kernels are self-contained by construction:
    closures that cloudpickle ships by value, helpers included
    (`determinism.np_r6`, `worker_prelude`), as
    tests/test_ann.py::test_probe_kernels_self_contained pins. The
    media-source kernels of ``sources/multimodal.py`` still call package
    codecs, so under a local master they need the JVM started from the
    checkout root. One zip per process, one ``addPyFile`` per
    application."""
    sc = spark.sparkContext
    if sc.applicationId in _SHIPPED:
        return
    if sc.master.startswith("local[") or sc.master == "local":
        _SHIPPED.add(sc.applicationId)
        return
    import tempfile
    import zipfile

    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    # always build fresh into a unique name: a pid- or path-keyed zip in
    # /tmp could be a STALE build from an earlier process (pids recycle,
    # /tmp persists), silently shipping old code under the driver's feet
    fd, zpath = tempfile.mkstemp(prefix="mrml_spark_pkg_", suffix=".zip")
    os.close(fd)
    with zipfile.ZipFile(zpath, "w", zipfile.ZIP_DEFLATED) as zf:
        for root, _dirs, files in os.walk(pkg_dir):
            if "__pycache__" in root:
                continue
            for fn in files:
                if fn.endswith(".py"):
                    full = os.path.join(root, fn)
                    rel = os.path.relpath(full, os.path.dirname(pkg_dir))
                    zf.write(full, rel)
    sc.addPyFile(zpath)
    # ADVICE r7: without cleanup these mkstemp zips accumulate in /tmp
    # forever on long-lived hosts running many multi-JVM sessions. The zip
    # must OUTLIVE the app (executors fetch it from the driver's file
    # server, which serves the original path, for as long as tasks run),
    # so removal is deferred to interpreter exit — by then every app this
    # process started has stopped.
    import atexit

    atexit.register(_unlink_quiet, zpath)
    _SHIPPED.add(sc.applicationId)


def _unlink_quiet(path: str) -> None:
    try:
        os.unlink(path)
    except OSError:
        pass


def _make_worker_prelude():
    def worker_prelude():
        """First statement of every Arrow kernel the engine ships.

        Before each task, PySpark's worker calls
        ``importlib.invalidate_caches()`` (``worker_util.setup_spark_files``),
        and on Python 3.11 every ``zipimporter`` then re-reads its whole
        archive; a worker holds one per ``pyspark.zip`` package path.
        Skipping those re-reads took a 1-row ``mapInPandas`` job from 110
        to 78 ms on a 4-vCPU host. Once per worker process this replaces
        ``zipimporter.invalidate_caches`` with a version that re-reads an
        archive only when its ``(st_ino, st_size, st_mtime_ns)`` differs
        from the last read, so a rewritten zip is still picked up. The install stamps every
        cached importer with its archive's current stat: it runs inside a
        task, just after that task's own ``invalidate_caches()`` re-read
        every archive. Outside a task (a kernel called on the driver) it
        does nothing, so the driver's import machinery is left alone."""
        import zipimport

        if getattr(zipimport.zipimporter.invalidate_caches, "stat_gated", False):
            return
        from pyspark import TaskContext

        if TaskContext.get() is None:
            return
        import os
        import sys

        reread = zipimport.zipimporter.invalidate_caches

        def stamp(archive):
            try:
                st = os.stat(archive)
            except OSError:
                return None
            return (st.st_ino, st.st_size, st.st_mtime_ns)

        def invalidate_caches(self):
            now = stamp(self.archive)
            if now is None or getattr(self, "_read_stamp", None) != now:
                reread(self)
                self._read_stamp = now

        invalidate_caches.stat_gated = True
        for finder in list(sys.path_importer_cache.values()):
            if isinstance(finder, zipimport.zipimporter):
                finder._read_stamp = stamp(finder.archive)
        zipimport.zipimporter.invalidate_caches = invalidate_caches

    return worker_prelude


# Built in a factory, so cloudpickle ships it by value inside every kernel
# that calls it and no Python worker imports this package for it.
worker_prelude = _make_worker_prelude()


# ``spark.read.parquet`` pays ~150 ms of driver-side file listing + footer
# schema inference PER CALL (measured at sf0.1) — pure plan-building overhead,
# re-paid by every query invocation. DataFrames are immutable, so handing every
# caller the same base relation is semantics-free; this is the moral equivalent
# of resolving a catalog table once instead of re-inferring an anonymous path.
# Keyed by applicationId so a new session (new JVM state, new confs) never sees
# a stale handle.
_TABLE_MEMO: dict = {}


def normalize_timestamps(df: DataFrame) -> DataFrame:
    """Map every timestamp column to the session-local TIMESTAMP type whatever
    the parquet encoding was (see module docstring). Plan-only work — the
    casts fold into the scan's projection, nothing materializes."""
    fixes = {}
    for col_name, dtype in df.dtypes:
        if col_name == "ts" and dtype == "bigint":
            # legacy nanosAsLong read: integer DIV is mandatory (docstring)
            fixes[col_name] = F.expr("timestamp_micros(ts DIV 1000)")
        elif dtype == "timestamp_ntz":
            # value-preserving under the fixed UTC session timezone
            fixes[col_name] = F.col(col_name).cast("timestamp")
    return df.withColumns(fixes) if fixes else df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one table with timestamp normalization applied."""
    key = (spark.sparkContext.applicationId, sf_dir, name)
    df = _TABLE_MEMO.get(key)
    if df is None:
        prepare(spark)
        df = normalize_timestamps(spark.read.parquet(f"{sf_dir}/{name}.parquet"))
        _TABLE_MEMO[key] = df
    return df


def load_all(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {t: load_table(spark, sf_dir, t) for t in TABLES}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register all tables as temp views (names match the DuckDB oracle's) so
    SQL-expressed queries read identical relations on both engines."""
    for t in TABLES:
        load_table(spark, sf_dir, t).createOrReplaceTempView(t)


def duckdb_connect(sf_dir: str):
    """A DuckDB connection with the same 10 views the driver registers
    (``__spark_entry__.py`` contract): table-named views over the parquet
    files, with ``events.ts`` cast ns→µs to mirror the Spark loader."""
    import duckdb

    con = duckdb.connect()
    for t in TABLES:
        path = f"{sf_dir}/{t}.parquet"
        if t == "events":
            con.execute(
                f"CREATE OR REPLACE VIEW events AS "
                f"SELECT * REPLACE (ts::TIMESTAMP AS ts) FROM read_parquet('{path}')"
            )
        else:
            con.execute(
                f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM read_parquet('{path}')"
            )
    return con
