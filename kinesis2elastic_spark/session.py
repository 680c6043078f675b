"""SparkSession factory tuned for this engine.

Scale posture: these configs are chosen so the same logical plans work on
local[32] for tests and on a 1000-executor cluster at 100 TB:

- AQE on (runtime shuffle-partition coalescing, skew-join splitting,
  dynamic broadcast conversion) — the single biggest lever at scale.
- ``spark.sql.session.timeZone=UTC``: the reference converts every epoch-ms
  with ``time.UnixMilli(...).UTC()`` (reference main.go:515,526); pinning UTC
  also makes results comparable with the DuckDB oracle (naive-UTC).
- Arrow enabled for every pandas-UDF boundary (gunzip, multimodal codecs).
- shuffle.partitions defaults to the local core count; on a real cluster AQE
  coalesces from a deliberately high initial number, so we leave
  ``spark.sql.adaptive.coalescePartitions.initialPartitionNum`` alone locally
  and document that production should set it to ~3x total cores.
- Python workers start from this package's daemon entry
  (``worker_daemon``, set as ``spark.python.daemon.module``).  PySpark
  calls ``importlib.invalidate_caches()`` at the start of every task, and
  on CPython < 3.13 that re-reads ``pyspark.zip``'s whole directory once per
  imported subpackage: a mean of 0.65 s of worker CPU per task at
  local[4], paid again on every micro-batch.  The daemon makes workers skip the re-read
  while the archive is unchanged.  It is importable from any driver cwd
  because the package's parent directory goes on the workers'
  ``PYTHONPATH`` (``spark.executorEnv.PYTHONPATH``).  Both are static
  SparkContext settings: :func:`get_spark` sets them, :func:`tune_session`
  cannot.
"""

from __future__ import annotations

import hashlib
import os
import tempfile
import zipfile

from pyspark import SparkConf
from pyspark.sql import SparkSession

DAEMON_MODULE = "kinesis2elastic_spark.worker_daemon"
_PKG_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


_ZIPS: dict[tuple[str, str], str] = {}


def package_zip() -> str:
    """A zip of this package's ``.py`` sources, named by their digest:
    ``$TMPDIR/kinesis2elastic_spark_pkg-<digest>.zip``.  A changed source
    tree gets a zip of its own, built from the same bytes the digest
    covers; an unchanged one reuses the zip an earlier process built.
    The sources are read once per process (the first call), so every
    session of a driver ships the code that driver started with."""
    pkg_root = os.path.dirname(os.path.abspath(__file__))
    key = (pkg_root, tempfile.gettempdir())
    if key in _ZIPS and os.path.exists(_ZIPS[key]):
        return _ZIPS[key]
    sources = {}
    for dirpath, dirnames, filenames in os.walk(pkg_root):
        dirnames.sort()
        for fn in sorted(filenames):
            if fn.endswith(".py"):
                full = os.path.join(dirpath, fn)
                with open(full, "rb") as f:
                    sources[os.path.join("kinesis2elastic_spark", os.path.relpath(full, pkg_root))] = f.read()
    digest = hashlib.sha256()
    for name, data in sources.items():
        digest.update(f"{name}\0{len(data)}\0".encode())
        digest.update(data)
    zip_path = os.path.join(key[1], f"kinesis2elastic_spark_pkg-{digest.hexdigest()[:16]}.zip")
    if not os.path.exists(zip_path):
        tmp = f"{zip_path}.{os.getpid()}.tmp"
        with zipfile.ZipFile(tmp, "w", zipfile.ZIP_DEFLATED) as zf:
            for name, data in sources.items():
                zf.writestr(name, data)
        os.replace(tmp, zip_path)
    _ZIPS[key] = zip_path
    return zip_path


def ship_package(spark: SparkSession) -> None:
    """Distribute this package to executor Python workers via addPyFile
    of :func:`package_zip`.

    Functions/classes from this package pickle BY REFERENCE (module path),
    so executors must be able to import it.  Local runs from the repo cwd
    work by accident (workers inherit the JVM's cwd on sys.path); a driver
    launched anywhere else — or a real cluster — needs the package shipped.
    A context that :func:`get_spark` builds also has the package's parent
    directory on its workers' ``PYTHONPATH``; the zip still serves one it
    reuses and the sessions of :func:`tune_session`."""
    try:
        spark.sparkContext.addPyFile(package_zip())
    except Exception:
        pass  # already added in this context


def _worker_pythonpath() -> str:
    """The workers' ``PYTHONPATH``: this package's parent directory, then
    any ``spark.executorEnv.PYTHONPATH`` already configured."""
    existing = SparkConf().get("spark.executorEnv.PYTHONPATH") or ""
    rest = [p for p in existing.split(os.pathsep) if p and p != _PKG_PARENT]
    return os.pathsep.join([_PKG_PARENT, *rest])


def get_spark(app_name: str = "kinesis2elastic_spark", cpus: int | str | None = None) -> SparkSession:
    """Build (or reuse) a SparkSession with this engine's standard config.

    Its Python workers fork from :mod:`worker_daemon`, which keeps
    ``pyspark.zip``'s directory from being re-read at the start of every
    task on CPython < 3.13 (see the module docstring).  The master is
    local, so the package's directory on the driver is the workers' too.
    The daemon module and the workers' ``PYTHONPATH`` are fixed for the
    life of the SparkContext; a context that already exists keeps its own."""
    if cpus is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.compression.codec", "zstd")
        # Manifest-driven interop reads (delta_log/iceberg_meta/
        # timetravel) pass EXPLICIT file lists; above this many paths
        # Spark launches a distributed listing JOB whose scheduling
        # floor dwarfs the driver-side stat cost until path counts are
        # huge (r15: q_iceberg_read paid a 54-task listing job for 54
        # known files).  256 keeps bigger manifests driver-listed;
        # env-overridable for deployments with object-store listing
        # latency where the distributed form pays off sooner.
        .config(
            "spark.sql.sources.parallelPartitionDiscovery.threshold",
            os.environ.get("SPARK_GRAFT_LIST_THRESHOLD", "256"),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.python.daemon.module", DAEMON_MODULE)
        .config("spark.executorEnv.PYTHONPATH", _worker_pythonpath())
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    ship_package(spark)
    return spark


def tune_session(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable engine defaults to an externally-provided
    session (the driver hands us one; master/memory are fixed by then).

    The worker daemon of :func:`get_spark` is not applied: the daemon
    module and the executors' environment are SparkConf settings, static
    once the SparkContext exists, so workers of such a session keep
    re-reading ``pyspark.zip`` on every task (CPython < 3.13)."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
    spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
    try:
        spark.conf.set("spark.sql.execution.arrow.pyspark.enabled", "true")
    except Exception:
        pass
    try:  # see get_spark: explicit-file-list reads should driver-list
        spark.conf.set(
            "spark.sql.sources.parallelPartitionDiscovery.threshold",
            os.environ.get("SPARK_GRAFT_LIST_THRESHOLD", "256"),
        )
    except Exception:
        pass
    ship_package(spark)
    return spark
