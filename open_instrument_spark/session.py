"""SparkSession construction + per-session normalization.

Scale posture: these confs are tuned for the local[32] test harness but
chosen so the same code runs unchanged on a 1000-executor cluster — AQE
handles runtime partition coalescing/skew, shuffle partitions are set
explicitly per-job at scale, and all timestamp math is pinned to UTC so
results are cluster-timezone independent.
"""

from __future__ import annotations

import hashlib
import os
import tempfile
import zipfile

from py4j.protocol import Py4JJavaError
from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def get_spark(app_name: str = "open_instrument_spark", cpus: int | None = None) -> SparkSession:
    """Build a local session with the engine's standard confs."""
    n = cpus or DEFAULT_SHUFFLE_PARTITIONS
    spark = (
        SparkSession.builder.master(f"local[{n}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(n))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        # Per-call driver overhead: PySpark's DataFrame
        # error-context capture wraps EVERY DataFrame/Column API call
        # with a getActiveSession + conf.get + PySparkCurrentOrigin
        # set/clear round plus a Python stack walk — cProfile showed it
        # TRIPLING the py4j round-trip count of plan construction
        # (12,329 → 4,309 socket calls on one collector build; ~3 s of
        # a 4.5 s build). It only enriches error messages with call
        # sites; results are unaffected on any deployment.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .getOrCreate()
    )
    _disable_dataframe_debugging(spark)
    spark.sparkContext.setLogLevel("WARN")
    return spark


def _disable_dataframe_debugging(spark: SparkSession) -> None:
    """Make the dataFrameDebugging=false conf actually take effect.

    pyspark caches the enablement decision in a process-global on the
    FIRST wrapped API call (``pyspark.errors.utils._enable_debugging_cache``),
    so a session that ran any DataFrame op before ``prepare()`` (the
    verify driver's) would keep paying the per-call overhead even after
    the conf is set. The cache is pinned False to cover the
    already-populated case; the conf is set for transparency where the
    session still allows it (it is static in pyspark 4.1, so a session
    built without it keeps its value)."""
    from pyspark.errors import AnalysisException
    from pyspark.errors import utils as _errutils

    _errutils._enable_debugging_cache = False
    try:
        spark.conf.set("spark.python.sql.dataFrameDebugging.enabled", "false")
    except AnalysisException as e:
        if e.getCondition() != "CANNOT_MODIFY_STATIC_CONFIG":
            raise


def prepare(spark: SparkSession) -> SparkSession:
    """Normalize a caller-provided session (e.g. the verify driver's).

    Only touches runtime-settable confs. UTC pinning makes timestamp
    arithmetic match a naive-UTC oracle (DuckDB) regardless of the host
    timezone; AQE is the engine's standing assumption for skew handling.

    NOTE: also clears the session's DataFrame cache (see below) — prepare()
    is a per-query-sequence reset for driver-style run loops, not a no-op
    config call. Library users who maintain their own caches should set
    the confs directly instead of calling prepare() between queries.
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    # The driver's synthetic parquet stores TIMESTAMP(NANOS) which Spark
    # rejects by default; read as long and convert in the loader.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
    spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
    spark.conf.set("spark.sql.execution.arrow.pyspark.enabled", "true")
    # per-call error-context capture off (see get_spark) — plan
    # construction is part of every driver-timed query invocation
    _disable_dataframe_debugging(spark)
    # Drop intermediates persisted by a PREVIOUS query (e.g. the LSH
    # shingle cache): prepare() runs at the start of each query build, so
    # this bounds cache memory across a long sequence of driver runs.
    # Only the ENGINE'S OWN tracked persists are released — a global
    # clearCache() would nuke caches a library caller maintains alongside.
    release_tracked_caches()
    _ship_package(spark)
    return spark


def local_df(spark: SparkSession, data, schema, n_slices: int = 1):
    """``createDataFrame`` for SMALL driver-local lists without the
    defaultParallelism fan-out.

    ``spark.createDataFrame(list)`` parallelizes the rows into
    defaultParallelism pickled-Python partitions (32 on this harness);
    every consumer then pays one Python-runner round PER PARTITION.
    Under ``coalesce(1)`` — the store meta/centroid write pattern —
    ONE task drains all 32 runner rounds sequentially: a one-row meta
    write measured 4.5–7 s at local[32] vs 0.6 s from a single slice
    (thread-dump-verified: the write task sat in PythonRunner reads,
    guide §1.2 per-task overhead / §7.3). Engine-built local tables
    (meta rows, centroids, probe lists, codebooks) are tiny by
    construction — one slice means one Python round and a one-task
    stage everywhere downstream."""
    if not data:
        return spark.createDataFrame(data, schema)
    return spark.createDataFrame(
        spark.sparkContext.parallelize(data, n_slices), schema)


_TRACKED_PERSISTS: list = []


def track_persist(df):
    """persist() a DataFrame and register it for engine-scoped cleanup.

    Operators that materialize a reused intermediate (e.g. the MinHash
    shingle arrays) persist through here; ``release_tracked_caches()``
    (called by ``prepare()`` between driver queries, or directly by
    library callers composing several dedup calls) unpersists them
    without touching unrelated user caches."""
    p = df.persist()
    _TRACKED_PERSISTS.append(p)
    return p


def release_tracked_caches() -> int:
    """Unpersist every engine-tracked intermediate; returns the count.
    An intermediate whose SparkContext was stopped has nothing left to
    release: its unpersist raises a ``Py4JJavaError`` (a null
    block-manager endpoint) and is not counted."""
    n = 0
    while _TRACKED_PERSISTS:
        df = _TRACKED_PERSISTS.pop()
        try:
            df.unpersist()
            n += 1
        except Py4JJavaError:
            pass
    return n


_shipped: set[int] = set()


def _package_zip(pkg_dir: str, dest_dir: str) -> str:
    """Zip the package's ``.py`` files into ``dest_dir`` and return the
    zip's path. Entries carry a fixed timestamp, so the same sources
    always give the same bytes, and the name carries a hash of those
    bytes, so two different package contents never share a path. The
    zip is written to a private temp file and ``os.replace``-d into
    place, so a driver never reads another's half-written zip."""
    fd, tmp = tempfile.mkstemp(dir=dest_dir, suffix=".zip.tmp")
    try:
        with os.fdopen(fd, "wb") as fh, zipfile.ZipFile(fh, "w") as zf:
            for root, dirs, names in os.walk(pkg_dir):
                dirs[:] = sorted(d for d in dirs if d != "__pycache__")
                for f in sorted(n for n in names if n.endswith(".py")):
                    full = os.path.join(root, f)
                    info = zipfile.ZipInfo(
                        os.path.join("open_instrument_spark",
                                     os.path.relpath(full, pkg_dir)),
                        date_time=(1980, 1, 1, 0, 0, 0))
                    info.compress_type = zipfile.ZIP_DEFLATED
                    with open(full, "rb") as src:
                        zf.writestr(info, src.read())
        with open(tmp, "rb") as fh:
            digest = hashlib.sha256(fh.read()).hexdigest()[:16]
        zip_path = os.path.join(
            dest_dir, f"open_instrument_spark_pyfiles-{digest}.zip")
        os.replace(tmp, zip_path)
    except BaseException:
        os.unlink(tmp)
        raise
    return zip_path


def _ship_package(spark: SparkSession) -> None:
    """Make this package importable on executor Python workers.

    Grouped-map kernels (resample.py, llm ops) are pickled by module
    reference; workers must be able to import ``open_instrument_spark``.
    ``addPyFile`` with a zip of the package is the deployment-correct
    mechanism on a real cluster and equally covers local mode when the
    driver process was launched from a different cwd. Spark refuses a
    second file of the same name with other bytes; the content-hashed
    name of :func:`_package_zip` rules that out, also between drivers
    sharing a host.
    """
    sc = spark.sparkContext
    key = id(sc)
    if key in _shipped:
        return
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    sc.addPyFile(_package_zip(pkg_dir, tempfile.gettempdir()))
    _shipped.add(key)
