"""SparkSession construction and fixture-table registration.

The reference tool resolved tables through a Hive metastore DAO
(``MetaDataDao.getColumnByDBAndTable``, reference README.md:102,239,814).
We have no Hive dependency: tables are parquet files registered as temp
views, and ``spark.catalog`` serves every metadata lookup the lineage
plane needs.

Scale notes (100 TB design intent, tested on local[N]):

* AQE is on — runtime coalescing, skew-join splitting and dynamic
  broadcast decisions replace hand-tuned partition counts.
* ``spark.sql.shuffle.partitions`` defaults to the local core count; on
  a real cluster this is overridden by AQE's coalescing anyway.
* Arrow is enabled so any Pandas-UDF path ships columnar batches.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F

#: Tables the driver generates at each scale factor (TESTDATA.md).
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


def _default_driver_memory() -> str:
    """Half the physical memory, capped at 16g, as a Spark size string
    (``"7936m"``): a local-mode driver holds the executors too, and
    leaving the other half to the OS and the Python side keeps two
    test processes on one machine from being OOM-killed."""
    try:
        phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    except (AttributeError, ValueError, OSError):  # no sysconf here
        return "16g"
    return f"{min(16 * 1024, phys // 2 // 2**20)}m"


def get_spark(
    app_name: str = "hadoop__spark",
    cpus: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the engine's SparkSession.

    Honors ``SPARK_GRAFT_CPUS`` for the local core count and
    ``SPARK_GRAFT_DRIVER_MEM`` for the driver memory (default
    :func:`_default_driver_memory`).  All configs are cluster-safe: on
    a real deployment only ``master`` changes.
    ``extra_conf`` lets tooling (e.g. the profiler) set start-time-only
    configs such as ``spark.ui.retainedJobs``.
    """
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or os.cpu_count() or 4
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", "64m")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM") or _default_driver_memory(),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.sql.parquet.filterPushdown", "true")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


#: Per-(session, sf_dir) caches.  A loaded DataFrame is an immutable
#: logical plan — re-building it re-reads 10 parquet footers through
#: py4j (~0.8 s warm), which dominated the per-probe floor when every
#: probe re-registered the same fixtures.  Keyed on the session OBJECT
#: (identity) so a new session never sees a stale plan, and validated
#: for liveness on every hit: a session that was stop()'d (and maybe
#: restarted via getOrCreate on the same object) must not be served a
#: dead plan — its entries are purged and the tables re-read, which
#: either works against the restarted context or raises Spark's own
#: clear stopped-context error instead of a confusing dead-plan one.
_TABLE_CACHE: dict[tuple[int, str], dict[str, DataFrame]] = {}
_VIEWS_CURRENT: dict[int, str] = {}
_SESSION_REFS: dict[int, SparkSession] = {}


def _is_live(spark: SparkSession) -> bool:
    """True iff the session's JVM context has not been stop()'d."""
    try:
        return spark.sparkContext._jsc is not None
    except Exception:
        return False


def _purge_session(sid: int) -> None:
    """Drop every cache entry (and the strong session reference) for a
    dead or superseded session id, so stopped sessions are neither
    served stale plans nor kept alive by the cache."""
    _SESSION_REFS.pop(sid, None)
    _VIEWS_CURRENT.pop(sid, None)
    for k in [k for k in _TABLE_CACHE if k[0] == sid]:
        _TABLE_CACHE.pop(k, None)


def load_tables(
    spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR, force: bool = False
) -> dict[str, DataFrame]:
    """Load every fixture table found under ``sf_dir`` (cached per
    session+dir; ``force=True`` re-reads the footers).

    Missing files are skipped so older fixture dirs (without
    documents/embeddings) still work.
    """
    sid = id(spark)
    key = (sid, os.path.abspath(sf_dir))
    # sweep every DEAD session's entries, not just this id: the caches
    # hold strong references, and an id-collision purge alone can never
    # fire for a stopped session that is never passed in again (CPython
    # cannot reuse its id while the dict pins it) — a long-lived
    # process cycling sessions would pin every dead one forever
    for other_sid, other in list(_SESSION_REFS.items()):
        if not _is_live(other):
            _purge_session(other_sid)
    if sid in _SESSION_REFS and (
        _SESSION_REFS[sid] is not spark or not _is_live(spark)
    ):
        _purge_session(sid)
    if not force:
        cached = _TABLE_CACHE.get(key)
        if cached is not None and _SESSION_REFS.get(sid) is spark:
            return dict(cached)
    # events.parquet's ts physical type is not fixed by contract —
    # fixture regenerations have shipped timestamp[us] (read natively
    # below) and timestamp[ns] variants.  The conf lets a nanos file
    # load as BIGINT instead of erroring; the conditional decode below
    # only fires when the read actually produced a long (ns-annotated
    # or plain-int64 file, both ns-epoch by convention).  Set here (not
    # only in get_spark) so the driver's vanilla session works too.
    # The streaming reader (streaming/rollup.py) sniffs the footer for
    # the same reason; tests/test_sources_streaming.py pins both paths
    # with a unit-drift canary.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    out: dict[str, DataFrame] = {}
    for name in TABLES:
        path = os.path.join(sf_dir, f"{name}.parquet")
        if os.path.exists(path):
            df = spark.read.parquet(path)
            if name == "events" and dict(df.dtypes).get("ts") == "bigint":
                df = df.withColumn(
                    "ts", F.timestamp_micros(F.expr("ts div 1000"))
                )
            out[name] = df
    _TABLE_CACHE[key] = dict(out)
    _SESSION_REFS[id(spark)] = spark
    return out


def register_views(
    spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR, force: bool = False
) -> dict[str, DataFrame]:
    """Register each fixture table as a temp view named after the table.

    This is the engine's equivalent of the reference's metastore: after
    registration, ``spark.sql`` and ``spark.catalog`` resolve the same
    names the probe queries and the lineage plane use.

    Idempotent per session: when this session's views already point at
    ``sf_dir`` the call is a no-op (the repeated re-registration was
    ~0.9 s of pure py4j overhead per probe).  Switching ``sf_dir``
    re-registers — the semantics tests rely on; ``force=True`` does
    too (e.g. after dropping a view manually).
    """
    abs_dir = os.path.abspath(sf_dir)
    dfs = load_tables(spark, sf_dir, force=force)
    if (
        not force
        and _VIEWS_CURRENT.get(id(spark)) == abs_dir
        and _SESSION_REFS.get(id(spark)) is spark
    ):
        return dfs
    for name, df in dfs.items():
        df.createOrReplaceTempView(name)
    _VIEWS_CURRENT[id(spark)] = abs_dir
    return dfs
