"""Shared operator utilities."""

from __future__ import annotations

import re

from pyspark.sql import DataFrame


# logical operators that put an exchange (or a local collection
# barrier) below everything downstream — presence of any in the
# analyzed plan means the frame's parallelism is already governed by
# spark.sql.shuffle.partitions / AQE, not by its source's file layout.
# Includes the grouped-Arrow operators (applyInPandas / cogroup): they
# sit above a shuffle too, and df.rdd below one would materialize its
# query stages under AQE exactly like a Join's.
_WIDE_PLAN_NODES = frozenset(
    {
        "Aggregate", "Join", "Window", "Sort", "Repartition",
        "RepartitionByExpression", "Deduplicate", "Except", "Intersect",
        "GlobalLimit", "Distinct", "FlatMapGroupsInPandas",
        "FlatMapCoGroupsInPandas", "CoGroup",
    }
)

# a treeString line is tree-drawing prefix (spaces, ':', '+- ') then
# the operator name: anchoring the match past that prefix means a
# column alias or string literal that happens to CONTAIN a node name
# ("... AS Sort#12", a filter on 'Join ') can no longer false-match —
# those render mid-line, inside the operator's bracketed expression
# list, never as the line's leading token
_TREE_NODE_RE = re.compile(r"^[\s:+\-]*'?([A-Za-z]+)")


def _has_wide_node(tree: str) -> bool:
    """True when any line of an analyzed-plan ``treeString`` leads
    with a shuffle-inducing operator from ``_WIDE_PLAN_NODES``."""
    for line in tree.splitlines():
        m = _TREE_NODE_RE.match(line)
        if m and m.group(1) in _WIDE_PLAN_NODES:
            return True
    return False


def ensure_parallelism(df: DataFrame, min_factor: int = 1) -> DataFrame:
    """Spread a narrow input across the cluster before CPU-heavy
    per-row work.

    A small parquet file arrives as one partition (one row group = one
    task), which serializes shingling/hashing onto a single core.  At
    real scale inputs already carry ≥ cores partitions and this is a
    no-op — the repartition only fires when the input is narrower than
    the session's parallelism, so it never adds a shuffle to a 100 TB
    scan.

    The check must read the UNEXECUTED plan: calling
    ``df.rdd.getNumPartitions()`` here would, under AQE, materialize
    every shuffle query stage below the frame — i.e. silently EXECUTE
    the caller's upstream pipeline at plan-construction time, once per
    probe/dedup call (measured: roughly a third of ingest_batch's
    fixed ~190-job floor was these hidden executions,
    tools/ingest_profile.py).  So: if the analyzed plan already
    contains a shuffle-inducing operator, the frame's parallelism is
    whatever the shuffle produced — already ≥ the session's
    parallelism at real data sizes, and only AQE-coalesced below it
    when the data is kilobytes (where a serial task is correct, and a
    forced repartition would just add a shuffle) — return it
    untouched.  Only for narrow scan-only plans (small file, local
    collection) is ``df.rdd`` stage-free and cheap, and the
    repartition meaningful.
    """
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism * min_factor
    plan = df._jdf.queryExecution().analyzed().treeString()
    if _has_wide_node(plan):
        return df
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def local_frame(spark, rows, schema) -> DataFrame:
    """Tiny driver-built DataFrame via the pandas/Arrow path.

    ``spark.createDataFrame(list, schema)`` parallelizes the rows into
    ``defaultParallelism`` PICKLED python slices, so the usual
    ``coalesce(1)`` single-file write of such a frame runs every
    slice's python-worker startup serially inside ONE task — measured
    4.5–7 s per 8-row write at local[32], and it was the hidden bulk
    of ``ivf_write_index`` (centroid table), the ngram index ``meta``
    write and the per-state ingest ``policy`` write.  The Arrow route
    ships one JVM-side batch: no python workers at execution, same
    values (float64/int64 are exact through Arrow), measured ~0.2 s.
    ``schema`` is a DDL string or StructType and is applied verbatim;
    columns are named before conversion so the match is by name.
    """
    import pandas as pd
    from pyspark.sql.types import StructType

    st = (
        StructType.fromDDL(schema) if isinstance(schema, str) else schema
    )
    pdf = pd.DataFrame(
        [tuple(r) for r in rows], columns=st.fieldNames()
    )
    return spark.createDataFrame(pdf, st)


def table_exists(spark, path: str) -> bool:
    """True when ``path`` exists on the session's Hadoop filesystem
    (local paths, HDFS and object stores alike) — an explicit
    existence check instead of catching read exceptions, which would
    also swallow transient I/O failures and mask them as 'absent'."""
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return fs.exists(hpath)


def global_running_sum(
    df: DataFrame,
    order_col,
    value_col: str,
    out_col: str = "running_sum",
    num_partitions: int | None = None,
) -> DataFrame:
    """Globally-ordered running sum without a single-partition window.

    ``Window.orderBy(...)`` with no partition key funnels the whole
    dataset through ONE task — the classic scale killer.  This is the
    distributed prefix-sum instead:

    1. range-partition by ``order_col`` (partition ids follow key
       ranges, so pid order == global order),
    2. partition-local cumulative sums (parallel, one window per
       partition),
    3. per-partition totals — a ``num_partitions``-row frame — get
       exclusive-prefix offsets on the driver-sized side and broadcast
       back.

    The only single-partition step operates on one row per partition,
    bounded regardless of data volume.

    ``order_col`` is a column name or a LIST of names/sort expressions
    (e.g. ``[F.col("score").desc(), "doc_id"]``) — range partitioning
    and the local windows honor the same composite order, so
    descending / multi-key prefix sums (quality-ordered token budgets)
    use the identical distributed shape.

    The partition-local frame is persisted: it feeds BOTH the offset
    aggregation and the final join, and without materialization the
    lazy composition re-ran the caller's entire upstream pipeline (in
    pp01: the full decontaminate→score→dedup join graph) twice — one
    of the two full passes the r15 before-plans show.  persist (not
    localCheckpoint) for the same recomputability/dynamic-allocation
    reasons documented in ``dedup.minhash_lsh_pairs``; registered in
    the probe-cache ledger so long-lived ingest sessions release it.
    """
    from pyspark.sql import Window, functions as F
    from pyspark.storagelevel import StorageLevel

    from hadoop__spark.operators.dedup import _register_probe_cache

    spark = df.sparkSession
    if num_partitions is None:
        num_partitions = spark.sparkContext.defaultParallelism
    order_exprs = [
        F.col(c) if isinstance(c, str) else c
        for c in (order_col if isinstance(order_col, list) else [order_col])
    ]
    ranged = df.repartitionByRange(num_partitions, *order_exprs).withColumn(
        "_pid", F.spark_partition_id()
    )
    w_local = (
        Window.partitionBy("_pid")
        .orderBy(*order_exprs)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    local = _register_probe_cache(
        ranged.withColumn(
            "_local_cum", F.sum(value_col).over(w_local)
        ).persist(StorageLevel.MEMORY_AND_DISK)
    )
    w_off = Window.orderBy("_pid").rowsBetween(
        Window.unboundedPreceding, -1
    )
    offsets = (
        local.groupBy("_pid")
        .agg(F.sum(value_col).alias("_ptotal"))
        .withColumn(
            "_offset", F.coalesce(F.sum("_ptotal").over(w_off), F.lit(0))
        )
        .select("_pid", "_offset")
    )
    return (
        local.join(F.broadcast(offsets), "_pid")
        .withColumn(out_col, F.col("_local_cum") + F.col("_offset"))
        .drop("_pid", "_local_cum", "_offset")
    )


def delete_path(spark, path: str) -> bool:
    """Recursively delete ``path`` on the session's Hadoop filesystem
    (staging-table cleanup).  Returns True when something was deleted;
    a missing path is not an error."""
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.exists(hpath):
        return False
    return fs.delete(hpath, True)


def list_child_dirs(spark, path: str) -> list[str]:
    """Child directory paths directly under ``path`` on the session's
    Hadoop filesystem (e.g. the per-batch survivors snapshots under an
    ingest state's ``batches/``).  Missing parent -> empty list."""
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.exists(hpath):
        return []
    return sorted(
        str(st.getPath().toUri().getPath())
        for st in fs.listStatus(hpath)
        if st.isDirectory()
    )


def touch_file(spark, path: str) -> None:
    """Create an empty marker file at ``path`` (overwrite if present)
    on the session's Hadoop filesystem — commit markers for multi-step
    state protocols."""
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    fs.create(hpath, True).close()


def write_text_file(spark, path: str, content: str) -> None:
    """Write ``content`` (UTF-8) to ``path`` on the session's Hadoop
    filesystem, overwriting — marker files that carry a small payload
    (e.g. which state planes a commit marker covers)."""
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    out = fs.create(hpath, True)
    try:
        out.write(bytearray(content.encode("utf-8")))
    finally:
        out.close()


def read_text_file(spark, path: str) -> str:
    """Read a small UTF-8 text file from the session's Hadoop
    filesystem (marker payloads; not for data)."""
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    stream = fs.open(hpath)
    try:
        return str(
            jvm.org.apache.commons.io.IOUtils.toString(stream, "UTF-8")
        )
    finally:
        stream.close()


def rename_path(spark, src: str, dst: str) -> None:
    """Same-filesystem rename (atomic on HDFS and the local FS,
    metadata-only) — the swap step of write-new / delete / rename
    table-replacement protocols.  Creates ``dst``'s parent directory
    first.  Raises on failure."""
    jvm = spark._jvm
    jsrc = jvm.org.apache.hadoop.fs.Path(src)
    jdst = jvm.org.apache.hadoop.fs.Path(dst)
    fs = jsrc.getFileSystem(spark._jsc.hadoopConfiguration())
    fs.mkdirs(jdst.getParent())
    if not fs.rename(jsrc, jdst):
        raise IOError(f"rename {src} -> {dst} failed")


def list_files(spark, path: str, suffix: str = "") -> list[str]:
    """Recursively list file paths under ``path`` on the session's
    Hadoop filesystem, optionally filtered by ``suffix``.  Missing
    path -> empty list."""
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.exists(hpath):
        return []
    out = []
    it = fs.listFiles(hpath, True)
    while it.hasNext():
        st = it.next()
        p = str(st.getPath().toUri().getPath())
        if p.endswith(suffix):
            out.append(p)
    return sorted(out)


def is_local_fs(spark, path: str) -> bool:
    """True when ``path`` resolves to the local filesystem on the
    session's Hadoop configuration — the dispatch behind every
    driver-side pyarrow fast path (footer row counts, the one-row
    policy read, IVF skew measurement): local schemes read file
    footers directly with zero Spark jobs, anything else falls back
    to a Spark read."""
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return fs.getUri().getScheme() in ("file", None, "")


def visible_parquet_files(
    spark, path: str, files: list[str] | None = None
) -> list[str]:
    """The DATA files of a parquet table at ``path``: a recursive
    ``*.parquet`` listing with anything under a hidden (``_``- or
    ``.``-prefixed) path segment below ``path`` excluded — the same
    visibility rule Spark's file index applies.  Driver-side footer
    walks (row counts, IVF bucket skew) must agree with what a Spark
    read of the table sees: a hard-crashed write leaves
    ``_temporary/`` attempt dirs holding truncated in-flight files
    whose footers don't parse (and whose partition segments LOOK like
    real buckets), and the Spark fallback branch of
    :func:`parquet_row_count` already ignores them.  ``files``
    short-circuits the listing when the caller already holds one."""
    if files is None:
        files = list_files(spark, path, suffix=".parquet")
    base = path.rstrip("/") + "/"
    out = []
    for f in files:
        rel = f[len(base):] if f.startswith(base) else f.rsplit("/", 1)[-1]
        if any(seg.startswith(("_", ".")) for seg in rel.split("/")):
            continue
        out.append(f)
    return out


def parquet_row_count(spark, path: str) -> int:
    """Row count of a parquet table from file FOOTERS — driver-side
    metadata, zero Spark jobs — so observability calls
    (:func:`~hadoop__spark.operators.ingest.state_summary`) are safe
    to poll from monitoring.  Footer row counts are exact (parquet
    stores them per file); this never scans data pages.

    Local-filesystem paths are read with pyarrow directly; any other
    scheme falls back to a Spark ``count()`` (still correct, one
    metadata-cheap job)."""
    if not is_local_fs(spark, path):
        return spark.read.parquet(path).count()
    import pyarrow.parquet as pq

    total = 0
    for f in visible_parquet_files(spark, path):
        total += pq.ParquetFile(f).metadata.num_rows
    return total


def path_bytes(spark, path: str) -> int:
    """Total byte size under ``path`` on the session's Hadoop
    filesystem (content summary — driver-side metadata, no job).
    Missing path -> 0.  Used to right-size rewrites (e.g. an epoch
    snapshot's file count) without scanning data."""
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.exists(hpath):
        return 0
    return int(fs.getContentSummary(hpath).getLength())


def path_mtime(spark, path: str) -> int:
    """Modification time (epoch millis) of ``path`` on the session's
    Hadoop filesystem — recency ordering for state artifacts whose
    NAMES don't sort chronologically (user-chosen batch names).
    Missing path -> 0."""
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.exists(hpath):
        return 0
    return int(fs.getFileStatus(hpath).getModificationTime())


def create_exclusive(spark, path: str) -> bool:
    """Atomically create ``path`` if and only if it does not exist
    (Hadoop ``createNewFile`` — atomic on local FS and HDFS; object
    stores emulate it).  Returns False when the file already exists —
    the primitive behind advisory maintenance locks."""
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return bool(fs.createNewFile(hpath))
