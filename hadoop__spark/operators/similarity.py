"""Similarity search over embedding columns (``array<float>``).

Baseline: brute-force cosine top-k with the dot product computed by
``zip_with`` + ``aggregate`` — JVM higher-order functions, no UDF, no
data leaves the executors.

Scale path: IVF — k-means centroids (Spark MLlib) partition the corpus
into ``nlist`` buckets; queries probe the ``nprobe`` nearest buckets
only, turning an O(N) scan per query into O(N·nprobe/nlist).

The query side is always broadcast: query sets are small by
construction, so the corpus never shuffles — the single most important
property for a 100 TB corpus.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F

from hadoop__spark.operators.util import ensure_parallelism


def _dot(a: Column, b: Column) -> Column:
    """Sequential-fold dot product in double precision (deterministic)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )


def cosine_sim(a: Column, b: Column) -> Column:
    return _dot(a, b) / (_norm(a) * _norm(b))


# Measured dead end, kept as a note (round 14): unrolling the fold
# into a flat `a[0]*b[0] + … + a[63]*b[63]` expression tree — guarded
# by size() checks with the fold as fallback, values bit-identical —
# was 4-8× SLOWER than the fold at every pair count tried.  The pair
# projection behind the non-equi self-joins is not whole-stage
# code-generated, so the flat tree is evaluated by the recursive
# interpreter (boxing per node), while the higher-order fold runs one
# specialized loop per row.  The wins that stuck instead: spread the
# input before the quadratic stage and hoist the norms out of it
# (below / dedup.embedding_dedup_pairs).


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Brute-force cosine top-k: every query vs the full corpus.

    ``broadcast(queries)`` keeps the corpus partition-local.  The
    similarity is a sequential double fold, bitwise-reproducible across
    engines that evaluate the same expression tree (verified against
    DuckDB's list_sum), so ranking with the neighbor id as tiebreak is
    fully deterministic.

    Each side's norm is hoisted out of the pair loop: |Q|+|C| norm
    folds instead of 2·|Q|·|C| (a vector's norm is the same double
    wherever it is computed, so the cosine value is unchanged — the
    pair stage pays one fold, not three).
    """
    q = F.broadcast(
        queries.select(
            F.col(id_col).alias("query_id"),
            F.col(vec_col).alias("_qv"),
            _norm(F.col(vec_col)).alias("_qn"),
        )
    )
    c = ensure_parallelism(corpus).select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("_cv"),
        _norm(F.col(vec_col)).alias("_cn"),
    )
    sims = (
        c.crossJoin(q)
        .where(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            (
                _dot(F.col("_qv"), F.col("_cv"))
                / (F.col("_qn") * F.col("_cn"))
            ).alias("cosine"),
        )
    )
    return _top_k(sims, k)


def _top_k(sims: DataFrame, k: int) -> DataFrame:
    """The ``k`` best ``(query_id, neighbor_id, cosine)`` rows per
    query, ranked ``cosine desc, neighbor_id asc`` — the one ranking
    every top-k entry point ends in."""
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return (
        sims.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", F.col("rank").cast("bigint").alias("rank"))
    )


def _kmeans_numpy(X, k: int, seed: int, iters: int = 15):
    """Seeded Lloyd's k-means with k-means++ init, fully in-memory.

    The training set is a bounded sample (see ``ivf_fit_centroids``),
    so this is a few matmuls — no per-iteration distributed jobs.
    """
    import numpy as np

    rng = np.random.default_rng(seed)
    n = X.shape[0]
    centers = np.empty((min(k, n), X.shape[1]), dtype=np.float64)
    centers[0] = X[rng.integers(n)]
    d2 = ((X - centers[0]) ** 2).sum(axis=1)
    for i in range(1, centers.shape[0]):
        tot = d2.sum()
        idx = rng.choice(n, p=d2 / tot) if tot > 0 else rng.integers(n)
        centers[i] = X[idx]
        d2 = np.minimum(d2, ((X - centers[i]) ** 2).sum(axis=1))
    x2 = (X**2).sum(axis=1, keepdims=True)
    for _ in range(iters):
        dists = x2 - 2.0 * (X @ centers.T) + (centers**2).sum(axis=1)
        lab = dists.argmin(axis=1)
        new = np.stack(
            [
                X[lab == j].mean(axis=0) if (lab == j).any() else centers[j]
                for j in range(centers.shape[0])
            ]
        )
        if np.allclose(new, centers):
            break
        centers = new
    return centers


def ivf_fit_centroids(
    corpus: DataFrame,
    nlist: int = 16,
    vec_col: str = "embedding",
    seed: int = 42,
    sample_size: int = 20_000,
    n_rows: int | None = None,
) -> DataFrame:
    """K-means centroids for IVF bucketing, trained on a bounded sample.

    Standard IVF practice (what faiss does): centroid quality needs a
    representative sample, not the full corpus — so one seeded
    ``sample().limit(sample_size)`` collect plus an in-memory Lloyd's
    run replaces ~40 distributed MLlib jobs whose per-job overhead
    dominated at every scale.  At 100 TB the sample stays bounded (a
    few thousand rows per centroid is the accepted heuristic), and the
    result is a tiny (centroid_id, centroid) frame — always
    broadcastable.  Pass ``n_rows`` when the corpus size is already
    known to skip the sizing count.  An empty corpus is a clear error
    here, not a numpy shape crash downstream.
    """
    import numpy as np

    n = n_rows if n_rows is not None else corpus.count()
    if n == 0:
        raise ValueError(
            "ivf_fit_centroids: cannot fit centroids on an empty corpus"
        )
    sdf = corpus.select(F.col(vec_col).cast("array<double>").alias("_v"))
    if n > sample_size:
        # oversample by 20% so the post-sample limit() reliably fills
        sdf = sdf.sample(
            fraction=min(1.0, 1.2 * sample_size / n), seed=seed
        ).limit(sample_size)
    X = np.array(sdf.toPandas()["_v"].tolist(), dtype=np.float64)
    centers = _kmeans_numpy(X, nlist, seed)
    spark = corpus.sparkSession
    from hadoop__spark.operators.util import local_frame

    # Arrow-built local frame: the pickled-slice default made every
    # coalesce(1) write / collect of this tiny table pay serialized
    # python-worker startups (see util.local_frame; ~5 s per
    # ivf_write_index centroid write at local[32], the largest single
    # cost of the persisted-index lifecycle).  Values are unchanged
    # (float64 is exact through Arrow) — pinned ann02/ann03/dd07
    # oracles re-verified.
    return local_frame(
        spark,
        [(i, c.tolist()) for i, c in enumerate(centers)],
        "centroid_id INT, centroid ARRAY<DOUBLE>",
    )


def collect_centroid_array(
    centroids: DataFrame,
    id_field: str = "centroid_id",
    vec_field: str = "centroid",
) -> Column:
    """Collect the (tiny, nlist-row) centroid table and inline it as a
    literal ``array<struct<cid,cv>>`` column.

    This is the zero-shuffle assignment primitive: the centroid list is
    driver-built to begin with (``ivf_fit_centroids``), so folding it
    into the expression tree ships it inside the serialized plan to
    every task — same distribution cost as a broadcast, but the nearest-
    centroid computation becomes a per-row projection instead of a
    crossJoin ×nlist row expansion followed by a ``Window.partitionBy``
    Exchange of the expanded corpus.  At 100 TB that Exchange was a
    full-corpus shuffle; this removes it entirely.

    The literal is built as ONE ``F.expr`` string parsed server-side,
    not per-element ``F.lit`` calls: each ``lit``/``struct``/``array``
    is a py4j round trip, and at a self-sized nlist (4√N — 560 buckets
    for a 20k corpus, thousands beyond) those ~nlist×(dim+2) round
    trips dominated every probe (measured 9.6 s of a 10.7 s
    ``ivf_read_topk`` call; the expr build is ~15 ms for the same
    tree).  ``repr(float)`` round-trips doubles exactly and the ``D``
    suffix keeps Spark from parsing decimals, so the resulting plan is
    value-identical (pinned by test).  Non-finite values (impossible
    for k-means means, defensively handled) fall back to the
    per-element build, whose NaN/Infinity literals py4j ships fine.
    """
    import math

    rows = sorted(
        centroids.select(id_field, vec_field).collect(),
        key=lambda r: r[id_field],
    )
    cents = [
        (int(r[id_field]), [float(x) for x in r[vec_field]]) for r in rows
    ]
    if all(math.isfinite(x) for _, v in cents for x in v):
        return F.expr(
            "array(%s)"
            % ",".join(
                "named_struct('cid',%d,'cv',array(%s))"
                % (cid, ",".join(f"{x!r}D" for x in v))
                for cid, v in cents
            )
        )
    return F.array(
        *[
            F.struct(
                F.lit(cid).alias("cid"),
                F.lit(v).alias("cv"),
            )
            for cid, v in cents
        ]
    )


def _cmp_sim_desc_cid_asc(left: Column, right: Column) -> Column:
    """``array_sort`` comparator equal to ``ORDER BY sim DESC, cid ASC``
    under Spark's *total* ordering (NaN greatest, so NaN sorts first on
    the descending key — matching ``row_number().over(orderBy(desc))``).
    Binary ``>`` alone would treat NaN as incomparable, so NaN is
    ordered explicitly."""
    l_nan, r_nan = F.isnan(left["sim"]), F.isnan(right["sim"])
    return (
        F.when(l_nan & ~r_nan, F.lit(-1))
        .when(r_nan & ~l_nan, F.lit(1))
        .when(left["sim"] > right["sim"], F.lit(-1))
        .when(left["sim"] < right["sim"], F.lit(1))
        .when(left["cid"] < right["cid"], F.lit(-1))
        .when(left["cid"] > right["cid"], F.lit(1))
        .otherwise(F.lit(0))
    )


def nearest_centroids(vec: Column, cent_arr: Column, n: int, sim_fn) -> Column:
    """Top-``n`` nearest centroids of one vector as
    ``array<struct<sim,cid>>`` — a pure per-row expression (transform →
    array_sort → slice), zero shuffle, zero row expansion."""
    scored = F.transform(
        cent_arr,
        lambda c: F.struct(
            sim_fn(vec, c["cv"]).alias("sim"), c["cid"].alias("cid")
        ),
    )
    return F.slice(F.array_sort(scored, _cmp_sim_desc_cid_asc), 1, n)


def ivf_assign(
    corpus: DataFrame,
    centroids: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Assign each corpus vector to its nearest centroid — a pure
    projection over the literal centroid array (zero shuffle; see
    :func:`collect_centroid_array`).  Output is bit-identical to the
    former crossJoin+window argmin (same fold-order cosine, same
    ``sim desc, cid asc`` tie-break), pinned by the dd07/ann02/ann03
    oracles and asserted shuffle-free in tests/test_plan_shapes.py."""
    return _assigned(corpus, collect_centroid_array(centroids), vec_col, id_col)


def _assigned(
    corpus: DataFrame, cent_arr: Column, vec_col: str, id_col: str
) -> DataFrame:
    """``(id_col, vec_col, centroid_id)``: each vector's nearest
    centroid of the literal ``cent_arr`` (see :func:`ivf_assign`)."""
    best = F.element_at(
        nearest_centroids(F.col(vec_col), cent_arr, 1, cosine_sim), 1
    )
    return corpus.select(id_col, vec_col, best["cid"].alias("centroid_id"))


def ivf_assign_arrow(
    corpus: DataFrame,
    centroids: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_assign: int = 1,
    normalize: bool = False,
) -> DataFrame:
    """Vectorized nearest-centroid assignment: the centroid matrix is
    closed over as a numpy array and each Arrow batch is one
    ``(batch × dim) @ (dim × nlist)`` matmul — the faiss assignment
    kernel, ~100× the throughput of the per-element expression fold in
    :func:`ivf_assign` once ``nlist`` grows past a few dozen
    (assignment is ``N·nlist`` similarity folds; on the 10× rehearsal
    the interpreted fold was the dominant stage).

    Same semantics as :func:`ivf_assign`: cosine similarity, top
    ``n_assign`` per vector, ties broken ``sim desc, cid asc`` (stable
    argsort over the cid-ordered columns).  Dirty-data alignment with
    the JVM path: NULL vectors are dropped Spark-side (the fold path
    drops them via the null-propagating explode), and NaN similarities
    sort FIRST on the descending key (mapped to +inf before the
    argsort — Spark's total ordering treats NaN as greatest, numpy's
    argsort would have buried them last).  Zero-norm vectors score 0
    against every centroid and land in the lowest cid (the JVM path
    raises ``DIVIDE_BY_ZERO`` under ANSI mode there — the arrow
    kernel degrades gracefully instead).  Numeric caveat: numpy's pairwise
    summation can differ from the JVM's sequential fold in the last
    ulps, so assignments of vectors EXACTLY equidistant to two
    centroids may differ — bucket choice only, tested equal on the
    fixtures.

    Output: ``(id_col, vec_col, centroid_id)`` with one row per
    (vector, assigned centroid); ``normalize=True`` replaces
    ``vec_col`` with the L2-normalized vector (what the dedup pair
    verify wants).  Still zero-shuffle — ``mapInPandas`` is a
    per-partition projection; the only Python in the loop is a
    batched matmul.
    """
    import numpy as np
    import pandas as pd

    rows = centroids.select("centroid_id", "centroid").collect()
    cids = np.array(
        sorted(int(r["centroid_id"]) for r in rows), dtype=np.int64
    )
    C = np.array(
        [
            [float(x) for x in r["centroid"]]
            for r in sorted(rows, key=lambda r: r["centroid_id"])
        ],
        dtype=np.float64,
    )
    cn = np.linalg.norm(C, axis=1)
    cn[cn == 0] = 1.0
    Cn = (C / cn[:, None]).T  # dim × nlist, columns in cid order
    n = min(n_assign, len(cids))

    id_field = corpus.schema[id_col]
    out_schema = (
        f"`{id_col}` {id_field.dataType.simpleString()}, "
        f"`{vec_col}` array<double>, centroid_id int"
    )

    def assign(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            V = np.array([np.asarray(v, dtype=np.float64) for v in pdf[vec_col]])
            vn = np.linalg.norm(V, axis=1)
            vn[vn == 0] = 1.0
            Vn = V / vn[:, None]
            S = Vn @ Cn
            # NaN sims (NaN vector components) sort first under
            # Spark's descending total order — replicate via +inf
            S = np.where(np.isnan(S), np.inf, S)
            # stable ascending argsort of -sim: equal sims keep column
            # (= cid) order — the `sim desc, cid asc` tie-break
            top = np.argsort(-S, axis=1, kind="stable")[:, :n]
            out_vec = Vn if normalize else V
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col].values.repeat(n),
                    vec_col: out_vec.repeat(n, axis=0).tolist(),
                    "centroid_id": cids[top].ravel(),
                }
            )

    return (
        corpus.select(id_col, vec_col)
        .where(F.col(vec_col).isNotNull())
        .mapInPandas(assign, out_schema)
    )


def _default_nlist(n: int) -> int:
    """The self-sized bucket count of an ``n``-vector index: the faiss
    ``max(16, 4√N)`` rule (assignment costs ``N·nlist`` folds, bucket
    pairing ``≈N²/nlist``)."""
    return max(16, int(4 * n**0.5))


def _ivf_columns(schema) -> tuple[str | None, list[str]]:
    """``(vector column, id columns)`` of an assigned IVF table: the
    vector is its array column, the ids are the other scalar columns
    (``centroid_id`` aside)."""
    from pyspark.sql.types import ArrayType

    arrays = [f.name for f in schema.fields if isinstance(f.dataType, ArrayType)]
    ids = [f.name for f in schema.fields if f.name not in ("centroid_id", *arrays)]
    return next(iter(arrays), None), ids


def _bucket(cid) -> str:
    """The directory name of centroid ``cid``'s bucket."""
    return f"centroid_id={cid}"


def _bucket_cid(path: str) -> str | None:
    """The centroid id (as written in the name) of the bucket dir
    ``path`` — its last component — or None when that is not a
    ``centroid_id=`` partition dir (e.g. a crashed write's
    ``_temporary``).  The Hive null bucket's id is
    ``__HIVE_DEFAULT_PARTITION__``."""
    key, eq, cid = path.rstrip("/").rsplit("/", 1)[-1].partition("=")
    return cid if key == "centroid_id" and eq else None


def _bucket_ids(spark, base: str) -> list[str]:
    """The centroid ids of the bucket dirs directly under ``base``, from
    ONE flat listing (readdir, no recursion, no per-file status)."""
    from hadoop__spark.operators.util import list_child_dirs

    return [
        cid
        for d in list_child_dirs(spark, base)
        if (cid := _bucket_cid(d)) is not None
    ]


def _write_buckets(
    frame: DataFrame,
    path: str,
    mode: str,
    id_cols: list[str],
    shard: str | None = None,
    max_records: int | None = None,
) -> None:
    """The one writer of the IVF bucket layout: rows clustered by
    ``centroid_id`` (and the optional ``shard`` column, which splits a
    bucket over several tasks and is dropped before the write), sorted
    within each task by ``id_cols``, written ``partitionBy("centroid_id")``
    — one Hive-style directory per bucket, normally one file per bucket
    and task, capped at ``max_records`` rows a file when given.

    ``centroid_id`` leads the sort: the partitioned writer requires
    task rows clustered by the partition column and would insert its
    own (order-destroying) sort if they were not, so leading with it
    makes the id order reach the row groups at zero extra cost —
    retraction's pushed-IN discovery prunes row groups by it."""
    keys = ["centroid_id", *([shard] if shard else [])]
    out = frame.repartition(*keys).sortWithinPartitions(*keys, *id_cols)
    writer = (out.drop(shard) if shard else out).write.mode(mode)
    if max_records:
        writer = writer.option("maxRecordsPerFile", max_records)
    writer.partitionBy("centroid_id").parquet(path)


def ivf_write_index(
    corpus: DataFrame,
    path: str,
    nlist: int = 16,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    seed: int = 42,
) -> None:
    """Persist an IVF index: the assigned corpus partitioned by
    ``centroid_id`` (so query-time probing is a partition-pruned scan)
    plus the centroid table.

    This is the storage layout the in-memory :func:`ivf_topk` docstring
    promises at 100 TB: each centroid bucket is a Hive-style partition
    directory, and a query touching nprobe buckets reads exactly those
    directories and nothing else.

    Rows go through :func:`_write_buckets`, the one layout writer
    (id-sorted within each bucket), so a fresh write (or a
    maintenance-window re-fit, which calls this) needs NO follow-up
    compaction for retraction's pushed-IN row-group pruning to work.
    """
    cents = ivf_fit_centroids(corpus, nlist, vec_col, seed)
    # fit on the raw frame (sampling is partition-layout-sensitive),
    # assign on the spread frame: nlist folds per row on one core
    # otherwise serializes a single-row-group input (no-op at scale)
    assigned = ivf_assign(ensure_parallelism(corpus), cents, vec_col, id_col)
    _write_buckets(assigned, f"{path}/assigned", "overwrite", [id_col])
    cents.coalesce(1).write.mode("overwrite").parquet(f"{path}/centroids")


def ivf_append_index(
    spark,
    path: str,
    corpus: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> None:
    """Append new vectors to a persisted IVF index: assign them to the
    EXISTING centroid table (zero-shuffle projection) and append into
    the ``centroid_id``-partitioned layout — new parquet files land
    inside the existing bucket directories, so :func:`ivf_read_topk`'s
    partition pruning covers old and new vectors alike with no index
    rebuild.

    This is the incremental half of the index lifecycle (mirrors
    ``dedup.minhash_lsh_pairs_between`` on the text plane): ingest
    batches append in O(batch), queries stay O(probed buckets).
    Standard IVF caveat applies — centroids are frozen at fit time, so
    as the appended corpus drifts from the fitted distribution, bucket
    balance degrades (recall does not break: queries still probe their
    nearest centroids and every vector lives in its nearest bucket of
    the SAME centroid set).  Re-fit and rewrite when bucket-size skew
    shows up in scan metrics — the rewrite is one
    :func:`ivf_write_index` call.

    The appended vectors are CAST to the stored index's element type
    first: parquet partitions mixing ``array<float>`` and
    ``array<double>`` files would make every later full read of
    ``assigned`` fail with a physical-type mismatch — the index
    layout is the contract, exactly like the minhash plane's
    ``num_perm`` (a float-indexed corpus appending doubles loses the
    extra precision, which cosine probing never resolved anyway).
    """
    cents = spark.read.parquet(f"{path}/centroids")
    stored_type = (
        spark.read.parquet(f"{path}/assigned").schema[vec_col].dataType
    )
    if corpus.schema[vec_col].dataType != stored_type:
        corpus = corpus.withColumn(
            vec_col, F.col(vec_col).cast(stored_type)
        )
    assigned = ivf_assign(ensure_parallelism(corpus), cents, vec_col, id_col)
    _write_buckets(assigned, f"{path}/assigned", "append", [id_col])


def read_probed_buckets(spark, base: str, probe_ids) -> DataFrame:
    """Bucket-pruned read of a ``centroid_id=…`` partitioned assigned
    table that LISTS only the probed directories.

    ``spark.read.parquet(base).where(col.isin(probe_ids))`` prunes the
    SCAN, but building the file index still lists every partition
    directory — and past ``spark.sql.sources.parallelPartitionDiscovery
    .threshold`` (default 32) that listing is itself a Spark job with
    one task per directory, re-run on every read (measured: 800
    buckets → 1.5-3.0 s per probe vs 0.2 s dir-targeted; the r13
    refit rehearsal's post-refit probe paid 6.3 s at nlist=191).  At
    the 100 TB shape (nlist = 4√N, hundreds of thousands of buckets)
    full discovery dwarfs the pruned read.  Here: ONE flat
    ``listStatus`` of the base dir (readdir, no recursion, no
    per-file status) picks the probed child dirs, and the reader is
    handed exactly those paths — listing cost ∝ nprobe hits, not
    nlist.  ``basePath`` keeps ``centroid_id`` a partition column
    with the same inference as the full read; a probed id whose
    bucket dir does not exist (a centroid that never received rows)
    contributes zero rows either way.  Falls back to the
    prune-by-filter read when no probed dir is found (preserving the
    full read's schema and its missing-table error)."""
    # materialize once: a generator argument would be exhausted by the
    # set-build, leaving the later isin() an always-false isin([])
    probe_ids = list(probe_ids)
    probe_set = {str(c) for c in probe_ids}
    hit = [
        f"{base}/{_bucket(cid)}"
        for cid in _bucket_ids(spark, base)
        if cid in probe_set
    ]
    if not hit:
        return spark.read.parquet(base).where(
            F.col("centroid_id").isin(list(probe_ids))
        )
    # the isin survives as a (trivially-true) partition filter —
    # belt-and-braces against a stray dir-name mismatch
    return (
        spark.read.option("basePath", base)
        .parquet(*hit)
        .where(F.col("centroid_id").isin(list(probe_ids)))
    )


def ivf_read_topk(
    spark,
    path: str,
    queries: DataFrame,
    k: int = 10,
    nprobe: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Query a persisted IVF index with partition pruning.

    The probe-bucket set (|queries| × nprobe ints) is collected to the
    driver — that tiny list, never the corpus, is what drives the
    dir-targeted assigned read (:func:`read_probed_buckets` — listing
    ∝ probed buckets, not nlist).
    """
    cents = spark.read.parquet(f"{path}/centroids")
    q_buckets = _probe_buckets(
        queries, collect_centroid_array(cents), nprobe, vec_col, id_col
    )
    probe_ids = sorted(
        {r.centroid_id for r in q_buckets.select("centroid_id").collect()}
    )
    assigned = read_probed_buckets(spark, f"{path}/assigned", probe_ids)
    return _probe_topk(assigned, q_buckets, k, vec_col, id_col)


def _probe_buckets(
    queries: DataFrame, cent_arr: Column, nprobe: int, vec_col: str, id_col: str
) -> DataFrame:
    """``(query_id, _qv, centroid_id)``: one row per query and probed
    bucket — the ``nprobe`` centroids of ``cent_arr`` nearest the
    query vector ``_qv``."""
    q = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("_qv"))
    return q.select(
        "query_id",
        "_qv",
        F.explode(
            F.transform(
                nearest_centroids(F.col("_qv"), cent_arr, nprobe, cosine_sim),
                lambda s: s["cid"],
            )
        ).alias("centroid_id"),
    )


def _probe_topk(
    assigned: DataFrame, q_buckets: DataFrame, k: int, vec_col: str, id_col: str
) -> DataFrame:
    """Top-``k`` of each query over the vectors of its probed buckets.
    The small ``q_buckets`` side is broadcast, so the assigned corpus
    never shuffles before the join."""
    sims = (
        assigned.join(F.broadcast(q_buckets), "centroid_id")
        .where(F.col(id_col) != F.col("query_id"))
        .select(
            "query_id",
            F.col(id_col).alias("neighbor_id"),
            cosine_sim(F.col("_qv"), F.col(vec_col)).alias("cosine"),
        )
    )
    return _top_k(sims, k)


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    nlist: int = 16,
    nprobe: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    seed: int = 42,
) -> DataFrame:
    """IVF approximate top-k: probe only the nprobe nearest buckets.

    At 100 TB the assigned corpus would be written out partitioned by
    ``centroid_id`` so query-time probing is a partition-pruned scan.
    """
    cents = ivf_fit_centroids(corpus, nlist, vec_col, seed)
    # fit on the raw frame, assign on the spread one (see
    # ivf_write_index — the fit's sample is partition-layout-sensitive).
    # The centroid literal is built ONCE and shared by the corpus
    # assignment and the query-side probe selection: ivf_assign would
    # re-collect the centroid frame for an identical expression (one
    # redundant driver job per call).
    cent_arr = collect_centroid_array(cents)
    assigned = _assigned(ensure_parallelism(corpus), cent_arr, vec_col, id_col)
    q_buckets = _probe_buckets(queries, cent_arr, nprobe, vec_col, id_col)
    return _probe_topk(assigned, q_buckets, k, vec_col, id_col)
