"""Deduplication operators: exact, fingerprint, MinHash-LSH, SimHash,
n-gram Jaccard.

Everything runs through Spark built-ins — higher-order array functions
and ``xxhash64`` — so the hot path stays inside whole-stage codegen
with zero Python.  The only shuffles are the group-bys/joins inherent
to the algorithms (hash-partition by text-hash, LSH bucket, or band),
which is exactly how these scale to 100 TB: candidate generation is a
bucket-local self-join, never an all-pairs cross join.

Design notes at scale:

* Exact/fingerprint dedup shuffle once on the hash of the normalized
  text — the 16-byte digest, not the document body, is the shuffle key
  payload when ``keep='min_id'`` projects early.
* MinHash-LSH: `num_perm` minhashes per doc are computed scan-side;
  banding explodes to `bands` rows/doc (default 16), then one shuffle
  groups band-buckets.  Bucket skew (giant clusters of identical text)
  is bounded because exact duplicates should be removed by fingerprint
  dedup *first* — the canonical pipeline is exact → minhash.
* Pair verification joins candidates back to shingle sets and computes
  exact Jaccard with ``array_intersect``/``array_union`` — no UDF.
"""

from __future__ import annotations

from functools import reduce

from pyspark import StorageLevel
from pyspark.sql import Column, DataFrame, Window, functions as F

from hadoop__spark.operators.similarity import _default_nlist, _dot, _norm
from hadoop__spark.operators.text import (
    exact_key,
    fingerprint_expr,
    normalized,
    tokens,
)
from hadoop__spark.operators.util import ensure_parallelism

# frames persisted by probe functions that RETURN lazy plans and so
# have no local unpersist point (documented at minhash_lsh_pairs).
# Each entry stays in the session's CacheManager until unpersisted —
# and every query COMPILE walks all registered entries, so a
# long-lived session (a streaming ingest driver) slows down per batch
# as entries accrue (measured: 20 s → 87 s per identical micro-batch
# over 120 ingests, flat-table compaction notwithstanding —
# tools/cadence_rehearsal.py).  Loop drivers call
# :func:`release_probe_caches` once per iteration, after everything
# derived from the probes has been materialized.
#
# Keyed BY OWNING SESSION (id of the frame's SparkSession): a process
# hosting several sessions — or an ingest loop running concurrently
# with a one-shot prepare_corpus on another session — must not have
# one session's release unpersist the other's mid-job frames
# (recompute thrash), nor pin the other's frames against
# ContextCleaner forever.  (id() is stable for the session's
# lifetime; a recycled id after GC could at worst inherit a dead
# session's stale entries, whose unpersist is a correctness-safe
# no-op.)
_UNRELEASED_PROBE_CACHES: dict[int, list[DataFrame]] = {}


def _register_probe_cache(df: DataFrame) -> DataFrame:
    _UNRELEASED_PROBE_CACHES.setdefault(id(df.sparkSession), []).append(df)
    return df


def release_probe_caches(spark=None) -> int:
    """Unpersist every probe-cached frame accumulated since the last
    release — ``spark``'s frames only when given, every session's when
    omitted — returning how many were released.

    ALWAYS correctness-safe: these frames are ``persist``-ed (lineage
    kept), so a still-live lazy plan that referenced one simply
    recomputes — nothing fails, nothing changes value.  The point is
    the long-lived-session contract: :func:`ingest_batch` calls this
    (scoped to its own session) after each batch's state appends are
    durable, keeping the CacheManager (whose entries every query
    compile scans) and the block store flat across thousands of
    micro-batches.  One-shot pipelines (``prepare_corpus``)
    deliberately do NOT auto-release — their lazy results may still
    be consumed downstream, and their session ends with the job
    anyway."""
    if spark is None:
        frames = [
            f
            for lst in _UNRELEASED_PROBE_CACHES.values()
            for f in lst
        ]
        _UNRELEASED_PROBE_CACHES.clear()
    else:
        frames = _UNRELEASED_PROBE_CACHES.pop(id(spark), [])
    for f in frames:
        f.unpersist()
    return len(frames)


def shingles_of_tokens(w: Column, n: int = 3) -> Column:
    """Distinct word n-gram shingles from an already-materialized token
    array column.

    Built with ``zip_with`` over shifted copies of the token array, not
    ``transform(sequence, i -> slice(w, i, n))``: every argument here is
    evaluated once per ROW, whereas an expression referencing the token
    pipeline inside a lambda re-runs normalize+split per ELEMENT
    (higher-order lambdas re-evaluate captured expressions; measured
    ~100µs/shingle → seconds/doc at sf0.1).
    """
    if n == 1:
        return F.array_distinct(w)
    sh = w
    for k in range(1, n):
        shifted = F.slice(w, k + 1, F.greatest(F.size(w) - k, F.lit(0)))
        sh = F.zip_with(
            sh,
            shifted,
            lambda a, b: F.when(
                a.isNull() | b.isNull(), F.lit(None)
            ).otherwise(F.concat(a, F.lit(" "), b)),
        )
    sh = F.array_distinct(F.filter(sh, lambda x: x.isNotNull()))
    return F.when(F.size(w) >= n, sh).otherwise(
        F.array(F.concat_ws(" ", w))
    )


def _shingles_with_fallback(w: Column, text: Column, n: int) -> Column:
    """Shingles of the token array, with the TOKEN-LESS fallback keyed
    on the raw text: ``tokens()`` strips everything outside
    ``[a-z0-9 ]``, so a pure-CJK or pure-punctuation document has an
    empty token array — and ``shingles_of_tokens``'s short-doc branch
    would reduce EVERY such document to the single shingle ``[""]``,
    making all of them mutual Jaccard-1.0 / Hamming-0 "duplicates"
    that the near-dup planes then delete (the same collapse class
    :func:`~hadoop__spark.operators.text.exact_key` closes on the
    exact plane, and the same fallback rule: identical raw texts still
    pair at 1.0, distinct ones share nothing).  A NULL text yields an
    empty set (dropped — null is near nothing)."""
    return F.when(F.size(w) > 0, shingles_of_tokens(w, n)).otherwise(
        F.filter(F.array(exact_key(text)), lambda x: x.isNotNull())
    )


def shingles(col: Column, n: int = 3) -> Column:
    """Distinct word n-gram shingles of the normalized text (one
    self-contained expression).  Prefer :func:`shingle_frame` in
    operator code — see its docstring for why."""
    return _shingles_with_fallback(tokens(col), col, n)


def shingle_frame(
    df: DataFrame, text_col: str, id_col: str, n: int
) -> DataFrame:
    """(_id, _sh) shingle frame via a TWO-step projection: tokens
    first, shingles from the materialized token array.

    The one-expression form inlines ``tokens(col)`` — two regexes +
    split — at every reference in the zip_with chain, producing a huge
    expression tree.  Runtime subexpression elimination mostly saves
    the re-evaluation, but compiling the inlined tree measurably does
    not: the split projection is ~2.4× faster on the first (codegen)
    pass at sf0.1 and no slower warm.  Rows with no shingles (NULL
    text) are dropped; token-LESS rows shingle as their raw text
    (see :func:`_shingles_with_fallback`).

    The no-shingle drop is expressed as ``text IS NOT NULL`` on the
    BASE column, not ``size(_sh) > 0`` on the derived one: the two are
    equivalent (for non-null text the token branch always yields ≥ 1
    shingle and the fallback branch keys on the non-null raw text;
    for NULL text the fallback filters to an empty array), but a
    filter on the derived column is pushed below the projection with
    the whole shingle expression re-inlined into the Filter — every
    row paid normalize+tokenize+shingle TWICE (measured ~2× on this
    stage at sf0.1, the dominant stage of dd03/dd04/dd05), while the
    base-column form is a free parquet pushed filter.
    """
    return (
        ensure_parallelism(df.where(F.col(text_col).isNotNull()))
        .select(
            F.col(id_col).alias("_id"),
            F.col(text_col).alias("_txt"),
            tokens(F.col(text_col)).alias("_w"),
        )
        .select(
            "_id",
            _shingles_with_fallback(F.col("_w"), F.col("_txt"), n).alias(
                "_sh"
            ),
        )
    )


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact dedup on normalized text: one row per distinct text with the
    smallest id as the keeper and the duplicate count."""
    return (
        ensure_parallelism(df)
        .select(F.col(id_col), exact_key(F.col(text_col)).alias("_norm"))
        .groupBy("_norm")
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count("*").cast("bigint").alias("n_copies"),
        )
        .select("keep_id", "n_copies")
    )


def fingerprint_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Hash-based exact dedup: group by md5 of normalized text.

    At scale this beats :func:`exact_dedup` because the shuffle key is a
    16-byte digest instead of the document body.
    """
    return (
        ensure_parallelism(df)
        .select(
            F.col(id_col), fingerprint_expr(F.col(text_col)).alias("fp")
        )
        .groupBy("fp")
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count("*").cast("bigint").alias("n_copies"),
        )
        .select("fp", "keep_id", "n_copies")
    )


def _minhash_signatures(base: DataFrame, num_perm: int) -> DataFrame:
    """``num_perm`` minhash columns per ``_id`` from a (_id, _sh) frame.

    Each shingle string is hashed once (``xxhash64``); permutation i is
    then a fixed-width ``xxhash64(h, i)`` — the standard 'k hash
    functions' construction.  Shingles are *exploded* and reduced with
    num_perm ``min`` hash-aggregates: unlike higher-order array
    functions (interpreted, no codegen — measured minutes at sf0.1)
    this stays inside whole-stage codegen with map-side partial
    aggregation, so the shuffle carries one partially-reduced row per
    (partition, doc), not per shingle.
    """
    exploded = base.select(
        "_id", F.explode("_sh").alias("_s")
    ).select("_id", F.xxhash64("_s").alias("_h"))
    return exploded.groupBy("_id").agg(
        *[
            F.min(F.xxhash64(F.col("_h"), F.lit(i))).alias(f"mh_{i}")
            for i in range(num_perm)
        ]
    )


def _num_perm(mh: DataFrame, bands: int | None = None) -> int:
    """Signature width of an (_id, mh_*) frame.  With ``bands``, refuse
    a band count that does not divide it: rows_per_band would TRUNCATE
    silently — and at num_perm < bands every band hashed a constant,
    putting the whole corpus in one capped bucket (recall collapse)."""
    num_perm = sum(c.startswith("mh_") for c in mh.columns)
    if bands is not None and num_perm % bands:
        raise ValueError(f"bands={bands} must divide num_perm={num_perm}")
    return num_perm


def _jaccard_verify(
    cand: DataFrame,
    sh_a: DataFrame,
    sh_b: DataFrame,
    id_a: str,
    id_b: str,
    threshold: float,
) -> DataFrame:
    """Exact verify of a candidate-pair frame ``(id_a, id_b)``: join
    each side's full shingle set from the (_id, _sh) frames ``sh_a`` and
    ``sh_b``, compute Jaccard with ``array_intersect``/``array_union``
    (no UDF) and keep the pairs at or above ``threshold``."""
    return (
        cand.join(
            sh_a.select(F.col("_id").alias(id_a), F.col("_sh").alias("sh_a")),
            id_a,
        )
        .join(
            sh_b.select(F.col("_id").alias(id_b), F.col("_sh").alias("sh_b")),
            id_b,
        )
        .select(
            id_a,
            id_b,
            (
                F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
                / F.size(F.array_union("sh_a", "sh_b"))
            ).alias("jaccard"),
        )
        .where(F.col("jaccard") >= threshold)
    )


def _capped(members: DataFrame, keys: list[str], cap: int) -> DataFrame:
    """At most ``cap`` members (smallest ``_id`` first) per bucket
    ``keys``.  A bucket that large means the band hash is degenerate
    for those docs (boilerplate/empty shingles), and their real
    near-dup pairs almost surely co-occur in a healthier band — the
    standard datasketch/Spark-LSH mitigation."""
    w = Window.partitionBy(*keys).orderBy("_id")
    return (
        members.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= cap)
        .drop("_rn")
    )


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    num_perm: int = 64,
    bands: int = 16,
    threshold: float = 0.8,
    max_bucket: int = 1000,
) -> DataFrame:
    """Near-duplicate pairs via MinHash + LSH banding + exact verify.

    shingle → minhash (num_perm) → band (bands × rows_per_band) →
    bucket self-join for candidates → exact Jaccard verification ≥
    threshold.  With the defaults the banding S-curve midpoint is
    (1/16)^(1/4) ≈ 0.5, so recall at 0.8 is ~1-3e-9 — the exact-verify
    step then removes all false positives, making the operator's output
    equal to exact all-pairs Jaccard at the threshold (which is what
    the DuckDB oracle computes).  Shingles and signs the text, then
    pairs through :func:`minhash_lsh_pairs_frames`.
    """
    # The shingle frame feeds three consumers (signatures + both sides
    # of the exact-verify join); without materialization each one
    # re-scans and re-normalizes the corpus.  Strategy tradeoff,
    # measured at sf0.1 (NOTES.md round-4 entry):
    #
    # * persist(MEMORY_AND_DISK): keeps lineage, so executor loss
    #   recomputes blocks transparently, and the CacheManager's
    #   plan-matching lets repeated calls reuse the cache (warm runs
    #   ~25% faster than checkpointing).  Cost: entries live in the
    #   CacheManager until unpersist, and a function returning a lazy
    #   plan has no safe unpersist point — long-lived sessions release
    #   them through release_probe_caches.
    # * localCheckpoint(eager=False): blocks are released by the
    #   ContextCleaner when the caller drops the frame, but lineage is
    #   TRUNCATED and blocks are unreplicated executor-local — any
    #   executor loss (routine at 100 TB, near-certain under dynamic
    #   allocation) fails the query with a missing-checkpoint-block
    #   error instead of recomputing.
    #
    # So persist: recomputability + cache reuse beat automatic cleanup,
    # and under dynamic allocation localCheckpoint is outright unsafe
    # (Spark's own docs flag it).  At 100 TB, materialize signatures as
    # a table instead (minhash_write_signatures, NOTES.md).
    base = shingle_frame(df, text_col, id_col, n)
    # signed BEFORE the persist so a bad band count is refused with no
    # cache registered; cached data is substituted when the plan is
    # optimized, so the signatures still read the persisted frame
    mh = _minhash_signatures(base, num_perm)
    _num_perm(mh, bands)
    base = _register_probe_cache(base.persist(StorageLevel.MEMORY_AND_DISK))
    return minhash_lsh_pairs_frames(
        mh, base.select("_id", "_sh"), bands, threshold, max_bucket
    )


def _band_buckets(mh: DataFrame, bands: int) -> DataFrame:
    """(_id, band_idx, band_hash) LSH bucket memberships from an
    (_id, mh_0..mh_{num_perm-1}) signature frame: band hash =
    xxhash64 over the band's rows_per_band signature slots."""
    rows_per_band = _num_perm(mh, bands) // bands
    banded = mh.select(
        "_id",
        F.array(
            *[
                F.xxhash64(
                    F.lit(b),
                    *[
                        F.col(f"mh_{b * rows_per_band + r}")
                        for r in range(rows_per_band)
                    ],
                )
                for b in range(bands)
            ]
        ).alias("_bands"),
    )
    return banded.select(
        "_id", F.posexplode("_bands").alias("band_idx", "band_hash")
    )


def minhash_write_signatures(
    df: DataFrame,
    path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    num_perm: int = 64,
    mode: str = "overwrite",
) -> None:
    """Materialize the MinHash state as tables: ``{path}/shingles``
    (_id, _sh) and ``{path}/signatures`` (_id, mh_0..mh_{num_perm-1}).
    ``mode="append"`` adds a new batch's rows to both tables (the
    ingest loop; ``n``/``num_perm`` must match the stored state).

    This is the 100 TB lifecycle answer to the persist-vs-checkpoint
    tradeoff documented in :func:`minhash_lsh_pairs` (and the path
    NOTES.md names): signatures computed once, stored columnar, shared
    by every later pairing run (:func:`minhash_lsh_pairs_frames` over
    the two tables read back) — no CacheManager entry to leak in a
    long-lived session, no executor-loss recompute risk, and banding
    reads ONLY the mh_* columns (column pruning) while the verify join
    reads only (_id, _sh).  Mirrors the persisted-IVF-index pattern
    (``similarity.ivf_write_index``).
    """
    base = shingle_frame(df, text_col, id_col, n).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    try:
        minhash_write_signatures_frames(
            df.sparkSession, path, base, _minhash_signatures(base, num_perm), mode
        )
    finally:
        # both consumers are eager write jobs, so this unpersist point
        # is safe — unlike the lazy-return in minhash_lsh_pairs
        base.unpersist()


def minhash_write_signatures_frames(
    spark,
    path: str,
    sh: DataFrame,
    mh: DataFrame,
    mode: str,
) -> None:
    """:func:`minhash_write_signatures` from ALREADY-COMPUTED frames —
    ``sh`` is an (_id, _sh) shingle frame, ``mh`` an (_id, mh_*)
    signature frame (e.g. a batch's staged signature tables that the
    probe and the within-batch pairing already consumed).  Writes the
    same two tables; nothing is re-tokenized or re-hashed — the
    single-computation half of the ingest loop's signature staging.
    ``mode`` is REQUIRED (no default): the from-text twin defaults to
    ``"overwrite"`` while this variant's natural use is the ingest
    loop's ``"append"`` — a silent default either way would flip write
    semantics under a caller porting between the two.

    An append whose ``num_perm`` differs from the stored signature
    table's is refused: the mismatched files' schema differs, and
    Spark's non-merging parquet read would then resolve to an
    arbitrary file's schema (silent corruption).  (An ``n`` mismatch is
    not schema-visible — the docstring contract above covers it.)"""
    from hadoop__spark.operators.util import table_exists

    num_perm = _num_perm(mh)
    # existence is checked explicitly, NOT by catching the read error,
    # which would also swallow transient I/O failures and skip the
    # guard at exactly the wrong moment
    if mode == "append" and table_exists(spark, f"{path}/signatures"):
        stored = _num_perm(spark.read.parquet(f"{path}/signatures"))
        if stored != num_perm:
            raise ValueError(
                f"append with num_perm={num_perm} onto a table "
                f"written with num_perm={stored}"
            )
    sh.select("_id", "_sh").write.mode(mode).parquet(f"{path}/shingles")
    mh.write.mode(mode).parquet(f"{path}/signatures")


def minhash_lsh_pairs_frames(
    mh: DataFrame,
    sh_sets: DataFrame,
    bands: int = 16,
    threshold: float = 0.8,
    max_bucket: int = 1000,
) -> DataFrame:
    """Banding + bucket candidate generation + exact-Jaccard verify
    from ALREADY-COMPUTED frames — ``mh`` an (_id, mh_*) signature
    frame, ``sh_sets`` an (_id, _sh) shingle frame.  Every MinHash
    self-pair route ends here: :func:`minhash_lsh_pairs` signs the text
    first; the tables :func:`minhash_write_signatures` wrote are paired
    by reading them back (``spark.read.parquet`` of ``{path}/signatures``
    and ``{path}/shingles``); the ingest loop passes its per-batch
    signature staging, semi-joined down to the ids still alive after
    the exact pass.  The per-row shingle and signature projections are
    deterministic, so frames computed once on a superset and filtered
    equal frames recomputed on the subset.  ``bands`` is a query-time
    choice (the banding S-curve) and must divide the frame's
    ``num_perm``."""
    keys = ["band_idx", "band_hash"]
    # Candidate pairs by grouping each LSH bucket and emitting its
    # i<j combinations with higher-order array functions: ONE shuffle
    # of the bucket table (vs a self-join shuffling it twice), same
    # output.  Measured ~3 s faster cold at sf0.1.  Pair count per
    # bucket is quadratic (inherent to LSH banding), so hot buckets
    # are capped at ``max_bucket`` members BEFORE collect_list ever
    # materializes them (row_number over the same key — the window's
    # hash partitioning is reused by the groupBy, so the cap adds no
    # extra shuffle).
    grouped = (
        _capped(_band_buckets(mh, bands), keys, max_bucket)
        .groupBy(*keys)
        .agg(F.array_sort(F.collect_list("_id")).alias("ids"))
        .where(F.size("ids") > 1)
    )
    cand = (
        grouped.select(
            F.explode(
                F.expr(
                    "flatten(transform(ids, (x, i) -> "
                    "transform(slice(ids, i + 2, size(ids)), "
                    "y -> struct(x AS id_a, y AS id_b))))"
                )
            ).alias("p")
        )
        .select("p.id_a", "p.id_b")
        .distinct()
    )
    return _jaccard_verify(cand, sh_sets, sh_sets, "id_a", "id_b", threshold)


def minhash_lsh_pairs_between(
    spark,
    path: str,
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    bands: int = 16,
    threshold: float = 0.8,
    max_bucket: int = 1000,
) -> DataFrame:
    """Near-duplicate pairs BETWEEN a new document batch and an
    indexed corpus — the incremental-crawl question ("which of these
    new documents duplicate something we already have?") answered
    without re-pairing the whole corpus.

    ``path`` is a :func:`minhash_write_signatures` index; ``df`` is
    the new batch, shingled at the same ``n`` the index was written
    with (the stored shingles bake ``n`` in — mixing orders produces
    meaningless Jaccard).  Returns ``(id_new, id_old, jaccard)`` with
    exact-verified Jaccard ≥ ``threshold``.  Within-batch duplicates
    are deliberately out of scope — run :func:`minhash_lsh_pairs` on
    the batch for those; the composition covers A∪B completely when
    the corpus was already self-deduped.  Shingles and signs the batch
    at the stored ``num_perm``, then pairs through
    :func:`minhash_lsh_pairs_between_frames`.
    """
    # validate BEFORE the persist below: raising after it would
    # strand a registered CacheManager entry on the error path
    num_perm = _num_perm(spark.read.parquet(f"{path}/signatures"), bands)
    # same persist-with-no-unpersist-point tradeoff as
    # minhash_lsh_pairs (documented there): the batch shingle frame
    # feeds both the signatures and the verify join; registered so
    # the ingest loop releases it once the batch is durable
    base_new = _register_probe_cache(
        shingle_frame(df, text_col, id_col, n).persist(
            StorageLevel.MEMORY_AND_DISK
        )
    )
    return minhash_lsh_pairs_between_frames(
        spark,
        path,
        _minhash_signatures(base_new, num_perm),
        base_new.select("_id", "_sh"),
        bands=bands,
        threshold=threshold,
        max_bucket=max_bucket,
    )


def minhash_lsh_pairs_between_frames(
    spark,
    path: str,
    mh_new: DataFrame,
    sh_new: DataFrame,
    bands: int = 16,
    threshold: float = 0.8,
    max_bucket: int = 1000,
) -> DataFrame:
    """:func:`minhash_lsh_pairs_between` from the batch's
    ALREADY-COMPUTED frames — ``mh_new`` an (_id, mh_*) signature
    frame, ``sh_new`` an (_id, _sh) shingle frame, both shingled/signed
    at the index's own ``n``/``num_perm`` (the ingest loop stages them
    once per batch and reuses them here, in the within-batch pairing,
    and in the plane append — one tokenize+hash pass instead of
    three).  ``mh_new``'s width must match the stored index's
    ``num_perm``.

    Scale shape: candidate generation is a bucket equi-join of the
    batch's band table against the stored band table — cost is
    proportional to the batch's bucket memberships, never to corpus
    pairs.  Hot buckets are capped at ``max_bucket`` members per side
    (same degenerate-band mitigation as the self-join path).  The
    index's signature scan is column-pruned to mh_*; the verify join
    reads stored shingles only for candidate ids."""
    mh_old = spark.read.parquet(f"{path}/signatures")
    num_perm, new_perm = _num_perm(mh_old), _num_perm(mh_new)
    if new_perm != num_perm:
        raise ValueError(
            f"batch signature frame has num_perm={new_perm}, the "
            f"stored index num_perm={num_perm} — probe is meaningless "
            "across widths"
        )
    keys = ["band_idx", "band_hash"]
    cand = (
        _capped(_band_buckets(mh_new, bands), keys, max_bucket)
        .withColumnRenamed("_id", "id_new")
        .join(
            _capped(_band_buckets(mh_old, bands), keys, max_bucket)
            .withColumnRenamed("_id", "id_old"),
            keys,
        )
        .select("id_new", "id_old")
        .distinct()
    )
    return _jaccard_verify(
        cand,
        sh_new,
        spark.read.parquet(f"{path}/shingles"),
        "id_new",
        "id_old",
        threshold,
    )


def fingerprint_write(
    df: DataFrame,
    path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    mode: str = "overwrite",
) -> None:
    """Materialize the corpus exact-dedup state as a parquet table
    ``{path}/fingerprints`` (fp, keep_id, n_copies) — the md5 of each
    distinct normalized text with its keeper id.  16 bytes + id per
    DISTINCT document: the membership table an incremental pipeline
    probes new batches against (:func:`fingerprint_filter_new`).

    ``mode="append"`` adds a batch's fingerprints to the table —
    the ingest-loop step after :func:`fingerprint_filter_new` already
    removed the fps the table knows (so appends stay disjoint; pass a
    FILTERED batch, and note ``n_copies`` is then per-batch)."""
    fingerprint_dedup(df, text_col, id_col).write.mode(mode).parquet(
        f"{path}/fingerprints"
    )


def fingerprint_filter_new(
    spark,
    path: str,
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Rows of ``df`` whose normalized-text fingerprint does NOT
    already exist in the :func:`fingerprint_write` table — the exact
    half of incremental dedup.  One anti-join keyed on the 16-byte
    digest; the stored table never rewrites (append the surviving
    batch's fingerprints to a NEW snapshot — Spark cannot safely
    overwrite a table it is reading).  Within-batch exact duplicates
    survive intact; run ``dedup_corpus(method="fingerprint")`` on the
    result for those (composition tested).

    ``df`` may be a STREAM: the md5 projection is stateless and a
    stream-static left-anti join is natively supported, so the same
    call drops already-known documents from a live ingest feed in
    append mode with zero state (tested in
    tests/test_sources_streaming.py) — the static table is re-read
    per micro-batch, picking up snapshot updates between batches."""
    fps = spark.read.parquet(f"{path}/fingerprints").select("fp")
    # join on the EXPRESSION, not a staged column: withColumn('_fp')
    # would clobber (and then drop) a caller column of that name
    return df.join(
        fps,
        fingerprint_expr(F.col(text_col)) == fps["fp"],
        "left_anti",
    )


def _inverted(sh: DataFrame) -> DataFrame:
    """(_id, _n, _s) postings of an (_id, _sh) frame.  ``_n`` (the
    set size, which the prefix length needs) rides along from before
    the explode, so no extra sizes join."""
    return sh.select(
        "_id", F.size("_sh").alias("_n"), F.explode("_sh").alias("_s")
    )


def _with_stale_df(inv: DataFrame, doc_freq: DataFrame) -> DataFrame:
    """Postings ranked by a supplied ``(_s, _df)`` table that may
    predate some shingles: left join, absent shingles get df 0 and rank
    first (the stale-df argument of :func:`ngram_jaccard_pairs` — any
    consistent order preserves exactness)."""
    return inv.join(doc_freq.select("_s", "_df"), "_s", "left").withColumn(
        "_df", F.coalesce("_df", F.lit(0))
    )


def _prefix(ranked: DataFrame, threshold: float) -> DataFrame:
    """The WWW'07 prefix of every document in a ranked postings frame
    (_id, _n, _s, _df): its first ``|d| - ceil(t*|d|) + 1`` shingles
    under the global (df asc, shingle asc) order.  The rank window
    partitions by document, so its buffer is bounded by document
    length, never by corpus size."""
    w = Window.partitionBy("_id").orderBy("_df", "_s")
    return ranked.withColumn("_rk", F.row_number().over(w)).where(
        F.col("_rk")
        <= F.col("_n") - F.ceil(F.lit(float(threshold)) * F.col("_n")) + 1
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.8,
    prefix_filter: bool = True,
    doc_freq: DataFrame | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard similarity pairs via a prefix-filtered
    inverted index.

    With ``prefix_filter=True`` (the default, and the 100 TB path),
    candidate generation uses prefix filtering (Bayardo/Ma/Srikant,
    "Scaling Up All Pairs Similarity Search", WWW'07): order every
    document's shingle set by ascending global document frequency
    (ties broken by the shingle string — any consistent total order
    works), and index only the first ``|d| - ceil(t*|d|) + 1``
    shingles of each document.  A pair with Jaccard >= t has
    ``|A∩B| >= ceil(t*max(|A|,|B|))`` common shingles, and the
    smallest-in-order common shingle provably lies inside BOTH
    prefixes — so the prefix-index self-join loses no qualifying
    pair, while stopword shingles (high df, ordered last) fall
    outside most prefixes and never k²-explode the join.  Every
    candidate is then verified EXACTLY against the full shingle sets
    with ``array_intersect``/``array_union``, so the operator's
    output is identical to the unfiltered inverted-index join
    (property-tested in tests/test_properties.py).

    ``prefix_filter=False`` keeps the plain inverted-index streaming
    self-join: no df aggregation, but every hot posting of k docs
    emits k² join rows — only sensible for small corpora or as the
    invariance oracle.

    ``doc_freq`` (a ``(_s, _df)`` frame, e.g. read back from
    :func:`ngram_write_doc_freq`) supplies the global document
    frequencies instead of re-aggregating them from the corpus —
    the amortization a repeated pipeline wants at 100 TB, where the
    df table is a vocabulary-sized corpus aggregation.  Correctness
    does NOT depend on the frequencies being current: the WWW'07
    prefix bound holds for ANY total order applied consistently to
    every document, and df-ascending is only the performance
    heuristic that keeps stopword shingles out of prefixes.  Shingles
    absent from a stale table get df 0 (they sort first — rare-first
    is also the right heuristic for unseen shingles), so a df table
    from an earlier corpus snapshot stays exact, just marginally less
    selective.

    The shingle frame is persisted (same strategy decision as
    :func:`minhash_lsh_pairs` — see the comment there): it feeds the
    inverted index (document frequencies + the prefix ranking) AND
    both sides of the exact verify join, so the lazy plan re-ran the
    corpus normalize+shingle projection four times (r15 before-plan:
    13 parquet scans of the corpus, 32 Exchanges).
    """
    sh = _register_probe_cache(
        shingle_frame(df, text_col, id_col, n).persist(
            StorageLevel.MEMORY_AND_DISK
        )
    )
    if not prefix_filter:
        sizes = sh.select("_id", F.size("_sh").alias("_n"))
        inv = sh.select("_id", F.explode("_sh").alias("_s"))
        # Streaming self-join, NOT a grouped collect_list pair
        # expansion: this path is exact, so hot postings cannot be
        # capped, and buffering an unbounded posting list in one
        # aggregation buffer is an OOM at scale — the sort-merge
        # join streams those pairs instead.
        common = (
            inv.alias("a")
            .join(
                inv.alias("b"),
                on=[F.col("a._s") == F.col("b._s"), F.col("a._id") < F.col("b._id")],
            )
            .groupBy(F.col("a._id").alias("id_a"), F.col("b._id").alias("id_b"))
            .agg(F.count("*").alias("_c"))
        )
        return (
            common.join(sizes.withColumnRenamed("_id", "id_a").withColumnRenamed("_n", "na"), "id_a")
            .join(sizes.withColumnRenamed("_id", "id_b").withColumnRenamed("_n", "nb"), "id_b")
            .select(
                "id_a",
                "id_b",
                (F.col("_c").cast("double") / (F.col("na") + F.col("nb") - F.col("_c"))).alias("jaccard"),
            )
            .where(F.col("jaccard") >= threshold)
        )

    inv = _inverted(sh)
    if doc_freq is None:
        ranked = inv.join(
            inv.groupBy("_s").agg(F.count("*").alias("_df")), "_s"
        )
    else:
        ranked = _with_stale_df(inv, doc_freq)
    prefix = _prefix(ranked, threshold)
    cand = (
        prefix.alias("a")
        .join(
            prefix.alias("b"),
            on=[F.col("a._s") == F.col("b._s"), F.col("a._id") < F.col("b._id")],
        )
        .select(F.col("a._id").alias("id_a"), F.col("b._id").alias("id_b"))
        .distinct()
    )
    return _jaccard_verify(cand, sh, sh, "id_a", "id_b", threshold)


def ngram_write_doc_freq(
    df: DataFrame,
    path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
) -> None:
    """Materialize the global (shingle, document-frequency) table at
    ``{path}/doc_freq`` for :func:`ngram_jaccard_pairs`'s ``doc_freq``
    option — the same sign-once pattern as
    :func:`minhash_write_signatures`: the df table is a
    vocabulary-sized corpus aggregation that a repeated pipeline
    should pay for once, not per pairing run."""
    sh = shingle_frame(df, text_col, id_col, n)
    (
        sh.select(F.explode("_sh").alias("_s"))
        .groupBy("_s")
        .agg(F.count("*").alias("_df"))
        .write.mode("overwrite")
        .parquet(f"{path}/doc_freq")
    )


def ngram_write_index(
    df: DataFrame,
    path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.8,
) -> None:
    """Materialize the full n-gram Jaccard state for incremental
    probing: ``{path}/shingle_sets`` (_id, _sh), ``{path}/doc_freq``
    (_s, _df), ``{path}/prefix`` (_s, _id — each document's WWW'07
    prefix under the global (df asc, shingle asc) order at
    ``threshold``), and a one-row ``{path}/meta`` (threshold, n).

    The stored prefix is valid for any probe threshold ≥ the write
    threshold (higher t needs a SHORTER prefix, and a prefix is the
    first k shingles of a fixed order — so the stored set contains
    every needed one); :func:`ngram_jaccard_pairs_between` enforces
    that.  Sign once, probe every batch.
    """
    from hadoop__spark.operators.util import local_frame

    sh = shingle_frame(df, text_col, id_col, n).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    try:
        sh.write.mode("overwrite").parquet(f"{path}/shingle_sets")
        inv = _inverted(sh)
        dfq = inv.groupBy("_s").agg(F.count("*").alias("_df"))
        dfq.write.mode("overwrite").parquet(f"{path}/doc_freq")
        dfq_stored = df.sparkSession.read.parquet(f"{path}/doc_freq")
        _prefix(inv.join(dfq_stored, "_s"), threshold).select(
            "_s", "_id"
        ).write.mode("overwrite").parquet(f"{path}/prefix")
        # Arrow-built local frame — see util.local_frame: the pickled
        # default made this one-row coalesce(1) write cost ~5 s
        local_frame(
            df.sparkSession,
            [(float(threshold), int(n))],
            "threshold DOUBLE, n INT",
        ).coalesce(1).write.mode("overwrite").parquet(f"{path}/meta")
    finally:
        sh.unpersist()


def ngram_append_index(
    spark,
    path: str,
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int | None = None,
    threshold: float | None = None,
) -> None:
    """Append a new batch to an :func:`ngram_write_index` index:
    shingle the batch at the STORED ``n``, compute its WWW'07 prefixes
    at the STORED threshold under the STORED document-frequency order
    (absent shingles get df 0 — the stale-df argument of
    :func:`ngram_jaccard_pairs`), and append to ``shingle_sets`` and
    ``prefix``.  ``doc_freq`` and ``meta`` stay FROZEN at their
    bootstrap values: the prefix bound needs only ONE consistent total
    order across every side, not a fresh one — every stored and
    appended prefix is computed under (bootstrap df, shingle), so
    :func:`ngram_jaccard_pairs_between` probes stay exact after any
    number of appends (tested).  Stale df only lengthens prefixes (a
    shingle that became common still sorts rare), never loses recall;
    rebuild the index when the frozen vocabulary has drifted far
    enough to hurt candidate pruning.

    ``n``/``threshold``, when given, are cross-checked against the
    stored meta and refused on mismatch — an appended prefix computed
    at a LOOSER threshold would be longer than the probe assumes
    (wasted candidates), a STRICTER one shorter than the bound needs
    (silent recall loss), and a different ``n`` makes cross-side
    Jaccard meaningless."""
    from hadoop__spark.operators.util import table_exists

    if not table_exists(spark, f"{path}/meta"):
        raise ValueError(
            f"no ngram index at {path} (meta table missing) — bootstrap "
            "with ngram_write_index first"
        )
    meta = spark.read.parquet(f"{path}/meta").first()
    if n is not None and n != meta.n:
        raise ValueError(
            f"append with n={n} onto an index written with n={meta.n}"
        )
    if threshold is not None and abs(threshold - meta.threshold) > 1e-12:
        raise ValueError(
            f"append with threshold={threshold} onto an index written "
            f"with threshold={meta.threshold}: appended prefixes must "
            "use the index's own bound — rebuild to change it"
        )
    dfq = spark.read.parquet(f"{path}/doc_freq")
    sh = shingle_frame(df, text_col, id_col, meta.n).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    try:
        sh.write.mode("append").parquet(f"{path}/shingle_sets")
        _prefix(_with_stale_df(_inverted(sh), dfq), meta.threshold).select(
            "_s", "_id"
        ).write.mode("append").parquet(f"{path}/prefix")
    finally:
        sh.unpersist()


def ngram_jaccard_pairs_between(
    spark,
    path: str,
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float | None = None,
) -> DataFrame:
    """EXACT n-gram Jaccard pairs between a new batch and a corpus
    indexed by :func:`ngram_write_index` — the exact-similarity mirror
    of :func:`minhash_lsh_pairs_between` / :func:`simhash_pairs_between`.
    Returns ``(id_new, id_old, jaccard ≥ threshold)``; within-batch
    pairs are :func:`ngram_jaccard_pairs`'s job.

    Correctness: the batch's prefixes are computed under the STORED
    df order (absent shingles get df 0 — the stale-df argument of
    :func:`ngram_jaccard_pairs` verbatim), the same total order the
    stored prefixes used, so the WWW'07 bound holds across the two
    sides: a qualifying cross pair shares its smallest-in-order
    common shingle inside both prefixes, and the prefix⋈prefix
    equi-join co-buckets it.  ``threshold`` (default: the index's
    write threshold) must be ≥ the write threshold — a lower one
    would need prefixes longer than stored, and the probe refuses
    rather than silently losing recall.  Every candidate is verified
    exactly against the full shingle sets.

    Scale shape: the batch is shingled/prefixed in memory against the
    stored vocabulary table (one broadcast-able or shuffled join on
    the shingle key); candidate generation joins the batch's prefix
    against the stored prefix table (cost ∝ shared-prefix-shingle
    postings, stopwords excluded from prefixes by construction); the
    verify join reads stored shingle sets only for candidate ids.
    """
    meta = spark.read.parquet(f"{path}/meta").first()
    if threshold is None:
        threshold = meta.threshold
    if threshold < meta.threshold - 1e-12:
        raise ValueError(
            f"probe threshold {threshold} < index write threshold "
            f"{meta.threshold}: stored prefixes are too short for this "
            "bound — rebuild the index at the lower threshold"
        )
    dfq = spark.read.parquet(f"{path}/doc_freq")
    sh_new = _register_probe_cache(
        shingle_frame(df, text_col, id_col, meta.n).persist(
            StorageLevel.MEMORY_AND_DISK
        )
    )
    prefix_new = _prefix(_with_stale_df(_inverted(sh_new), dfq), threshold)
    prefix_old = spark.read.parquet(f"{path}/prefix")
    cand = (
        prefix_new.select("_s", F.col("_id").alias("id_new"))
        .join(prefix_old.select("_s", F.col("_id").alias("id_old")), "_s")
        .select("id_new", "id_old")
        .distinct()
    )
    return _jaccard_verify(
        cand,
        sh_new,
        spark.read.parquet(f"{path}/shingle_sets"),
        "id_new",
        "id_old",
        threshold,
    )


def simhash(df: DataFrame, text_col: str = "text", id_col: str = "doc_id", n: int = 3) -> DataFrame:
    """64-bit SimHash over n-gram shingle features, fully JVM-side.

    Bit i of the signature is 1 iff the majority of feature hashes have
    bit i set.  The shingles are exploded and hashed once each, and
    one ``groupBy`` on the document sums all 64 bit indicators at once
    (64 conditional ``sum`` aggregates, partially aggregated map-side);
    no UDF.
    """
    masks = [(1 << i) if i < 63 else -(1 << 63) for i in range(64)]
    # explode_outer, not explode: shingle_frame guarantees a non-null,
    # non-empty array of non-null shingles per row, so the two are
    # row-identical here — but plain explode makes
    # InferFiltersFromGenerate add a size(_sh)>0 filter that is pushed
    # below the shingle projection with the WHOLE normalize+shingle
    # tree re-inlined (the same duplication shingle_frame's own filter
    # had; unlike dd03/dd04 this chain has no persist boundary to
    # absorb it).
    exploded = shingle_frame(df, text_col, id_col, n).select(
        "_id", F.explode_outer("_sh").alias("_s")
    ).select("_id", F.xxhash64("_s").alias("_h"))
    counted = exploded.groupBy("_id").agg(
        F.count("*").alias("_n"),
        *[
            F.sum(
                (F.col("_h").bitwiseAND(F.lit(m).cast("long")) != 0).cast("int")
            ).alias(f"c_{i}")
            for i, m in enumerate(masks)
        ],
    )
    sig = reduce(
        lambda a, b: a.bitwiseOR(b),
        [
            F.when(F.col(f"c_{i}") * 2 >= F.col("_n"), F.lit(m).cast("long"))
            .otherwise(F.lit(0).cast("long"))
            for i, m in enumerate(masks)
        ],
    )
    return counted.select(F.col("_id").alias(id_col), sig.alias("simhash"))


def _simhash_bucket_guard(
    sigs: DataFrame,
    n_docs: int | None,
    n_chunks: int,
    max_pairs: int | None,
) -> None:
    """Refuse a chunking whose expected candidate pairs per chunk
    bucket, N²/2^(chunk_bits+1), exceed ``max_pairs`` (``None``
    disables the guard).  N is ``n_docs`` when the caller knows it,
    else a count of ``sigs`` — one full-scan job, which is why every
    SimHash entry point takes ``n_docs``."""
    if max_pairs is None:
        return
    if n_docs is None:
        n_docs = sigs.count()
    chunk_bits = 64 // n_chunks
    exp_bucket = n_docs / float(2**chunk_bits)
    exp_pairs = exp_bucket * exp_bucket / 2.0
    if exp_pairs > max_pairs:
        raise ValueError(
            f"simhash_pairs: ~{n_docs} docs over 2^{chunk_bits} "
            f"chunk buckets gives an expected {exp_bucket:.0f} "
            f"members and ~{exp_pairs:.2g} candidate pairs per "
            f"bucket (> max_expected_pairs_per_bucket="
            f"{max_pairs}). Escalate to fewer, "
            "wider chunks (smaller n_chunks raises chunk_bits — at "
            "the cost of the guaranteed-recall distance n_chunks-1), "
            "remove exact duplicates first (fingerprint_dedup — "
            "identical texts share all chunks and dominate hot "
            "buckets), or pass max_expected_pairs_per_bucket=None "
            "to accept the quadratic expansion."
        )


def _simhash_chunks(sigs: DataFrame, n_chunks: int) -> DataFrame:
    """(_id, simhash, chunk_idx, chunk_val) memberships: the 64-bit
    signature split into ``n_chunks`` equal bucket keys."""
    chunk_bits = 64 // n_chunks
    mask = (1 << chunk_bits) - 1
    return sigs.select(
        "_id",
        "simhash",
        F.posexplode(
            F.array(
                *[
                    F.shiftright("simhash", chunk_bits * c)
                    .bitwiseAND(F.lit(mask))
                    .cast("long")
                    for c in range(n_chunks)
                ]
            )
        ).alias("chunk_idx", "chunk_val"),
    )


def simhash_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    max_hamming: int = 6,
    n_chunks: int = 4,
    max_expected_pairs_per_bucket: int | None = 10_000_000,
    n_docs: int | None = None,
) -> DataFrame:
    """Near-duplicate pairs by SimHash Hamming distance.

    Candidate generation uses the pigeonhole principle: the 64-bit
    signature splits into ``n_chunks`` equal chunks, and any pair with
    Hamming distance < n_chunks must agree exactly on at least one
    chunk — so a chunk-bucket self-join (one shuffle, no cross join)
    finds all such pairs; exact Hamming verification then filters
    candidates.  Recall is 1 for distance ≤ n_chunks-1.  Signs the
    text, then pairs through :func:`simhash_pairs_frames`.

    Scale trade-off: more chunks → higher guaranteed recall but
    coarser buckets (64/n_chunks bits each), and bucket size drives the
    self-join cost.  At billions of docs keep 16-bit chunks
    (n_chunks=4, recall 1 up to distance 3); small corpora can afford
    n_chunks=8 for guaranteed recall up to distance 7.

    Buckets cannot be capped (the recall guarantee needs every pair
    agreeing on a chunk), but the candidate count per bucket is
    quadratic in the bucket bound ~N/2^chunk_bits: hash-uniform chunk
    values keep buckets to megabytes even at billions of docs, yet at
    ~10⁹ docs with 16-bit chunks that is ~15k members → ~10⁸ candidate
    pairs *per bucket*.  The guard makes that cliff an explicit
    error instead of a silent cluster-killer (same contract as
    :func:`embedding_dedup_pairs`'s ``max_rows``): the expected
    per-bucket pair count (N²/2^(chunk_bits+1)) is checked against
    ``max_expected_pairs_per_bucket``.  The check needs the corpus
    size: pass it via ``n_docs`` when known (a catalog/stats lookup,
    or the pipeline already counted) to skip the count job the guard
    otherwise runs over ``df``'s rows — at 100 TB that scan costs more
    than the question deserves.  Pass
    ``max_expected_pairs_per_bucket=None`` to disable the guard
    entirely when the cost is understood.
    """
    # guarded on the TEXT rows, before signing: counting the signature
    # frame instead would shingle and aggregate the whole corpus
    _simhash_bucket_guard(df, n_docs, n_chunks, max_expected_pairs_per_bucket)
    sigs = simhash(df, text_col, id_col, n).select(
        F.col(id_col).alias("_id"), "simhash"
    )
    return simhash_pairs_frames(
        sigs, max_hamming, n_chunks, max_expected_pairs_per_bucket=None
    )


def simhash_write_signatures(
    df: DataFrame,
    path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    mode: str = "overwrite",
) -> None:
    """Materialize SimHash signatures as a parquet table
    ``{path}/signatures`` (_id, simhash) — the long-lived-pipeline
    mirror of :func:`minhash_write_signatures`: sign once, store 8
    bytes per document, and let every later pairing run (different
    ``max_hamming``/``n_chunks`` through :func:`simhash_pairs_frames`
    over the table read back, incremental batches) start from the
    table instead of re-shingling the corpus.  ``mode="append"`` adds
    a new batch's signatures (the ingest loop); the shingle order
    ``n`` is not schema-visible, so matching the stored index's ``n``
    is the caller's contract — exactly as for the MinHash writer's
    ``n``."""
    simhash_write_signatures_frames(
        df.sparkSession,
        path,
        simhash(df, text_col, id_col, n).select(
            F.col(id_col).alias("_id"), "simhash"
        ),
        mode,
    )


def simhash_write_signatures_frames(
    spark,
    path: str,
    sigs: DataFrame,
    mode: str,
) -> None:
    """:func:`simhash_write_signatures` from an ALREADY-COMPUTED
    (_id, simhash) frame — e.g. a batch's staged signature table that
    the probe and the within-batch pairing already consumed (the
    ingest loop's single-computation path, mirroring
    :func:`minhash_write_signatures_frames`).  Nothing is re-shingled
    or re-hashed.  ``mode`` is REQUIRED (no default) for the same
    porting-trap reason as the minhash frames writer: the from-text
    twin defaults to ``"overwrite"``."""
    sigs.select("_id", "simhash").write.mode(mode).parquet(
        f"{path}/signatures"
    )


def simhash_pairs_frames(
    sigs: DataFrame,
    max_hamming: int = 6,
    n_chunks: int = 4,
    max_expected_pairs_per_bucket: int | None = 10_000_000,
    n_docs: int | None = None,
) -> DataFrame:
    """Chunk-bucket candidate generation + exact Hamming verify from an
    ALREADY-COMPUTED (_id, simhash) frame.  Every SimHash self-pair
    route ends here: :func:`simhash_pairs` signs the text first; a
    :func:`simhash_write_signatures` table is paired by reading it back
    (``max_hamming`` and ``n_chunks`` are query-time choices — the
    signature is parameterized only by ``n``); the ingest loop passes
    its per-batch staging.  The per-row signature aggregation is
    deterministic, so a frame computed once on a superset and
    semi-joined down to the ids of interest pairs identically to
    recomputing on the subset.  The expected-pairs guard counts the
    given frame when ``n_docs`` is not supplied (signature rows, i.e.
    docs with ≥1 shingle — the from-text twin counts all rows; both
    are the same order of magnitude, and the guard is an
    order-of-magnitude cliff check)."""
    _simhash_bucket_guard(sigs, n_docs, n_chunks, max_expected_pairs_per_bucket)
    chunks = _simhash_chunks(sigs, n_chunks)
    # Group each chunk bucket and expand its i<j combinations — ONE
    # shuffle of the chunk table instead of a self-join shuffling it
    # twice (same rewrite as minhash_lsh_pairs_frames).  Members carry
    # their signature so the Hamming verify needs no further join.  No
    # bucket cap (the pigeonhole recall guarantee requires every pair
    # agreeing on a chunk), but unlike Zipfian text postings (see
    # ngram_jaccard_pairs) chunk values are hash-uniform, so a
    # bucket's collect_list buffer is bounded by ~N/2^chunk_bits
    # members — megabytes even at billions of docs.
    grouped = (
        chunks.groupBy("chunk_idx", "chunk_val")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("_id", "simhash"))
            ).alias("ms")
        )
        .where(F.size("ms") > 1)
    )
    cand = (
        grouped.select(
            F.explode(
                F.expr(
                    "flatten(transform(ms, (x, i) -> "
                    "transform(slice(ms, i + 2, size(ms)), "
                    "y -> struct(x._id AS id_a, y._id AS id_b, "
                    "x.simhash AS sig_a, y.simhash AS sig_b))))"
                )
            ).alias("p")
        )
        .select("p.*")
        .distinct()
    )
    return (
        cand.select(
            "id_a",
            "id_b",
            F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b"))).alias("hamming"),
        )
        .where(F.col("hamming") <= max_hamming)
    )


def simhash_pairs_between(
    spark,
    path: str,
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    max_hamming: int = 6,
    n_chunks: int = 4,
    max_expected_pairs_per_bucket: int | None = 10_000_000,
    n_docs: int | None = None,
) -> DataFrame:
    """Near-duplicate pairs BETWEEN a new document batch and a corpus
    indexed by :func:`simhash_write_signatures` — the SimHash mirror
    of :func:`minhash_lsh_pairs_between`.  Returns ``(id_new, id_old,
    hamming ≤ max_hamming)``; within-batch pairs are out of scope
    (run :func:`simhash_pairs` on the batch).  Signs the batch, then
    pairs through :func:`simhash_pairs_between_frames`.
    ``n``/``n_chunks`` must describe the stored index's signing.
    """
    sigs_new = simhash(df, text_col, id_col, n).select(
        F.col(id_col).alias("_id"), "simhash"
    )
    return simhash_pairs_between_frames(
        spark,
        path,
        sigs_new,
        max_hamming=max_hamming,
        n_chunks=n_chunks,
        max_expected_pairs_per_bucket=max_expected_pairs_per_bucket,
        n_docs=n_docs,
    )


def simhash_pairs_between_frames(
    spark,
    path: str,
    sigs_new: DataFrame,
    max_hamming: int = 6,
    n_chunks: int = 4,
    max_expected_pairs_per_bucket: int | None = 10_000_000,
    n_docs: int | None = None,
) -> DataFrame:
    """:func:`simhash_pairs_between` from the batch's ALREADY-COMPUTED
    (_id, simhash) frame (e.g. the ingest loop's per-batch signature
    staging).

    Scale shape: the batch's chunk table is equi-joined against the
    stored signatures' chunk table — cost ∝ the batch's bucket
    memberships × stored bucket occupancy, never corpus pairs.  The
    pigeonhole recall guarantee (distance < n_chunks found with
    certainty) carries over: a qualifying cross pair agrees on some
    chunk, and that chunk value co-buckets the two sides of the join.
    Buckets are NOT capped (capping would break the guarantee — unlike
    the minhash probe, whose banding is already probabilistic); the
    expected-pairs guard instead bounds the stored INDEX side's
    occupancy up front, counting the stored table unless ``n_docs``
    is passed."""
    sigs_old = spark.read.parquet(f"{path}/signatures")
    _simhash_bucket_guard(
        sigs_old, n_docs, n_chunks, max_expected_pairs_per_bucket
    )
    new_chunks = _simhash_chunks(sigs_new, n_chunks).select(
        F.col("_id").alias("id_new"),
        F.col("simhash").alias("_sig_new"),
        "chunk_idx",
        "chunk_val",
    )
    old_chunks = _simhash_chunks(sigs_old, n_chunks).select(
        F.col("_id").alias("id_old"),
        F.col("simhash").alias("_sig_old"),
        "chunk_idx",
        "chunk_val",
    )
    return (
        new_chunks.join(old_chunks, ["chunk_idx", "chunk_val"])
        .select(
            "id_new",
            "id_old",
            F.bit_count(
                F.col("_sig_new").bitwiseXOR(F.col("_sig_old"))
            ).alias("hamming"),
        )
        .where(F.col("hamming") <= max_hamming)
        .dropDuplicates(["id_new", "id_old"])
    )


def embedding_dedup_pairs(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.95,
    max_rows: int | None = 50_000,
) -> DataFrame:
    """Near-duplicate pairs by embedding cosine similarity.

    Brute-force within-partition pair generation via a self-join; at
    100 TB this must be preceded by an LSH/IVF bucketing stage (see
    ``similarity.ivf_assign``) so the self-join is bucket-local — the
    composition is ``ivf_assign → embedding_dedup_pairs(per bucket)``.

    The docstring contract above is enforced, not advisory: the input
    is counted (one cheap aggregate job) and anything above
    ``max_rows`` raises, pointing at
    :func:`embedding_dedup_pairs_bucketed` — because an unguarded
    O(n²) self-join one call away from a 100 TB corpus is a silent
    cluster-killer, and the count is noise next to n²/2 cosine
    evaluations.  Pass ``max_rows=None`` only when the caller has
    already bucketed the input.

    The norms are hoisted out of the pair loop: |N| norm folds instead
    of 2·|N|²/2 (a vector's norm is the same double wherever computed,
    so the cosine value is unchanged — guide §2.3, don't recompute in
    the quadratic stage what the linear stage can carry; measured 2.3×
    on the pair stage at sf0.1).
    """
    e = df.select(F.col(id_col).alias("_id"), F.col(vec_col).alias("_v"))
    if max_rows is not None:
        n = e.count()
        if n > max_rows:
            raise ValueError(
                f"embedding_dedup_pairs got {n} rows (> max_rows={max_rows}): "
                "an all-pairs self-join at this size is a scale hazard. Use "
                "embedding_dedup_pairs_bucketed (IVF-bucketed, the scale "
                "path), or pass max_rows=None if the input is already "
                "bucket-local."
            )
    # spread the (narrow-scan) input before the quadratic work: the
    # broadcast self-join's parallelism is the stream side's partition
    # count, and a single-row-group file otherwise serializes every
    # pair fold onto one core (no-op at real scale — see
    # util.ensure_parallelism).
    #
    # The hoisted norm is wrapped in coalesce(..., 0.0) to make the
    # expression non-nullable: the cosine>=threshold join condition is
    # null-intolerant, so Catalyst infers an isnotnull(_nrm) constraint
    # per side and pushes it below this projection with the WHOLE norm
    # fold re-inlined into the Filter — each side paid the fold twice
    # (r15 dd06 before-plan, Filter nodes (2)/(7)).  Values are
    # unchanged: _nrm is null only for a null vector / null element,
    # where the dot fold is also null, so the pair's cosine stays null
    # and the threshold drops it exactly as the inferred filter did.
    e = ensure_parallelism(e).withColumn(
        "_nrm", F.coalesce(_norm(F.col("_v")), F.lit(0.0))
    )
    pairs = (
        e.alias("a")
        .join(e.alias("b"), F.col("a._id") < F.col("b._id"))
        .select(
            F.col("a._id").alias("id_a"),
            F.col("b._id").alias("id_b"),
            (
                _dot(F.col("a._v"), F.col("b._v"))
                / (F.col("a._nrm") * F.col("b._nrm"))
            ).alias("cosine"),
        )
        .where(F.col("cosine") >= threshold)
    )
    return pairs


def dedup_clusters(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iterations: int = 20,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Connected components over near-duplicate pairs: (doc_id,
    cluster_id) with cluster_id = the minimum doc id in the component —
    the step that turns pair lists into keep/delete decisions (keep
    ``doc_id == cluster_id``, drop the rest).

    Iterative min-label propagation: every node repeatedly adopts the
    smallest label among itself and its neighbors until a fixpoint.
    Each iteration is one shuffle (edge join + min-aggregate); the
    driver only checks the converged-count, never the data.  Rounds
    needed ≈ graph diameter — near-dup clusters are dense and shallow,
    so 3-5 rounds in practice; ``max_iterations`` bounds pathological
    chains (alternating star-contraction is the published fix if ever
    needed at 100 TB).

    ``checkpoint_dir`` selects the per-round durability mode: ``None``
    (default) truncates lineage with executor-local
    ``localCheckpoint`` — fastest, but executor loss restarts the run —
    while a reliable directory (HDFS/S3 at scale) switches to
    ``sc.setCheckpointDir`` + ``.checkpoint()``, paying a distributed
    write per round so a 100 TB run survives executor churn.  Output is
    identical either way (tested).
    """
    if checkpoint_dir is not None:
        pairs.sparkSession.sparkContext.setCheckpointDir(checkpoint_dir)
    # Both edge directions from ONE pass over ``pairs`` (explode of a
    # two-struct array), not a self-union: union's two branches each
    # re-run the caller's whole pair pipeline — for dd08 that was the
    # entire candidate-generation + verify join graph executed twice
    # before the checkpoint below ever materialized it.
    edges = (
        pairs.select(
            F.explode(
                F.array(
                    F.struct(
                        F.col(id_a).alias("src"), F.col(id_b).alias("dst")
                    ),
                    F.struct(
                        F.col(id_b).alias("src"), F.col(id_a).alias("dst")
                    ),
                )
            ).alias("_e")
        )
        .select("_e.src", "_e.dst")
        .distinct()
    )
    # Materialize the edge list ONCE: every propagation round joins
    # against it, and a lazy `pairs` plan would re-run its whole
    # candidate-generation join per round — measured ×73 wall on the
    # 10× rehearsal when the pairs come from the bucket-local cosine
    # join (minhash pairs only dodged it via their persist cache).
    # Edge rows are O(pairs), bounded; same durability mode as the
    # per-round label checkpoints.
    edges = (
        edges.localCheckpoint(eager=True)
        if checkpoint_dir is None
        else edges.checkpoint(eager=True)
    )
    if edges.isEmpty():
        # no pairs → no clusters: skip the label bootstrap and the
        # propagation loop entirely.  This is the STEADY state of an
        # incremental ingest (a fresh batch usually has no within-
        # batch near-dups), where the loop's per-round eager
        # checkpoint + convergence action would be ~a dozen Spark
        # jobs spent labeling an empty graph — a real slice of the
        # fixed per-micro-batch floor (tools/ingest_profile.py).
        return edges.select(
            F.col("src").alias("doc_id"), F.col("dst").alias("cluster_id")
        )
    labels = (
        edges.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
    )
    for _ in range(max_iterations):
        neighbor_min = (
            edges.join(
                labels.select(
                    F.col("node").alias("_n"), F.col("label").alias("_l")
                ),
                F.col("dst") == F.col("_n"),
            )
            .groupBy("src")
            .agg(F.min("_l").alias("nmin"))
        )
        # The changed-flag is computed inside the same projection and
        # the frame is localCheckpoint-ed (eager): lineage is truncated
        # every round (bounded plan depth — no quadratic recompute),
        # and the convergence aggregate below reads the cached blocks
        # instead of re-running the whole join chain.  Superseded
        # checkpoint blocks are released by Spark's ContextCleaner once
        # the previous generation is dereferenced.  Durability note
        # (cf. the minhash persist-vs-checkpoint decision): for an
        # ITERATIVE algorithm lineage truncation is the point — persist
        # would stack a growing join chain behind every round — so
        # executor loss here restarts the (cheap, few-round)
        # computation; ``checkpoint_dir`` swaps in reliable
        # checkpointing for per-round durability at the cost of a
        # distributed write (the 100 TB setting).
        new_labels = (
            labels.join(neighbor_min, labels.node == neighbor_min.src, "left")
            .select(
                "node",
                F.col("label").alias("_old"),
                F.least(
                    F.col("label"), F.coalesce("nmin", F.col("label"))
                ).alias("label"),
            )
            .withColumn("_chg", (F.col("label") != F.col("_old")).cast("long"))
            .drop("_old")
        )
        # LAZY local checkpoint: the convergence aggregate right below
        # is the round's materializing action, so lineage truncation
        # and block caching piggyback on it — one Spark job per round
        # instead of two (eager checkpoint + aggregate).  The reliable
        # mode stays eager: ``checkpoint(eager=False)`` recomputes the
        # whole round when the first action fires (Spark's documented
        # persist-before-checkpoint caveat), which would double, not
        # halve, the per-round work.
        new_labels = (
            new_labels.localCheckpoint(eager=False)
            if checkpoint_dir is None
            else new_labels.checkpoint(eager=True)
        )
        changed = new_labels.agg(F.sum("_chg").alias("c")).first()[0]
        labels = new_labels.drop("_chg")
        if not changed:
            break
    else:
        # exhausting the loop with labels still moving means the
        # output is NOT connected components: nodes that are local
        # minima of their max_iterations-hop neighborhood would pass
        # the doc_id == cluster_id keeper test and survive as spurious
        # keepers — silent under-deduplication.  Fail loudly instead.
        raise RuntimeError(
            f"dedup_clusters did not converge in {max_iterations} "
            f"iterations ({changed} labels still changing): the pair "
            "graph has a longer chain than the round budget — raise "
            "max_iterations (rounds needed ~ graph diameter)"
        )
    return labels.select(
        F.col("node").alias("doc_id"), F.col("label").alias("cluster_id")
    )


def embedding_dedup_pairs_bucketed(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.95,
    nlist: int = 16,
    n_assign: int = 2,
    seed: int = 42,
    assign: str = "jvm",
    n_rows: int | None = None,
) -> DataFrame:
    """The 100 TB composition: IVF-bucket the corpus, then pair-search
    bucket-locally.  ``n_rows`` (when known) skips the centroid fit's
    sizing count.

    Each vector is assigned to its ``n_assign`` nearest centroids
    (multi-assignment), so a near-duplicate pair straddling a Voronoi
    boundary still shares at least one bucket with high probability —
    the standard recall fix for bucketed dedup.  The pairwise join is
    per-bucket: cost drops from O(N²) to O(Σ bucket²), and the buckets
    are the shuffle partitions.

    The assigned frame is persisted (MEMORY_AND_DISK): both
    sides of the bucket self-join read it, and the assignment
    projection is ``nlist`` similarity folds per row — measured on the
    10× rehearsal it is the single most expensive stage, so evaluating
    it twice doubles the operator.  Same persist-over-checkpoint
    rationale as :func:`minhash_lsh_pairs`.  Size ``nlist`` with the
    corpus (the faiss ``≈4√N`` rule): assignment costs ``N·nlist``
    folds and pairing ``≈(n_assign·N)²/nlist`` — too-small ``nlist``
    makes the buckets quadratic, too-large makes assignment dominate.

    ``assign`` picks the assignment kernel: ``"jvm"`` (default) is the
    pure-expression fold — bit-pinned by the dd07 oracle — while
    ``"arrow"`` is the vectorized numpy matmul
    (:func:`~hadoop__spark.operators.similarity.ivf_assign_arrow`),
    ~100× the assignment throughput at large ``nlist`` with identical
    bucketing up to float-summation-order ties (tested equal on the
    fixtures); pair verification is the same exact JVM fold either
    way.
    """
    from hadoop__spark.operators.similarity import ivf_fit_centroids

    cents = ivf_fit_centroids(df, nlist, vec_col, seed, n_rows=n_rows)
    assigned = _normalized_assignment(
        df, cents, vec_col, id_col, n_assign, assign
    )
    assigned = _register_probe_cache(
        assigned.persist(StorageLevel.MEMORY_AND_DISK)
    )
    return _bucket_local_pairs(assigned, threshold)


def _normalized_assignment(
    df: DataFrame,
    cents: DataFrame,
    vec_col: str,
    id_col: str,
    n_assign: int,
    assign: str,
) -> DataFrame:
    """L2-normalize and assign vectors to their ``n_assign`` nearest
    centroids, returning ``(_id, _vn normalized, centroid_id)`` — the
    frame the bucket-local pair search consumes.  ``assign="jvm"`` is
    the expression-fold path, ``"arrow"`` the numpy matmul kernel."""
    from hadoop__spark.operators.similarity import (
        collect_centroid_array,
        ivf_assign_arrow,
        nearest_centroids,
    )

    if assign not in ("jvm", "arrow"):
        # validate HERE, at the shared dispatch: a typo ('arow') would
        # otherwise silently fall through to the slow expression-fold
        # path — and embedding_pairs_against_index (the ingest loop's
        # entry) forwards the caller's value unchecked
        raise ValueError(f"assign must be 'jvm' or 'arrow', got {assign!r}")
    # spread a narrow (single-split) input before the per-row
    # assignment folds — nlist similarity folds per row is the
    # operator's dominant projection, and a one-row-group file would
    # otherwise run it on one core (no-op at real scale, where the
    # scan already carries ≥ cores splits — util.ensure_parallelism)
    df = ensure_parallelism(df)
    if assign == "arrow":
        return ivf_assign_arrow(
            df.select(F.col(id_col).alias("_id"), F.col(vec_col).alias("_vn")),
            cents,
            vec_col="_vn",
            id_col="_id",
            n_assign=n_assign,
            normalize=True,
        )
    # Normalize ONCE per vector (and per centroid): every downstream
    # similarity is then a single zip_with+aggregate fold instead of
    # dot + two norms — 3x less interpreted HOF work per candidate
    # pair, which dominates this operator's cost (pair count x dim).
    # The normalized centroids are collected (nlist rows; normalization
    # runs Spark-side so the arithmetic is unchanged) and inlined as a
    # literal array: assignment is then a pure per-row top-n projection
    # — no crossJoin ×nlist expansion, no Window Exchange of the corpus
    # (see similarity.collect_centroid_array; asserted shuffle-free in
    # tests/test_plan_shapes.py).
    ncents = cents.withColumn("_cn", _norm(F.col("centroid"))).select(
        "centroid_id",
        F.transform("centroid", lambda x: x / F.col("_cn")).alias("_cvn"),
    )
    cent_arr = collect_centroid_array(ncents, vec_field="_cvn")
    e = (
        df.select(F.col(id_col).alias("_id"), F.col(vec_col).alias("_v"))
        .withColumn("_nrm", _norm(F.col("_v")))
        .select(
            "_id",
            F.transform(
                "_v", lambda x: x.cast("double") / F.col("_nrm")
            ).alias("_vn"),
        )
    )
    return e.select(
        "_id",
        "_vn",
        F.explode(
            F.transform(
                nearest_centroids(F.col("_vn"), cent_arr, n_assign, _dot),
                lambda s: s["cid"],
            )
        ).alias("centroid_id"),
    )


def _bucket_local_pairs(assigned: DataFrame, threshold: float) -> DataFrame:
    """Bucket-local pair search over an assigned frame
    ``(_id, _vn normalized, centroid_id)``: self-join within each
    centroid bucket, exact JVM cosine fold per candidate, threshold,
    dedupe multi-assignment repeats."""
    return (
        assigned.alias("a")
        .join(
            assigned.alias("b"),
            on=[
                F.col("a.centroid_id") == F.col("b.centroid_id"),
                F.col("a._id") < F.col("b._id"),
            ],
        )
        .select(
            F.col("a._id").alias("id_a"),
            F.col("b._id").alias("id_b"),
            _dot(F.col("a._vn"), F.col("b._vn")).alias("cosine"),
        )
        .where(F.col("cosine") >= threshold)
        .dropDuplicates(["id_a", "id_b"])
    )


def embedding_pairs_against_index(
    spark,
    index_path: str,
    batch: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.95,
    n_assign: int = 2,
    assign: str = "jvm",
) -> DataFrame:
    """Incremental SEMANTIC dedup: near-duplicate pairs between a NEW
    batch and a persisted IVF index
    (:func:`~hadoop__spark.operators.similarity.ivf_write_index`) —
    the embedding-plane mirror of :func:`minhash_lsh_pairs_between`
    and :func:`fingerprint_filter_new`.  Output:
    ``(id_new, id_indexed, cosine ≥ threshold)``; dropping the flagged
    batch rows before :func:`~hadoop__spark.operators.similarity.\
ivf_append_index` completes the ingest loop without ever re-pairing
    the indexed corpus against itself.

    Scale shape: the batch is assigned to the index's FROZEN centroids
    (``n_assign``-way, the boundary-recall fix; ``assign="arrow"`` for
    the vectorized kernel), the index scan is partition-pruned to the
    batch's bucket set (dir-targeted
    :func:`~hadoop__spark.operators.similarity.read_probed_buckets` —
    the collected list is ≤ nlist ints and only the probed bucket
    dirs are ever LISTED), and the cross join is
    bucket-local: O(|batch| × bucket), never O(|batch| × corpus).
    Exact batch copies of indexed vectors are always found (identical
    vector → identical nearest-centroid set).
    """
    cents = spark.read.parquet(f"{index_path}/centroids")
    b = _normalized_assignment(
        batch, cents, vec_col, id_col, n_assign, assign
    )
    # the probe-id collect below and the pair join both evaluate the
    # assignment — the operator's most expensive projection — so
    # persist it once (same rationale as the bucketed variant's persist)
    b = _register_probe_cache(b.persist(StorageLevel.MEMORY_AND_DISK))
    probe_ids = sorted(
        r.centroid_id
        for r in b.select("centroid_id").distinct().collect()
    )
    from hadoop__spark.operators.similarity import read_probed_buckets

    idx = (
        read_probed_buckets(spark, f"{index_path}/assigned", probe_ids)
        .withColumn("_inrm", _norm(F.col(vec_col)))
        .select(
            F.col(id_col).alias("_iid"),
            "centroid_id",
            F.transform(
                vec_col, lambda x: x.cast("double") / F.col("_inrm")
            ).alias("_ivn"),
        )
    )
    return (
        b.join(idx, "centroid_id")
        .select(
            F.col("_id").alias("id_new"),
            F.col("_iid").alias("id_indexed"),
            _dot(F.col("_vn"), F.col("_ivn")).alias("cosine"),
        )
        .where(F.col("cosine") >= threshold)
        .dropDuplicates(["id_new", "id_indexed"])
    )


def cluster_keepers(
    clusters: DataFrame,
    scores: DataFrame,
    id_col: str = "doc_id",
    score_col: str = "quality_score",
    cluster_col: str = "cluster_id",
) -> DataFrame:
    """Pick the best member of each near-duplicate cluster: highest
    ``score_col``, ties broken by the smallest id — the quality-aware
    alternative to :func:`dedup_clusters`'s implicit min-id keeper.

    The scores join is a LEFT join: members missing from ``scores``
    still compete, ranked below every scored member, and a cluster
    with NO scored member keeps its smallest id — partial score
    coverage can demote a document, never delete a whole cluster.
    (NaN scores rank with the unscored, below every real score.)

    One partially-aggregated shuffle: the argmax is a ``min`` over a
    ``struct(is_unscored, -score, id)`` (struct ordering =
    lexicographic; the leading flag sorts null/NaN scores after EVERY
    real score — including a genuine ``-inf``, which ``-score`` alone
    would conflate with the unscored +inf sentinel), so each map
    partition reduces to one candidate row per cluster before the
    exchange — no window over cluster members, and the id never needs
    arithmetic, so STRING/UUID/URL ids work as well as numeric ones
    (ties fall to the type's natural minimum — numeric or
    lexicographic).
    """
    joined = clusters.join(scores.select(id_col, score_col), id_col, "left")
    score = F.col(score_col).cast("double")
    unscored = score.isNull() | F.isnan(score)
    best = joined.groupBy(cluster_col).agg(
        F.min(
            F.struct(
                F.when(unscored, F.lit(1)).otherwise(F.lit(0)).alias("_u"),
                F.when(unscored, F.lit(0.0)).otherwise(-score).alias("_k"),
                F.col(id_col).alias("_id"),
                F.col(score_col).alias("_s"),
            )
        ).alias("_b")
    )
    return best.select(
        cluster_col,
        F.col("_b._id").alias(id_col),
        F.col("_b._s").alias(score_col),
    )


def dedup_corpus(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    method: str = "fingerprint",
    threshold: float | None = None,
    scores: DataFrame | None = None,
    score_col: str = "quality_score",
    checkpoint_dir: str | None = None,
    pairs: DataFrame | None = None,
    **method_kwargs,
) -> DataFrame:
    """One-call corpus deduplication: returns the SURVIVING rows of
    ``df`` — the API a pipeline actually calls, composed from the
    primitives this module exposes.

    ``method``:

    * ``"fingerprint"`` (default) — exact dedup on the md5 of the
      normalized text; keeps the smallest id per identical text.
    * ``"minhash"`` — near-dup pairs (:func:`minhash_lsh_pairs` at
      ``threshold``, default 0.8) → connected components
      (:func:`dedup_clusters`) → one keeper per cluster.  With
      ``scores`` (an (id, score) frame) the keeper is the cluster's
      best-scoring member (:func:`cluster_keepers`); without, the
      smallest id.
    * ``"simhash"`` — pairs from :func:`simhash_pairs` (Hamming
      distance; tune ``max_hamming``/``n_chunks``/``n_docs`` via
      ``method_kwargs``), then the same
      clusters→keepers→survivors step.
    * ``"ngram"`` — pairs from :func:`ngram_jaccard_pairs` at
      ``threshold`` (``n``, ``prefix_filter``, ``doc_freq`` via
      ``method_kwargs``), then the same downstream step.

    ``threshold`` is a Jaccard bound and applies ONLY to
    ``minhash``/``ngram``; passing it with any other method (or with
    ``pairs=``) raises rather than being silently ignored.

    ``pairs`` is the escape hatch for every other pair source: any
    precomputed ``(id_a, id_b, …)`` frame — materialized signatures
    (:func:`minhash_lsh_pairs_frames` / :func:`simhash_pairs_frames`
    over the tables the ``*_write_signatures`` writers stored),
    incremental batches (:func:`minhash_lsh_pairs_between`,
    :func:`embedding_pairs_against_index` — rename their id columns
    to ``id_a``/``id_b``), or a hand-built union of several methods.
    When given it overrides ``method`` and ``df`` is only touched by
    the final anti-join.

    Documents in no cluster survive untouched; the anti-join against
    the dropped-id set is the only touch on the full corpus, so the
    operator adds one broadcast-able join on top of the underlying
    method's cost.  ``method_kwargs`` pass through to the pair
    generator; ``checkpoint_dir`` is routed to :func:`dedup_clusters`
    for reliable per-round checkpointing at scale.
    """
    if threshold is not None and (
        pairs is not None or method in ("fingerprint", "simhash")
    ):
        raise ValueError(
            "threshold only applies to method='minhash'/'ngram' "
            "(simhash takes max_hamming; fingerprint and pairs= take "
            "no similarity bound) — refusing to ignore it silently"
        )
    if pairs is None:
        if method == "fingerprint":
            if scores is not None or checkpoint_dir is not None:
                # same refuse-to-ignore contract as the threshold
                # guard above: the fingerprint keeper is min-id (no
                # cluster stage exists), so a scores frame would be
                # dropped on the floor while the caller believes
                # quality arbitration happened
                raise ValueError(
                    "method='fingerprint' keeps the smallest id per "
                    "identical text and runs no cluster stage: scores "
                    "and checkpoint_dir do not apply (score-arbitrated "
                    "keepers need a cluster method, e.g. "
                    "method='minhash' with scores=) — refusing to "
                    "ignore them silently"
                )
            keep = fingerprint_dedup(df, text_col, id_col).select(
                F.col("keep_id").alias("_keep")
            )
            return df.join(
                keep, F.col(id_col) == F.col("_keep"), "left_semi"
            )
        if method == "minhash":
            pairs = minhash_lsh_pairs(
                df,
                text_col,
                id_col,
                threshold=0.8 if threshold is None else threshold,
                **method_kwargs,
            )
        elif method == "simhash":
            pairs = simhash_pairs(df, text_col, id_col, **method_kwargs)
        elif method == "ngram":
            pairs = ngram_jaccard_pairs(
                df,
                text_col,
                id_col,
                threshold=0.8 if threshold is None else threshold,
                **method_kwargs,
            )
        else:
            raise ValueError(
                "method must be 'fingerprint', 'minhash', 'simhash' or "
                f"'ngram', got {method!r}"
            )
    elif {"id_a", "id_b"} - set(pairs.columns):
        raise ValueError(
            "pairs= frame needs id_a and id_b columns, got "
            f"{pairs.columns}"
        )
    # dedup_clusters emits fixed (doc_id, cluster_id) names regardless
    # of id_col; all downstream joins use those fixed names, with
    # scores renamed INTO the fixed schema rather than clusters out of
    # it — so a non-default id_col cannot collide or break the joins.
    clusters = dedup_clusters(pairs, checkpoint_dir=checkpoint_dir)
    return _cluster_survivors(df, clusters, id_col, scores, score_col)


def _cluster_survivors(
    df: DataFrame,
    clusters: DataFrame,
    id_col: str,
    scores: DataFrame | None,
    score_col: str,
) -> DataFrame:
    """Shared clusters→survivors step for the one-call dedup APIs:
    pick one keeper per cluster (best score with ``scores``, else the
    smallest id == ``cluster_id``), and anti-join ``df`` against the
    dropped-id set.  ``clusters`` uses :func:`dedup_clusters`'s fixed
    (doc_id, cluster_id) schema; ``scores`` is keyed on ``id_col``.
    The anti-join is the only touch on the full corpus, and its build
    side is the (small) dropped set."""
    if scores is not None:
        keepers = cluster_keepers(
            clusters,
            scores.select(F.col(id_col).alias("doc_id"), F.col(score_col)),
            id_col="doc_id",
            score_col=score_col,
        ).select(F.col("doc_id").alias("_k"))
    else:
        keepers = clusters.where(
            F.col("doc_id") == F.col("cluster_id")
        ).select(F.col("doc_id").alias("_k"))
    dropped = clusters.join(
        keepers, clusters.doc_id == F.col("_k"), "left_anti"
    ).select(F.col("doc_id").alias("_drop"))
    return df.join(
        dropped, F.col(id_col) == F.col("_drop"), "left_anti"
    )


def semantic_dedup(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.95,
    nlist: int | None = None,
    n_assign: int = 2,
    seed: int = 42,
    scores: DataFrame | None = None,
    score_col: str = "quality_score",
    checkpoint_dir: str | None = None,
    n_rows: int | None = None,
    assign: str = "jvm",
) -> DataFrame:
    """One-call SEMANTIC deduplication (the SemDeDup recipe, Abbas et
    al. 2023): cluster the corpus by embedding, drop all but one
    member of every group of semantically near-identical documents,
    and return the SURVIVING rows of ``df``.

    Composition of this module's tested primitives:
    :func:`embedding_dedup_pairs_bucketed` (IVF buckets + bucket-local
    cosine pairs at ``threshold``) → :func:`dedup_clusters` (connected
    components) → one keeper per cluster — the best-scoring member
    when ``scores`` (an ``(id_col, score_col)`` frame) is given, else
    the smallest id.  SemDeDup proper keeps the member FARTHEST from
    its k-means centroid; a caller wanting that exact policy passes
    the negated centroid-distance as the score — the knob is the
    score, not a new operator.

    Scale shape inherits from the parts: zero-shuffle centroid
    assignment, bucket-local pair join (O(Σ bucket²), never O(N²)),
    few-round label propagation (``checkpoint_dir`` for reliable
    checkpointing at 100 TB), and one anti-join on the small dropped
    set against the corpus.  ``nlist=None`` (default) self-sizes to
    the faiss rule ``max(16, 4√N)`` — balancing the ``N·nlist``
    assignment cost against the ``(n_assign·N)²/nlist`` pairing cost.
    The corpus is counted once unless ``n_rows`` is supplied — the
    count feeds both the sizing rule and the empty-input no-op guard
    (which must fire even under an explicit ``nlist``); pass
    ``n_rows`` to skip it when the size is already known.
    """
    # the empty-input no-op must fire regardless of whether nlist was
    # given (an explicit nlist used to crash ivf_fit_centroids on an
    # empty frame); pass n_rows to skip the sizing count when known
    n_rows = n_rows if n_rows is not None else df.count()
    if n_rows == 0:
        return df  # nothing to dedup; don't crash the k-means fit
    if nlist is None:
        nlist = _default_nlist(n_rows)
    pairs = embedding_dedup_pairs_bucketed(
        df,
        vec_col,
        id_col,
        threshold,
        nlist,
        n_assign,
        seed,
        assign=assign,
        n_rows=n_rows,
    )
    clusters = dedup_clusters(pairs, checkpoint_dir=checkpoint_dir)
    return _cluster_survivors(df, clusters, id_col, scores, score_col)


def line_dedup(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """C4/RefinedWeb-style GLOBAL line deduplication: each distinct
    (trimmed) non-blank line survives only at its first occurrence
    corpus-wide — the smallest ``(doc_id, line_no)`` — and later
    occurrences are dropped from their documents.  Kills boilerplate
    (navigation chrome, cookie banners, license footers) that
    document-level dedup never sees.

    Output: ``(id_col, text_deduped, n_lines, n_lines_kept)`` with
    document line order preserved; blank lines are structure, not
    content, and always survive.

    Scale shape: one shuffle keyed on the trimmed line to find each
    line's global first occurrence (map-side partial ``min`` on the
    16-byte-comparable ``struct(doc_id, line_no)``), one join of the
    exploded lines against that winner table (same key — AQE/Catalyst
    co-partitions both sides from the first shuffle), and one shuffle
    back to documents for reassembly.  The reassembly buffer is
    bounded by document length (``collect_list`` of surviving lines),
    never corpus size.
    """
    lines = ensure_parallelism(df).select(
        F.col(id_col).alias("_id"),
        F.posexplode(F.split(F.col(text_col), "\n")).alias("_ln", "_line"),
    ).withColumn("_k", F.trim(F.col("_line")))
    content = lines.where(F.col("_k") != "")
    winners = content.groupBy("_k").agg(
        F.min(F.struct(F.col("_id").alias("i"), F.col("_ln").alias("l"))).alias("_w")
    )
    kept_content = content.join(winners, "_k").where(
        (F.col("_id") == F.col("_w.i")) & (F.col("_ln") == F.col("_w.l"))
    ).select("_id", "_ln", "_line")
    kept = kept_content.unionByName(
        lines.where(F.col("_k") == "").select("_id", "_ln", "_line")
    )
    rebuilt = kept.groupBy("_id").agg(
        F.concat_ws(
            "\n",
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct(F.col("_ln"), F.col("_line")))
                ),
                lambda s: s["_line"],
            ),
        ).alias("text_deduped"),
        F.count("*").cast("bigint").alias("n_lines_kept"),
    )
    totals = lines.groupBy("_id").agg(
        F.count("*").cast("bigint").alias("n_lines")
    )
    return totals.join(rebuilt, "_id", "left").select(
        F.col("_id").alias(id_col),
        F.coalesce("text_deduped", F.lit("")).alias("text_deduped"),
        "n_lines",
        F.coalesce("n_lines_kept", F.lit(0)).cast("bigint").alias(
            "n_lines_kept"
        ),
    )
