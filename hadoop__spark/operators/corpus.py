"""Corpus-preparation operators for LLM training-data pipelines:
repetition filters, deterministic splits/samples, and sequence packing.

These are the steps between "deduped documents" and "training batches":

* :func:`repetition_stats` — Gopher-style repetition signals
  (duplicate-line / duplicate-n-gram fractions) used to drop
  boilerplate and degenerate generations.
* :func:`deterministic_split` / :func:`deterministic_sample` —
  hash-based train/val/test assignment.  ``rand()`` is banned here: a
  seeded ``rand`` changes with partitioning and Spark version, while
  ``md5(key)`` gives the same assignment on any engine, any cluster
  shape, forever — which is what makes held-out sets trustworthy.
* :func:`pack_sequences` — contiguous sequence packing: lay the token
  stream end-to-end and cut fixed-length windows, the standard
  GPT-style pretraining layout.  The cumulative offset comes from the
  distributed prefix-sum (``util.global_running_sum``), NOT a global
  window — a bare ``Window.orderBy`` funnels the corpus through one
  task.

Scale notes: repetition stats are per-row projections (no shuffle,
pipelined with the scan); splits/samples are stateless filters;
packing costs one range-repartition (the prefix-sum) — all safe at
100 TB.  Everything is Spark built-ins; no Python in the loop.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from hadoop__spark.operators.text import tokens
from hadoop__spark.operators.util import ensure_parallelism, global_running_sum


def _raw_ngrams(w: Column, n: int) -> Column:
    """Word n-grams from a materialized token-array column WITH
    multiplicity (the dedup sibling ``dedup.shingles_of_tokens``
    deduplicates; repetition metrics need the duplicates — they're the
    signal).  Same zip_with-over-shifted-arrays construction, for the
    same reason: every argument evaluates once per row, not once per
    element."""
    if n == 1:
        return w
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
    return F.filter(sh, lambda x: x.isNotNull())


def _dup_frac(arr: Column) -> Column:
    """Fraction of elements that are repeats of an earlier element:
    ``1 - distinct/total`` (0 for empty arrays)."""
    n = F.size(arr)
    return F.when(
        n > 0,
        1.0 - F.size(F.array_distinct(arr)).cast("double") / n.cast("double"),
    ).otherwise(0.0)


def repetition_stats(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-document repetition signals (the Gopher repetition filters).

    * ``dup_line_frac`` — fraction of non-empty lines that repeat an
      earlier line (catches boilerplate / navigation chrome).
    * ``dup_token_frac`` / ``dup_2gram_frac`` / ``dup_3gram_frac`` —
      fraction of word n-grams that are repeats (catches degenerate
      repetition; thresholds around 0.2-0.6 in the Gopher rules).

    All fractions are deterministic double math over integer counts —
    oracle-checkable bit-for-bit.
    """
    # materialize lines and tokens once, fractions from the arrays —
    # inlining tokens() at each n-gram site compiles a huge expression
    # tree (see dedup.shingle_frame for the measurement)
    c = F.col(text_col)
    base = ensure_parallelism(df).select(
        id_col,
        F.filter(
            F.transform(F.split(c, "\n"), lambda x: F.trim(x)),
            lambda x: x != F.lit(""),
        ).alias("_lines"),
        tokens(c).alias("_w"),
    )
    lines, w = F.col("_lines"), F.col("_w")
    return base.select(
        id_col,
        F.size(lines).cast("bigint").alias("n_lines"),
        _dup_frac(lines).alias("dup_line_frac"),
        F.size(w).cast("bigint").alias("n_tokens"),
        _dup_frac(_raw_ngrams(w, 1)).alias("dup_token_frac"),
        _dup_frac(_raw_ngrams(w, 2)).alias("dup_2gram_frac"),
        _dup_frac(_raw_ngrams(w, 3)).alias("dup_3gram_frac"),
    )


#: PII patterns, deliberately restricted to the regex subset shared by
#: Java regex (Spark) and RE2 (DuckDB, Go scanners): no lookaround, no
#: backreferences — so the exact same pattern redacts identically in
#: every engine a corpus passes through.  Order matters: emails before
#: phone-ish digit runs, URLs before bare IPv4s, so the more specific
#: pattern wins on overlapping spans.
PII_PATTERNS: dict[str, str] = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "url": r"https?://[^\s]+",
    "ipv4": r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b",
    "phone": r"\+?\d[\d\-\s()]{7,}\d",
}


def redact_pii(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Redact common PII shapes (emails, URLs, IPv4s, phone-like digit
    runs) from a text column, JVM-side regexp only.

    Adds ``<text_col>_redacted`` plus per-category match counts
    (``n_email`` …) and ``n_pii`` — the counts feed the usual
    corpus-prep decision: redact-and-keep vs drop-document-entirely
    above a threshold.  Both the replacements AND the counts apply in
    declaration order to the progressively redacted text, so a span
    consumed by an earlier, more specific pattern never double-counts
    under a later one (digits inside a URL are not also a phone run),
    and ``n_pii`` is exactly the number of replacement tokens in the
    output.  The replacement tokens themselves (``[EMAIL]`` …) contain
    no digits or scheme, so they are inert under every later pattern.
    A per-row projection — no shuffle, pipelines with the scan, Python
    never touches the data.
    """
    out = df
    redacted = F.col(text_col)
    for kind, pat in PII_PATTERNS.items():
        out = out.withColumn(
            f"n_{kind}", F.regexp_count(redacted, F.lit(pat)).cast("bigint")
        )
        redacted = F.regexp_replace(redacted, pat, f"[{kind.upper()}]")
    out = out.withColumn(f"{text_col}_redacted", redacted)
    return out.withColumn(
        "n_pii",
        sum(F.col(f"n_{k}") for k in PII_PATTERNS).cast("bigint"),
    )


def _hex_threshold(frac: float) -> str:
    """32-hex-digit threshold such that md5(key) < threshold selects a
    ``frac`` share of a uniform hash space.  String comparison on the
    fixed-width lowercase hex IS numeric comparison — and it works
    identically in every engine, which is the whole trick: no
    hex-to-int conversion dialect to get wrong."""
    if not 0.0 <= frac <= 1.0:
        raise ValueError(f"fraction must be in [0, 1], got {frac}")
    return format(int(frac * (1 << 128)), "033x")[-32:] if frac < 1.0 else "g" * 32


def _key_hash(key_col: str, salt: str) -> Column:
    """md5 over key+salt; a NULL key hashes as the sentinel "<null>"
    rather than propagating NULL — concat(NULL, salt) is NULL, and a
    NULL hash would make every comparison three-valued: samples would
    silently DROP null-key rows even at fraction 1.0, and
    deterministic_split would dump them all into the last-named split
    (every when() is NULL → otherwise).  With the sentinel they get
    one deterministic assignment like any other key value."""
    return F.md5(
        F.concat(
            F.coalesce(F.col(key_col).cast("string"), F.lit("<null>")),
            F.lit(salt),
        )
    )


def deterministic_split(
    df: DataFrame,
    key_col: str = "doc_id",
    splits: dict[str, float] | None = None,
    salt: str = "split-v1",
    out_col: str = "split",
) -> DataFrame:
    """Assign every row to a named split by hashing its key.

    ``splits`` maps name → fraction (must sum to 1).  Assignment is a
    pure function of (key, salt): stable across runs, engines, cluster
    shapes, and row order — re-running the pipeline never moves a
    document across the train/validation boundary (``rand(seed)``
    does, whenever partitioning changes).  Bump ``salt`` to derive a
    fresh independent split.
    """
    splits = splits or {"train": 0.9, "val": 0.05, "test": 0.05}
    total = sum(splits.values())
    if abs(total - 1.0) > 1e-9:
        raise ValueError(f"split fractions must sum to 1, got {total}")
    h = _key_hash(key_col, salt)
    cum = 0.0
    expr = None
    names = list(splits)
    for name in names[:-1]:
        cum += splits[name]
        cond = h < F.lit(_hex_threshold(cum))
        expr = F.when(cond, name) if expr is None else expr.when(cond, name)
    expr = (
        F.lit(names[0]) if expr is None else expr.otherwise(F.lit(names[-1]))
    )
    return df.withColumn(out_col, expr)


def deterministic_sample(
    df: DataFrame,
    fraction: float,
    key_col: str = "doc_id",
    salt: str = "sample-v1",
) -> DataFrame:
    """Keep a deterministic ~``fraction`` share of rows by key hash.

    Unlike ``df.sample``, membership is a pure function of (key, salt):
    the same document is kept in every run and on every engine, and
    samples at different fractions are NESTED (a 1% sample is a subset
    of the 10% sample with the same salt) — the property that makes
    scaling-law subsets comparable.
    """
    return df.where(_key_hash(key_col, salt) < F.lit(_hex_threshold(fraction)))


def stratified_deterministic_sample(
    df: DataFrame,
    fractions: dict[str, float],
    group_col: str,
    key_col: str = "doc_id",
    salt: str = "mix-v1",
    default_fraction: float = 0.0,
) -> DataFrame:
    """Per-group deterministic sampling — the data-mixing primitive:
    ``fractions`` maps a group value (source, language, quality tier)
    to its keep share, e.g. ``{"web": 0.3, "code": 1.0}`` to upweight
    code against web crawl.  Groups absent from the map keep
    ``default_fraction`` (0 = dropped, stated explicitly rather than
    silently passed through).

    Same engine-portable membership rule as
    :func:`deterministic_sample` (md5 of (key, salt) under a
    fixed-width hex threshold), so per-group samples are stable across
    runs/engines/cluster shapes and NESTED across fraction changes —
    raising a group's weight only adds documents, never swaps them.
    A pure per-row filter: no shuffle, pipelines with the scan; the
    threshold CASE is built driver-side from the (small) map.
    """
    thresh = F.lit(_hex_threshold(default_fraction))
    for value, frac in sorted(fractions.items()):
        thresh = F.when(
            F.col(group_col).cast("string") == value,
            F.lit(_hex_threshold(frac)),
        ).otherwise(thresh)
    return df.where(_key_hash(key_col, salt) < thresh)


def shuffle_key(
    df: DataFrame,
    key_col: str = "doc_id",
    salt: str = "shuffle-v1",
    out_col: str = "shuffle_key",
) -> DataFrame:
    """Deterministic global shuffle ORDER for training layout: adds
    ``out_col = md5(key, salt)``, a pseudo-random but reproducible
    sort key.  Feed it to :func:`pack_sequences` (``order_col``) or a
    sorted write so the token stream interleaves sources instead of
    concatenating them in ingest order — curriculum-free pretraining
    wants documents well-mixed, and ``orderBy(rand())`` would lay out
    a different corpus every run.  Bump ``salt`` for a fresh epoch
    permutation.  Pure projection; the sort it feeds is the consumer's
    (range-partitioned in ``pack_sequences``, never a single task).
    """
    return df.withColumn(out_col, _key_hash(key_col, salt))


def pack_sequences(
    df: DataFrame,
    seq_len: int,
    count_col: str = "n_tokens",
    order_col: str = "doc_id",
) -> DataFrame:
    """Contiguous sequence packing: documents are laid end-to-end in
    ``order_col`` order into one global token stream, and each document
    is tagged with the fixed-length training window its FIRST token
    lands in.

    Output columns (input columns preserved):

    * ``offset`` — the document's start position in the global stream,
    * ``pack_id`` — ``offset div seq_len`` (the window index),
    * ``pack_pos`` — ``offset mod seq_len`` (position inside it),
    * ``n_packs`` — how many windows the document spans.

    The offset is an exclusive prefix-sum over token counts, computed
    with the distributed prefix-sum (range-partition → local cumsum →
    broadcast per-partition offsets) — one range shuffle total, no
    single-task global window, so the layout step scales to any corpus
    the shuffle can hold.
    """
    if seq_len <= 0:
        raise ValueError(f"seq_len must be positive, got {seq_len}")
    cum = global_running_sum(df, order_col, count_col, out_col="_cum")
    offset = (F.col("_cum") - F.col(count_col)).cast("bigint")
    # integer `div`, not floor(double /): a 100 TB corpus is a
    # multi-trillion-token stream, and double division loses exactness
    # past 2^53
    return (
        cum.withColumn("offset", offset)
        .withColumn("pack_id", F.expr(f"offset div {seq_len}"))
        .withColumn("pack_pos", (F.col("offset") % seq_len).cast("bigint"))
        .withColumn(
            "n_packs",
            F.when(
                F.col(count_col) > 0,
                F.expr(f"(_cum - 1) div {seq_len}") + 1
                - F.expr(f"offset div {seq_len}"),
            )
            .otherwise(F.lit(0))
            .cast("bigint"),
        )
        .drop("_cum")
    )


def select_token_budget(
    df: DataFrame,
    budget: int,
    count_col: str = "n_tokens",
    id_col: str = "doc_id",
    score_col: str | None = None,
    out_col: str = "cum_tokens",
) -> DataFrame:
    """Greedy token-budget selection — the curation step that turns
    "we can afford N tokens" into a document set: rank the corpus
    (best ``score_col`` first when given, ties and the unscored case
    by ascending ``id_col``) and keep the prefix whose running token
    count stays within ``budget``.

    Adds ``out_col`` (the document's inclusive running total, exact
    BIGINT math) to the surviving rows.  Highest-score-first is the
    standard quality-weighted curation order (the same greedy shape as
    the pp01 probe's id-ordered budget); determinism comes from the
    total order, not from row layout.

    Scale shape: one range shuffle (the distributed prefix-sum,
    honoring the composite ``(score desc, id)`` order) + a stateless
    filter — no global window, no driver-side sort.
    """
    if budget < 0:
        raise ValueError(f"budget must be >= 0, got {budget}")
    order = (
        [F.col(score_col).desc_nulls_last(), F.col(id_col)]
        if score_col
        else [F.col(id_col)]
    )
    cum = global_running_sum(df, order, count_col, out_col=out_col)
    return cum.withColumn(out_col, F.col(out_col).cast("bigint")).where(
        F.col(out_col) <= budget
    )


def cap_per_group(
    df: DataFrame,
    group_col: str,
    k: int,
    id_col: str = "doc_id",
    score_col: str | None = None,
    rank_out: str | None = None,
) -> DataFrame:
    """Keep at most ``k`` rows per ``group_col`` value — the per-domain
    / per-source document cap that web-corpus pipelines apply against
    SEO spam and scraper loops (one hostname contributing millions of
    near-identical pages would otherwise dominate the mixture).

    Which ``k`` survive is deterministic: best ``score_col`` first
    (``desc_nulls_last``) when given, ties and the unscored case by
    ascending ``id_col`` — so re-running the pipeline, or raising the
    cap, never swaps members, it only appends (the same nesting
    property as :func:`deterministic_sample`).  With ``rank_out`` the
    1-based within-group rank is kept as a column.

    Scale shape: expressed as a rank-filter so Catalyst's
    InferWindowGroupLimit rewrite applies — each map task keeps only
    its local top-``k`` per group BEFORE the exchange
    (``WindowGroupLimit(Partial)``), so the shuffle carries at most
    ``k × groups`` rows per task, not the corpus.  Skew-proof by
    construction: a million-page domain ships ``k`` rows, not a
    million.  Plan-asserted in tests/test_plan_shapes.py.
    """
    if k <= 0:
        raise ValueError(f"k must be positive, got {k}")
    order = (
        [F.col(score_col).desc_nulls_last(), F.col(id_col)]
        if score_col
        else [F.col(id_col)]
    )
    from pyspark.sql.window import Window

    w = Window.partitionBy(group_col).orderBy(*order)
    rank = rank_out or "_rank"
    out = df.withColumn(rank, F.row_number().over(w)).where(
        F.col(rank) <= k
    )
    return out if rank_out else out.drop(rank)


def keep_top_fraction(
    df: DataFrame,
    keep_frac: float,
    score_col: str = "quality_score",
    accuracy: int = 10_000,
) -> DataFrame:
    """Keep approximately the best ``keep_frac`` share of rows by
    ``score_col`` — quantile-based quality thresholding: "keep the top
    30% by LM score" without anyone hand-picking a cutoff that only
    made sense on last month's crawl.

    The cutoff is the ``(1 - keep_frac)`` quantile from
    ``percentile_approx`` (t-digest-style sketch: one map-side-partial
    aggregation pass, driver holds a sketch, never the data);
    ``accuracy`` trades memory for quantile precision (error ≤
    1/accuracy of the rank).  Rows with ``score >= cutoff`` survive —
    ties at the cutoff are all kept (deterministic, slightly over
    ``keep_frac``), and null scores never survive (null comparisons
    are false).  The scalar joins back as a broadcast single-row
    frame, so the plan stays fully lazy — no driver round-trip between
    the sketch and the filter.

    Prefer :func:`deterministic_sample` when the goal is an unbiased
    subset; this operator is the BIASED one — that's the point.
    """
    if not 0.0 <= keep_frac <= 1.0:
        raise ValueError(f"keep_frac must be in [0, 1], got {keep_frac}")
    # the internal scalar column must not collide with an input column
    # (an ambiguous '_cutoff' would silently break the filter/drop)
    cut_name = "_cutoff"
    while cut_name in df.columns:
        cut_name += "_"
    # no keep_frac==1 shortcut: quantile 0.0 is the non-null minimum,
    # so "keep everything" still uniformly excludes null scores
    cutoff = df.agg(
        F.percentile_approx(
            score_col, F.lit(1.0 - keep_frac), F.lit(accuracy)
        ).alias(cut_name)
    )
    return (
        df.join(F.broadcast(cutoff))
        .where(F.col(score_col) >= F.col(cut_name))
        .drop(cut_name)
    )


def corpus_stats_sketch(
    df: DataFrame,
    group_cols: list[str] | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    lgk: int = 12,
    cache: bool = True,
) -> DataFrame:
    """Per-group corpus accounting as MERGEABLE state: exact counts
    plus Datasketches HLL sketches for the distinct-counting columns —
    ``(group_cols…, n_docs, n_tokens, content_sketch, vocab_sketch)``.

    ``content_sketch`` sketches the distinct normalized-text
    fingerprints (content diversity net of exact dups);
    ``vocab_sketch`` the distinct tokens (vocabulary size).  Both are
    binary HLL state (``hll_sketch_agg``, ~``2^lgk`` bytes per group):
    write one sketch table per ingest shard/day, and
    :func:`merge_corpus_stats` folds any set of them into corpus-wide
    numbers WITHOUT rescanning text — HLL union takes the per-register
    max, so merged estimates equal the single-pass estimate exactly
    (tested).  That is the 100 TB accounting loop: dashboards and
    mixing decisions read kilobyte sketches, not the corpus.

    Scale shape: two hash aggregations (doc-level and exploded-token)
    with map-side partial sketches, joined on the (small) group keys.
    Both aggregations read the tokenized base frame — the expensive
    normalize+split runs once because ``cache`` persists it
    (MEMORY_AND_DISK; same persist-over-recompute tradeoff as
    ``dedup.minhash_lsh_pairs``); pass ``cache=False`` to trade the
    second tokenization pass for zero CacheManager residency.
    """
    from pyspark import StorageLevel

    from hadoop__spark.operators.text import fingerprint_expr, tokens

    group_cols = list(group_cols or ["source"])
    base = ensure_parallelism(df).select(
        *group_cols,
        F.col(id_col).alias("_id"),
        tokens(F.col(text_col)).alias("_w"),
        fingerprint_expr(F.col(text_col)).alias("_fp"),
    )
    if cache:
        from hadoop__spark.operators.dedup import _register_probe_cache

        base = _register_probe_cache(
            base.persist(StorageLevel.MEMORY_AND_DISK)
        )
    doc_level = base.groupBy(*group_cols).agg(
        F.count("_id").cast("bigint").alias("n_docs"),
        # coalesce: a group whose every document has null text sums to
        # null — counts are 0, not unknown, same policy as the
        # sketch-estimate coalesces in corpus_stats
        F.coalesce(F.sum(F.size("_w")), F.lit(0))
        .cast("bigint")
        .alias("n_tokens"),
        F.hll_sketch_agg("_fp", F.lit(lgk)).alias("content_sketch"),
    )
    vocab = (
        base.select(*group_cols, F.explode("_w").alias("_t"))
        .groupBy(*group_cols)
        .agg(F.hll_sketch_agg("_t", F.lit(lgk)).alias("vocab_sketch"))
    ).select(
        *[F.col(c).alias(f"_vg_{c}") for c in group_cols], "vocab_sketch"
    )
    # null-SAFE key match: groupBy keeps a NULL group on both sides,
    # but a plain equality join would never pair them and the NULL
    # group (missing-source ingest rows) would lose its vocabulary
    cond = [
        doc_level[c].eqNullSafe(F.col(f"_vg_{c}")) for c in group_cols
    ]
    return doc_level.join(vocab, cond, "left").drop(
        *[f"_vg_{c}" for c in group_cols]
    )


def merge_corpus_stats(
    sketches: DataFrame, group_cols: list[str] | None = None
) -> DataFrame:
    """Fold :func:`corpus_stats_sketch` frames (union several shards'
    tables first) back to one row per group: counts add, sketches
    HLL-union.  Input and output share the sketch schema, so merging
    is associative — daily → monthly → corpus rollups reuse the same
    call."""
    group_cols = list(group_cols or ["source"])
    return sketches.groupBy(*group_cols).agg(
        F.sum("n_docs").cast("bigint").alias("n_docs"),
        # coalesce: sketch tables written before n_tokens was
        # null-proofed may carry null sums; 0-not-unknown either way
        F.coalesce(F.sum("n_tokens"), F.lit(0))
        .cast("bigint")
        .alias("n_tokens"),
        F.hll_union_agg("content_sketch").alias("content_sketch"),
        F.hll_union_agg("vocab_sketch").alias("vocab_sketch"),
    )


def corpus_stats(
    source: DataFrame,
    group_cols: list[str] | None = None,
    from_sketches: bool = False,
    **sketch_kwargs,
) -> DataFrame:
    """Readable per-group corpus statistics: ``n_docs``, ``n_tokens``,
    ``distinct_content_est``, ``vocab_est``.  ``source`` is either raw
    documents (default; sketches built in-flight via
    :func:`corpus_stats_sketch`) or an already-merged sketch frame
    (``from_sketches=True``) — same numbers either way, which is what
    makes the incremental path trustworthy."""
    group_cols = list(group_cols or ["source"])
    sk = (
        source
        if from_sketches
        else corpus_stats_sketch(source, group_cols, **sketch_kwargs)
    )
    return sk.select(
        *group_cols,
        "n_docs",
        F.coalesce("n_tokens", F.lit(0)).cast("bigint").alias("n_tokens"),
        # null sketches mean "nothing fed the aggregation" (all-null
        # text for content, no tokens for vocab); both estimates are
        # 0, not unknown
        F.coalesce(
            F.hll_sketch_estimate("content_sketch").cast("bigint"), F.lit(0)
        ).alias("distinct_content_est"),
        F.coalesce(
            F.hll_sketch_estimate("vocab_sketch").cast("bigint"), F.lit(0)
        ).alias("vocab_est"),
    )


def score_sketch(
    scores: DataFrame,
    group_cols: list[str] | None = None,
    score_col: str = "quality_score",
    k: int = 200,
) -> DataFrame:
    """Per-group MERGEABLE quantile state over scores — Datasketches
    KLL (``kll_sketch_agg_double``): ``(group_cols…, n_scores,
    score_sketch)``.  The quantile counterpart of
    :func:`corpus_stats_sketch`'s HLL state: write one sketch table
    per ingest shard, fold with :func:`merge_score_sketches`, and
    read corpus-wide score quantiles (:func:`score_quantiles`) or an
    incremental quality-gate cutoff
    (:func:`keep_top_fraction_from_sketch`) WITHOUT rescanning
    scores.  ``k`` trades sketch size for rank accuracy (~1.7%
    normalized rank error at the default 200; exact while a group
    holds fewer than ~k values).  Null scores are ignored (they can
    never pass a quality gate — :func:`keep_top_fraction` semantics).

    Scale shape: one hash aggregation with map-side partial sketches;
    kilobytes per group cross the wire, never scores."""
    group_cols = list(group_cols or [])
    return scores.groupBy(*group_cols).agg(
        F.count(score_col).cast("bigint").alias("n_scores"),
        F.kll_sketch_agg_double(
            F.col(score_col).cast("double"), F.lit(k)
        ).alias("score_sketch"),
    )


def merge_score_sketches(
    sketches: DataFrame, group_cols: list[str] | None = None
) -> DataFrame:
    """Fold :func:`score_sketch` frames (union shard tables first)
    back to one row per group: counts add, sketches KLL-merge.  Input
    and output share the schema, so merging is associative — the same
    rollup contract as :func:`merge_corpus_stats`."""
    group_cols = list(group_cols or [])
    return sketches.groupBy(*group_cols).agg(
        F.coalesce(F.sum("n_scores"), F.lit(0))
        .cast("bigint")
        .alias("n_scores"),
        F.kll_merge_agg_double("score_sketch").alias("score_sketch"),
    )


def score_quantiles(
    source: DataFrame,
    quantiles: tuple[float, ...] = (0.25, 0.5, 0.75, 0.9, 0.99),
    group_cols: list[str] | None = None,
    score_col: str = "quality_score",
    from_sketches: bool = False,
    k: int = 200,
) -> DataFrame:
    """Readable per-group score quantiles: ``(group_cols…, n_scores,
    q_<frac>…)`` — the dashboard view over :func:`score_sketch`
    state.  ``source`` is raw scores (default) or an
    already-(merged) sketch frame (``from_sketches=True``); same
    numbers either way, which is what makes the incremental path
    trustworthy (tested)."""
    group_cols = list(group_cols or [])
    sk = (
        source
        if from_sketches
        else score_sketch(source, group_cols, score_col, k)
    )
    # a group whose every score is null has n_scores 0 and an EMPTY
    # (non-null!) sketch buffer that get_quantile rejects — such
    # groups report null quantiles
    qcols = [
        F.when(F.col("n_scores") == 0, F.lit(None).cast("double"))
        .otherwise(
            F.kll_sketch_get_quantile_double(
                "score_sketch", F.lit(float(q))
            )
        )
        .alias(f"q_{str(float(q)).replace('.', '_')}")
        for q in quantiles
    ]
    return sk.select(*group_cols, "n_scores", *qcols)


def keep_top_fraction_from_sketch(
    df: DataFrame,
    sketches: DataFrame,
    keep_frac: float,
    score_col: str = "quality_score",
) -> DataFrame:
    """The INCREMENTAL quality gate: keep rows of ``df`` whose
    ``score_col`` is at or above the ``(1 - keep_frac)`` quantile
    read from MERGED :func:`score_sketch` state — so a daily pipeline
    gates each batch against the corpus-wide score distribution
    without ever rescanning historical scores (the
    :func:`keep_top_fraction` mirror of
    :func:`~hadoop__spark.operators.dedup.fingerprint_filter_new`).

    ``sketches`` is any frame of :func:`score_sketch` rows (grouped
    or not — they are folded to ONE global sketch here).  Cutoff
    semantics are the KLL quantile's (may differ from
    ``percentile_approx`` by at most the rank error); ties at the
    cutoff all survive and null scores never do, as in
    :func:`keep_top_fraction`.  An EMPTY ``sketches`` frame keeps
    nothing — no distribution means no evidence any row clears the
    bar (bootstrap the state from the first batch's scores first).
    The scalar joins back as a broadcast single-row frame — fully
    lazy, ``df`` never shuffles."""
    if not 0.0 <= keep_frac <= 1.0:
        raise ValueError(f"keep_frac must be in [0, 1], got {keep_frac}")
    cut_name = "_cutoff"
    while cut_name in df.columns:
        cut_name += "_"
    # KLL aggregations over zero scores serialize a NON-null EMPTY
    # buffer (8 bytes) that get_quantile rejects — detect emptiness
    # via the sketch's own item count and short-circuit to a null
    # cutoff (keeps nothing) when the merged state holds no values
    cutoff = sketches.agg(
        F.kll_merge_agg_double("score_sketch").alias("_m")
    ).select(
        F.when(
            F.col("_m").isNull()
            | (F.kll_sketch_get_n_double("_m") == 0),
            F.lit(None).cast("double"),
        )
        .otherwise(
            F.kll_sketch_get_quantile_double("_m", F.lit(1.0 - keep_frac))
        )
        .alias(cut_name)
    )
    return (
        df.join(F.broadcast(cutoff))
        .where(F.col(score_col) >= F.col(cut_name))
        .drop(cut_name)
    )


def eligibility_filter(
    out: DataFrame,
    id_col: str,
    scores: DataFrame | None,
    score_col: str,
    keep_frac: float | None = None,
    unscored: str = "drop",
    gate_sketches: DataFrame | None = None,
    group_cap: tuple[str, int] | None = None,
    used_counts: DataFrame | None = None,
) -> DataFrame:
    """The shared quality-gate + group-cap eligibility stage behind
    :func:`prepare_corpus` and
    :func:`~hadoop__spark.operators.ingest.ingest_batch` — one
    implementation of the drop/keep ``unscored`` policy and the
    best-scored-first cap ranking, so the batch pipeline and the
    from-scratch pipeline cannot drift (the round-7 score-row-collapse
    bug had to be patched in both copies; this is the helper that
    retires that class of bug).

    ``scores`` must already be collapsed to one row per ``id_col``
    (both callers do this up front).  Two policy knobs pick the
    stateless vs incremental variants:

    * cutoff source — ``gate_sketches=None`` computes the
      ``(1 - keep_frac)`` cutoff directly over the SURVIVORS' scores
      (``scores`` semi-joined to ``out``,
      :func:`keep_top_fraction`); a :func:`score_sketch` frame gates
      against that merged KLL state instead
      (:func:`keep_top_fraction_from_sketch` — the cutoff then comes
      from the state, so the gate scope is the whole ``scores``
      frame).
    * cap source — ``used_counts=None`` caps at a fixed ``k`` per
      group (:func:`cap_per_group`, WindowGroupLimit plan); a
      persisted ``(cap_col, n_admitted)`` frame caps at each group's
      REMAINING slots ``k - already_admitted`` (a variable limit, so
      a plain row-number rank — the window partitions over ``out``'s
      rows only, bounded by its group sizes, never the corpus).

    Ranking and tie rules are identical in both variants: best score
    first (``desc_nulls_last`` — unscored rows still count against a
    cap, ranked last), ties by ascending id.
    """
    if keep_frac is not None:
        if scores is None:
            raise ValueError("keep_frac needs a scores frame")
        if unscored not in ("drop", "keep"):
            raise ValueError(
                f"unscored must be 'drop' or 'keep', got {unscored!r}"
            )
        if gate_sketches is None:
            # quantile over the SURVIVORS' scores, not the whole scores
            # frame (prepare_corpus docstring); the semi-join re-derives
            # the upstream chain once — materialize upstream to avoid
            scope = scores.join(out.select(id_col), id_col, "left_semi")
            kept = keep_top_fraction(scope, keep_frac, score_col)
        else:
            scope = scores.select(id_col, score_col)
            kept = keep_top_fraction_from_sketch(
                scope, gate_sketches, keep_frac, score_col
            )
        kept = kept.select(F.col(id_col).alias("_q_id"))
        if unscored == "drop":
            out = out.join(
                kept, F.col(id_col) == F.col("_q_id"), "left_semi"
            )
        else:
            rejected = scope.select(F.col(id_col).alias("_q_id")).join(
                kept, "_q_id", "left_anti"
            )
            out = out.join(
                rejected, F.col(id_col) == F.col("_q_id"), "left_anti"
            )
    if group_cap is not None:
        cap_col, cap_k = group_cap
        slim = out.select(id_col, cap_col)
        if scores is not None:
            # left join: unscored docs still count against the cap,
            # ranked last in their group — the cap bounds volume, it
            # must not silently exempt rows
            slim = slim.join(
                scores.select(
                    F.col(id_col).alias("_s_id"), F.col(score_col)
                ),
                F.col(id_col) == F.col("_s_id"),
                "left",
            ).drop("_s_id")
        if used_counts is None:
            capped = cap_per_group(
                slim,
                cap_col,
                cap_k,
                id_col,
                score_col if scores is not None else None,
            )
        else:
            from pyspark.sql.window import Window

            if cap_k <= 0:
                raise ValueError(
                    f"group_cap k must be positive, got {cap_k}"
                )
            order = (
                [F.col(score_col).desc_nulls_last(), F.col(id_col)]
                if scores is not None
                else [F.col(id_col)]
            )
            used = used_counts.groupBy(cap_col).agg(
                F.sum("n_admitted").alias("_used")
            )
            capped = (
                slim.withColumn(
                    "_rk",
                    F.row_number().over(
                        Window.partitionBy(cap_col).orderBy(*order)
                    ),
                )
                .join(used, cap_col, "left")
                .withColumn("_used", F.coalesce("_used", F.lit(0)))
                .where(F.col("_rk") <= F.lit(cap_k) - F.col("_used"))
            )
        out = out.join(
            capped.select(F.col(id_col).alias("_c_id")),
            F.col(id_col) == F.col("_c_id"),
            "left_semi",
        )
    return out


def overlap_sketch(
    df: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
    lgk: int = 12,
) -> DataFrame:
    """Per-group Datasketches THETA sketch of distinct normalized-text
    fingerprints: ``(group_col, n_docs, content_theta)``.  Theta
    sketches support set INTERSECTION — which HLL state cannot — so
    this is the state behind :func:`corpus_overlap`'s "how much of
    crawl B already exists in crawl A" question.  Shard tables merge
    with :func:`merge_overlap_sketches` (union = per-sketch theta
    union), same lifecycle as the other accounting sketches."""
    from hadoop__spark.operators.text import fingerprint_expr

    return (
        ensure_parallelism(df)
        .select(
            F.col(group_col),
            fingerprint_expr(F.col(text_col)).alias("_fp"),
        )
        .groupBy(group_col)
        .agg(
            # count(*), not count(_fp): null-text documents are still
            # documents — same n_docs semantics as corpus_stats_sketch's
            # count(_id); they just contribute nothing to the sketch
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.theta_sketch_agg("_fp", F.lit(lgk)).alias("content_theta"),
        )
    )


def merge_overlap_sketches(
    sketches: DataFrame, group_col: str = "source"
) -> DataFrame:
    """Fold :func:`overlap_sketch` shard frames to one row per group:
    counts add, sketches theta-union."""
    return sketches.groupBy(group_col).agg(
        F.coalesce(F.sum("n_docs"), F.lit(0)).cast("bigint").alias("n_docs"),
        F.theta_union_agg("content_theta").alias("content_theta"),
    )


def corpus_overlap(
    source: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
    from_sketches: bool = False,
    lgk: int = 12,
) -> DataFrame:
    """Pairwise distinct-content overlap between groups:
    ``(group_a, group_b, distinct_a, distinct_b, overlap_est,
    jaccard_est)`` for every unordered group pair — "which crawls
    duplicate each other, and by how much", answered from kilobyte
    theta sketches instead of an all-pairs content join.  Exact below
    ~2^lgk distinct values per group (the sketch holds everything
    before sampling kicks in); ~2-3% relative error above.

    ``source`` is raw documents (default) or a (merged)
    :func:`overlap_sketch` frame (``from_sketches=True``).  Scale
    shape: one sketch aggregation pass over the corpus, then a
    groups² cross join of kilobyte rows — groups are sources/crawls,
    counted in tens, so the quadratic step is driver-trivial."""
    sk = (
        source
        if from_sketches
        else overlap_sketch(source, group_col, text_col, lgk)
    )
    a = sk.select(
        F.col(group_col).alias("group_a"),
        F.col("content_theta").alias("_ska"),
    )
    b = sk.select(
        F.col(group_col).alias("group_b"),
        F.col("content_theta").alias("_skb"),
    )
    inter = F.theta_sketch_estimate(F.theta_intersection("_ska", "_skb"))
    uni = F.theta_sketch_estimate(F.theta_union("_ska", "_skb"))
    # NULL group keys must appear in the report (corpus_stats
    # deliberately keeps them) — a plain a < b comparison evaluates
    # to NULL against them and would silently drop the group from
    # every pair, so the NULL group is explicitly ordered LAST
    pair_cond = (F.col("group_a") < F.col("group_b")) | (
        F.col("group_b").isNull() & F.col("group_a").isNotNull()
    )
    return (
        a.join(b, pair_cond)
        .select(
            "group_a",
            "group_b",
            # an all-null-text group aggregates a NULL theta sketch;
            # its distinct/overlap estimates are 0, not unknown — the
            # same coalesce corpus_stats applies to its HLL estimates
            F.coalesce(
                F.theta_sketch_estimate("_ska").cast("bigint"), F.lit(0)
            ).alias("distinct_a"),
            F.coalesce(
                F.theta_sketch_estimate("_skb").cast("bigint"), F.lit(0)
            ).alias("distinct_b"),
            F.coalesce(inter.cast("bigint"), F.lit(0)).alias("overlap_est"),
            F.when(uni > 0, inter / uni).otherwise(F.lit(0.0)).alias(
                "jaccard_est"
            ),
        )
    )


def contamination_report(
    df: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bench_text_col: str | None = None,
    bench_id_col: str | None = None,
    n: int = 3,
) -> DataFrame:
    """Benchmark decontamination report: per-document n-gram overlap
    with an evaluation set (the GPT-3 appendix-C discipline — training
    documents sharing n-grams with a benchmark leak the test set).

    Output: one row per corpus document that produced shingles —
    ``(id_col, n_shingles, n_hits, overlap_frac)`` where ``n_hits``
    counts the document's distinct ``n``-gram shingles that appear
    anywhere in the benchmark.  Thresholding / dropping is the caller's
    policy (see :func:`decontaminate`).  ``n=13`` is the published
    GPT-3 setting for web corpora; the default 3 suits short fixtures.

    Scale shape: the benchmark shingle set is distinct-compressed and
    broadcast (eval sets are small by construction — MMLU-sized, not
    corpus-sized), so the corpus side never shuffles for the membership
    probe; the per-document rollup partially aggregates map-side and
    shuffles ~one row per document.  Shingles are normalized word
    n-grams shared with the dedup plane (``dedup.shingle_frame``), so
    contamination and near-dup semantics line up.
    """
    from hadoop__spark.operators.dedup import shingle_frame

    # explode_outer on both shingle frames: row-identical to explode
    # (shingle_frame guarantees non-null, non-empty arrays of non-null
    # shingles) but skips InferFiltersFromGenerate's size(_sh)>0
    # filter, which plain explode pushes below the shingle projection
    # with the whole normalize+shingle tree re-inlined — these frames
    # have no persist boundary, so every corpus/benchmark row paid the
    # pipeline's dominant expression twice (r15 pp01 before-plan).
    bench_sh = (
        shingle_frame(
            benchmark,
            bench_text_col or text_col,
            bench_id_col or id_col,
            n,
        )
        .select(F.explode_outer("_sh").alias("_s"))
        # empty- or WHITESPACE-only benchmark rows shingle as their
        # raw text (the fallback of dedup._shingles_with_fallback) —
        # content-free strings with nothing to leak: left in, one such
        # benchmark row would flag every blank corpus document with
        # overlap 1.0, the opposite of the documented "nothing to
        # leak" contract.  The whitespace-regex (trim() strips only
        # 0x20, not \n/\t) keeps genuine token-less CONTENT (pure
        # CJK/punctuation raw text), which matching corpus docs SHOULD
        # flag as leakage.
        .where(~F.col("_s").rlike(r"^\s*$"))
        .distinct()
        .withColumn("_hit", F.lit(1))
    )
    c = shingle_frame(df, text_col, id_col, n)
    exploded = c.select(
        "_id", F.size("_sh").alias("_n"), F.explode_outer("_sh").alias("_s")
    )
    return (
        exploded.join(F.broadcast(bench_sh), "_s", "left")
        .groupBy("_id")
        .agg(
            F.max("_n").cast("bigint").alias("n_shingles"),
            F.sum(F.coalesce(F.col("_hit"), F.lit(0)))
            .cast("bigint")
            .alias("n_hits"),
        )
        .select(
            F.col("_id").alias(id_col),
            "n_shingles",
            "n_hits",
            (F.col("n_hits").cast("double") / F.col("n_shingles")).alias(
                "overlap_frac"
            ),
        )
    )


def decontaminate(
    df: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_overlap: float = 0.0,
    n: int = 3,
) -> DataFrame:
    """Drop corpus documents whose benchmark n-gram overlap exceeds
    ``max_overlap`` (default 0.0 — any shared shingle disqualifies).

    Anti-join against the flagged id set, so documents with no
    shingles at all (empty text) are KEPT — nothing to leak.  Returns
    the surviving rows of ``df`` unchanged.
    """
    flagged = contamination_report(
        df, benchmark, text_col, id_col, n=n
    ).where(F.col("overlap_frac") > max_overlap)
    return df.join(
        flagged.select(F.col(id_col)).withColumnRenamed(id_col, "_flag_id"),
        F.col(id_col) == F.col("_flag_id"),
        "left_anti",
    )


def prepare_corpus(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    benchmark: DataFrame | None = None,
    line_dedup: bool = False,
    redact: bool = True,
    max_dup_token_frac: float = 0.6,
    keep_frac: float | None = None,
    unscored: str = "drop",
    group_cap: tuple[str, int] | None = None,
    dedup_method: str = "fingerprint",
    dedup_kwargs: dict | None = None,
    scores: DataFrame | None = None,
    score_col: str = "quality_score",
    embeddings: DataFrame | None = None,
    embedding_col: str = "embedding",
    semantic_threshold: float = 0.95,
    semantic_kwargs: dict | None = None,
    splits: dict[str, float] | None = None,
    split_salt: str = "split-v1",
    materialize_dir: str | None = None,
) -> DataFrame:
    """The standard prep chain as one declarative plan:
    decontaminate (optional) → global line dedup (optional) →
    PII-redact (optional) → repetition filter → quality threshold
    (optional) → per-group cap (optional) → dedup → semantic dedup
    (optional) → deterministic split.

    Returns the surviving rows of ``df`` with added columns:
    redaction counts + ``<text_col>_redacted`` (when ``redact``),
    repetition stats, and ``split``.  With ``line_dedup=True`` the
    text column itself is REPLACED by its line-deduped form
    (:func:`~hadoop__spark.operators.dedup.line_dedup`) before every
    downstream stage, so redaction, repetition stats, and document
    dedup all see boilerplate-free text.  With ``scores`` (an
    ``(id_col, score_col)`` frame) and ``dedup_method="minhash"``,
    near-dup clusters keep their best-scoring member
    (:func:`~hadoop__spark.operators.dedup.cluster_keepers`) instead
    of the smallest id; fingerprint mode ignores scores (exact copies
    are interchangeable).  ``dedup_method`` accepts every
    :func:`~hadoop__spark.operators.dedup.dedup_corpus` method
    (``fingerprint``/``minhash``/``simhash``/``ngram``), with
    ``dedup_kwargs`` forwarded to the pair generator (``threshold``,
    ``max_hamming``, ``num_perm``, ``doc_freq``, …).  ``scores`` is normalized to one row per id
    up front (``max`` of the score — duplicate score rows would
    otherwise fan out every join they feed, and a document occupying
    several rank slots lets a capped group keep fewer than ``k``
    distinct documents).  ``keep_frac`` adds the
    :func:`keep_top_fraction` quantile gate over ``scores`` (requires
    it); the cutoff quantile is computed over the scores of the
    SURVIVORS of the earlier stages (scores semi-joined to the
    filtered ids), so the realized kept share tracks ``keep_frac``
    even when decontamination/line-dedup/repetition filtering removed
    a score-correlated subset.  ``unscored`` sets the gate's policy
    for documents with no score row: ``"drop"`` (default — unscored
    means unvetted) or ``"keep"`` (only scored-and-below-cutoff rows
    are removed).  Note the deliberate asymmetry with ``group_cap``,
    where unscored documents ALWAYS still count against the cap
    (ranked last in their group) — a volume bound must not exempt
    rows, while a quality gate may reasonably pass unvetted ones
    through to a downstream scorer.  ``group_cap=(col, k)`` caps
    documents per value of ``col`` via :func:`cap_per_group`,
    best-scored first when ``scores`` is given, smallest id
    otherwise.  Both run after the
    repetition filter and before dedup — cheap row filters first, the
    shuffling stages on the smallest surviving set.  ``embeddings``
    (an ``(id_col, embedding_col)`` frame of DOCUMENT embeddings)
    adds a final semantic-dedup stage
    (:func:`~hadoop__spark.operators.dedup.semantic_dedup` at
    ``semantic_threshold``, quality-aware keepers when ``scores`` is
    given) over the text-dedup survivors — the SemDeDup-after-MinHash
    order the published pipelines use; documents without an embedding
    row pass through untouched (can't be semantically compared).
    ``semantic_kwargs`` forwards the stage's cost knobs (``nlist``,
    ``n_rows``, ``assign``, ``checkpoint_dir``); at 100 TB
    pair it with ``materialize_dir`` so the stage's several actions
    (centroid fit, clustering rounds, anti-join) read the materialized
    ``deduped`` boundary instead of re-deriving the whole chain.
    Downstream packing is a separate call
    (:func:`pack_sequences` wants the token-count frame, not the
    text).  Every stage is one of this module's tested primitives, so
    the composition inherits their oracles; pp01/pp02 probe the same
    chain piecewise under the DuckDB gate.

    Scale note: the chain is lazy by default — every downstream
    consumer re-derives its upstream stages (fine when the plan runs
    once; see the pp01 probe docstring for the measured scan count).
    At 100 TB pass ``materialize_dir``: each stage boundary
    (decontaminated → line-deduped → filtered → deduped) is then
    written as a parquet table under it and re-read, so multi-consumer
    stages (the text feeds redaction AND stats AND dedup) scan the
    materialized table instead of recomputing the chain — and a
    failed run resumes from the last boundary by pointing the next
    stage at the surviving table.  Output is identical either way
    (tested).
    """
    from hadoop__spark.operators.dedup import (
        dedup_corpus,
        line_dedup as _line_dedup,
    )

    def _stage(frame: DataFrame, name: str) -> DataFrame:
        if materialize_dir is None:
            return frame
        p = f"{materialize_dir}/{name}"
        frame.write.mode("overwrite").parquet(p)
        return frame.sparkSession.read.parquet(p)

    if scores is not None:
        # one row per id: duplicate score rows would fan out the
        # group_cap/keepers joins and skew the keep_frac quantile;
        # max is the deterministic collapse policy (docstring)
        scores = scores.groupBy(id_col).agg(
            F.max(score_col).alias(score_col)
        )
    out = df
    if benchmark is not None:
        out = _stage(
            decontaminate(out, benchmark, text_col, id_col), "decontaminated"
        )
    if line_dedup:
        ld = _line_dedup(out, text_col, id_col).select(
            F.col(id_col).alias("_ld_id"), "text_deduped"
        )
        out = _stage(
            out.drop(text_col)
            .join(ld, F.col(id_col) == F.col("_ld_id"))
            .withColumnRenamed("text_deduped", text_col)
            .drop("_ld_id"),
            "line_deduped",
        )
    if redact:
        out = redact_pii(out, text_col)
    stats = repetition_stats(
        out.select(id_col, F.col(text_col)), text_col, id_col
    ).select(
        F.col(id_col).alias("_rid"),
        "n_tokens",
        "dup_token_frac",
        "dup_line_frac",
    )
    out = out.join(stats, F.col(id_col) == F.col("_rid")).drop("_rid")
    out = _stage(
        out.where(F.col("dup_token_frac") <= max_dup_token_frac), "filtered"
    )
    if keep_frac is not None or group_cap is not None:
        # the shared eligibility stage (direct-quantile cutoff, fixed-k
        # cap); pass materialize_dir to make the gate's survivor-scope
        # semi-join a table scan instead of a chain re-derive
        out = eligibility_filter(
            out,
            id_col,
            scores,
            score_col,
            keep_frac=keep_frac,
            unscored=unscored,
            group_cap=group_cap,
        )
    out = _stage(
        dedup_corpus(
            out,
            text_col,
            id_col,
            method=dedup_method,
            # fingerprint mode deliberately ignores scores (exact
            # copies are interchangeable — see docstring); dedup_corpus
            # itself REFUSES the combination, so the documented drop
            # happens here, where the composition owns the choice
            scores=None if dedup_method == "fingerprint" else scores,
            score_col=score_col,
            **(dedup_kwargs or {}),
        ),
        "deduped",
    )
    if embeddings is not None:
        from hadoop__spark.operators.dedup import semantic_dedup

        emb = embeddings.join(
            out.select(F.col(id_col).alias("_e_id")),
            F.col(id_col) == F.col("_e_id"),
            "left_semi",
        )
        kept = semantic_dedup(
            emb,
            vec_col=embedding_col,
            id_col=id_col,
            threshold=semantic_threshold,
            scores=scores,
            score_col=score_col,
            **(semantic_kwargs or {}),
        )
        sem_dropped = emb.select(id_col).join(
            kept.select(F.col(id_col).alias("_k")),
            F.col(id_col) == F.col("_k"),
            "left_anti",
        ).select(F.col(id_col).alias("_sem_drop"))
        out = _stage(
            out.join(
                sem_dropped,
                F.col(id_col) == F.col("_sem_drop"),
                "left_anti",
            ),
            "semantic_deduped",
        )
    return deterministic_split(out, id_col, splits, salt=split_salt)
