"""Property-based tests (hypothesis): invariants that hold for ALL
inputs, not just fixtures — the dedup algebra and the lineage walker's
robustness over generated SQL."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F
from hypothesis import HealthCheck, given, settings, strategies as st

from hadoop__spark.operators import dedup

WORDS = ["alpha", "beta", "gamma", "delta", "epsilon", "zeta", "eta"]

doc_strategy = st.lists(
    st.lists(st.sampled_from(WORDS), min_size=1, max_size=12).map(" ".join),
    min_size=2,
    max_size=12,
)

_SETTINGS = settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


@given(texts=doc_strategy)
@_SETTINGS
def test_exact_dedup_conserves_rows(spark, texts):
    df = spark.createDataFrame(
        list(enumerate(texts)), "doc_id LONG, text STRING"
    )
    out = dedup.exact_dedup(df).toPandas()
    # total copies = total docs; keepers are distinct minimal ids
    assert out["n_copies"].sum() == len(texts)
    norm = pd.Series(
        [" ".join(t.lower().split()) for t in texts]
    )  # fixture texts are already alnum+space
    assert len(out) == norm.nunique()
    want_keepers = set(
        pd.DataFrame({"id": range(len(texts)), "n": norm})
        .groupby("n")["id"]
        .min()
    )
    assert set(out["keep_id"]) == want_keepers


@given(texts=doc_strategy, threshold=st.sampled_from([0.5, 0.8]))
@_SETTINGS
def test_lsh_equals_exact_jaccard_on_random_docs(spark, texts, threshold):
    """The LSH+verify pipeline must equal exact all-pairs Jaccard for
    any input (verify removes false positives; banding with 16 bands of
    4 rows has ~zero false-negative mass at these thresholds)."""
    df = spark.createDataFrame(
        list(enumerate(texts)), "doc_id LONG, text STRING"
    )
    lsh = {
        (r.id_a, r.id_b)
        for r in dedup.minhash_lsh_pairs(df, threshold=threshold).collect()
    }
    exact = {
        (r.id_a, r.id_b)
        for r in dedup.ngram_jaccard_pairs(df, threshold=threshold).collect()
    }
    assert lsh == exact


@given(texts=doc_strategy, threshold=st.sampled_from([0.3, 0.5, 0.8]))
@_SETTINGS
def test_prefix_filter_preserves_exact_pair_set(spark, texts, threshold):
    """Prefix filtering is an exactness-preserving optimization: the
    df-ordered prefix index must emit the IDENTICAL pair set as the
    unfiltered inverted-index join at any threshold (the Bayardo
    prefix-filter lemma).  The tiny 7-word vocabulary makes almost
    every shingle a hot posting, which is the adversarial case."""
    df = spark.createDataFrame(
        list(enumerate(texts)), "doc_id LONG, text STRING"
    )
    pruned = {
        (r.id_a, r.id_b, round(r.jaccard, 9))
        for r in dedup.ngram_jaccard_pairs(
            df, threshold=threshold, prefix_filter=True
        ).collect()
    }
    plain = {
        (r.id_a, r.id_b, round(r.jaccard, 9))
        for r in dedup.ngram_jaccard_pairs(
            df, threshold=threshold, prefix_filter=False
        ).collect()
    }
    assert pruned == plain


@given(texts=doc_strategy)
@_SETTINGS
def test_simhash_identical_texts_collide(spark, texts):
    """Identical (post-normalization) texts must get identical
    signatures; Hamming distance is symmetric in the pair output."""
    dup = texts + [texts[0]]
    df = spark.createDataFrame(
        list(enumerate(dup)), "doc_id LONG, text STRING"
    )
    sigs = {r.doc_id: r.simhash for r in dedup.simhash(df).collect()}
    assert sigs[0] == sigs[len(dup) - 1]


# -- lineage robustness over generated SQL ----------------------------------

_cols = st.sampled_from(["a", "b", "c"])
_literals = st.sampled_from(["1", "'x'", "2.5"])


@st.composite
def _expr(draw, depth=0):
    if depth >= 2:
        return draw(st.one_of(_cols, _literals))
    kind = draw(st.sampled_from(["col", "lit", "fun", "bin", "case"]))
    if kind == "col":
        return draw(_cols)
    if kind == "lit":
        return draw(_literals)
    if kind == "fun":
        fn = draw(st.sampled_from(["concat", "nvl", "upper", "myudf"]))
        args = [draw(_expr(depth + 1)) for _ in range(draw(st.integers(1, 3)))]
        return f"{fn}({','.join(args)})"
    if kind == "bin":
        op = draw(st.sampled_from(["+", "-", "*"]))
        return f"{draw(_expr(depth + 1))} {op} {draw(_expr(depth + 1))}"
    branches = draw(st.integers(1, 2))
    parts = ["case"]
    for _ in range(branches):
        parts.append(
            f"when {draw(_cols)} > {draw(st.integers(0, 9))} "
            f"then {draw(_expr(depth + 1))}"
        )
    parts.append(f"else {draw(_expr(depth + 1))} end")
    return " ".join(parts)


@given(e=_expr(), pred_col=_cols, v=st.integers(0, 99))
@settings(
    max_examples=30,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_lineage_never_crashes_and_sources_are_sound(spark, e, pred_col, v):
    """For any expression from the grammar: the analyzer produces one
    edge whose sources are qualified t-columns from the mentioned set,
    and the WHERE tag is always captured."""
    from hadoop__spark.plans import LineageAnalyzer
    from hadoop__spark.plans.lineage import DictMetastore

    sql = f"select {e} as z from t where {pred_col} > {v}"
    res = LineageAnalyzer(spark, DictMetastore({})).analyze(sql)
    assert res.input_tables == {"default.t"}
    (line,) = res.col_lines
    assert line.to_name_parse == "z"
    for src in line.from_names:
        assert src.startswith("default.t.")
        assert src.rsplit(".", 1)[1] in {"a", "b", "c"}
    assert any(
        c.startswith(f"WHERE:default.t.{pred_col} > {v}")
        for c in line.conditions
    )


@given(
    n_events=st.integers(5, 30),
    n_updates=st.integers(1, 10),
    seed=st.integers(0, 10_000),
)
@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_asof_join_matches_pandas_on_random_series(
    spark, n_events, n_updates, seed
):
    """asof_join equals pandas merge_asof for arbitrary generated
    per-key time series (unique right timestamps per key)."""
    import random

    import pandas as pd

    from hadoop__spark.operators.temporal import asof_join

    rng = random.Random(seed)
    base = 1_700_000_000
    left_rows = [
        (i, rng.randint(0, 2), base + rng.randint(0, 10_000))
        for i in range(n_events)
    ]
    right_ts = {}
    for j in range(n_updates):
        key = rng.randint(0, 2)
        ts = base + rng.randint(0, 10_000)
        right_ts[(key, ts)] = j * 10
    right_rows = [(k, t, v) for (k, t), v in right_ts.items()]
    left = spark.createDataFrame(
        left_rows, "event_id LONG, k LONG, ts_s LONG"
    ).select("event_id", "k", F.timestamp_seconds("ts_s").alias("ts"))
    right = spark.createDataFrame(
        right_rows, "k LONG, ts_s LONG, val LONG"
    ).select("k", F.timestamp_seconds("ts_s").alias("ts"), "val")
    got = (
        asof_join(left, right, on="k")
        .select("event_id", "asof_val")
        .toPandas()
        .set_index("event_id")["asof_val"]
        .sort_index()
    )
    lp = left.toPandas().sort_values(["ts", "event_id"])
    rp = right.toPandas().sort_values("ts")
    want = (
        pd.merge_asof(lp, rp, on="ts", by="k", direction="backward")
        .set_index("event_id")["val"]
        .sort_index()
    )
    pd.testing.assert_series_equal(
        got, want, check_names=False, check_dtype=False
    )


@given(
    vals=st.lists(
        st.integers(min_value=-(10**6), max_value=10**6),
        min_size=1,
        max_size=200,
    )
)
@_SETTINGS
def test_global_running_sum_equals_pandas_cumsum(spark, vals):
    """Distributed prefix-sum == pandas cumsum for any values
    (negatives, duplicates) under any partition count."""
    from hadoop__spark.operators.util import global_running_sum

    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vals)], "k LONG, v LONG"
    )
    got = (
        global_running_sum(df, "k", "v", out_col="cum", num_partitions=5)
        .orderBy("k")
        .toPandas()["cum"]
        .tolist()
    )
    want = pd.Series(vals).cumsum().tolist()
    assert got == want


@given(
    counts=st.lists(
        st.integers(min_value=0, max_value=2000), min_size=1, max_size=120
    ),
    seq_len=st.integers(min_value=1, max_value=512),
    n_parts=st.integers(min_value=1, max_value=9),
)
@_SETTINGS
def test_pack_sequences_properties(spark, counts, seq_len, n_parts):
    """Packing invariants for ANY token-count multiset and any physical
    layout: offsets are the exclusive prefix sum in key order (total is
    conserved), windows are tiled without gaps, and the result is
    independent of the input partitioning."""
    from hadoop__spark.operators import corpus

    df = spark.createDataFrame(
        [(i, c) for i, c in enumerate(counts)], "doc_id LONG, n_tokens LONG"
    ).repartition(n_parts)
    rows = sorted(
        corpus.pack_sequences(df, seq_len=seq_len).collect(),
        key=lambda r: r.doc_id,
    )
    run = 0
    for r in rows:
        assert r.offset == run
        assert r.pack_id * seq_len + r.pack_pos == r.offset
        if r.n_tokens > 0:
            last = r.offset + r.n_tokens - 1
            assert r.n_packs == last // seq_len - r.pack_id + 1
        else:
            assert r.n_packs == 0
        run += r.n_tokens
    assert run == sum(counts)


@given(
    keys=st.lists(
        st.integers(min_value=0, max_value=10**9),
        min_size=1,
        max_size=150,
        unique=True,
    ),
    n_parts=st.integers(min_value=1, max_value=9),
)
@_SETTINGS
def test_deterministic_split_partitions_rows_exactly_once(
    spark, keys, n_parts
):
    """Split assignment is a total function of the key: every row gets
    exactly one split, the assignment ignores physical layout, and
    sample membership is consistent with the split hash (same md5
    space)."""
    from hadoop__spark.operators import corpus

    df = spark.createDataFrame([(k,) for k in keys], "doc_id LONG")
    a = {
        r.doc_id: r.split
        for r in corpus.deterministic_split(df).collect()
    }
    b = {
        r.doc_id: r.split
        for r in corpus.deterministic_split(df.repartition(n_parts)).collect()
    }
    assert a == b and set(a) == set(keys)
    assert set(a.values()) <= {"train", "val", "test"}


@given(
    texts=st.lists(
        st.text(
            alphabet=st.characters(min_codepoint=32, max_codepoint=1000),
            max_size=120,
        ),
        min_size=1,
        max_size=20,
    )
)
@_SETTINGS
def test_redact_pii_total_and_no_change_iff_clean(spark, texts):
    """redact_pii never crashes on arbitrary text; n_pii == 0 iff the
    text is unchanged, and counts are always non-negative."""
    from hadoop__spark.operators import corpus

    df = spark.createDataFrame(
        list(enumerate(texts)), "doc_id LONG, text STRING"
    )
    for r in corpus.redact_pii(df).collect():
        assert r.n_pii >= 0
        if r.n_pii == 0:
            assert r.text_redacted == r.text
        else:
            assert r.text_redacted != r.text


@given(texts=doc_strategy, mod=st.sampled_from([2, 3]))
@_SETTINGS
def test_contamination_bounds_and_monotonicity(spark, texts, mod):
    """For any corpus and benchmark: overlap_frac stays in [0, 1];
    benchmark members self-overlap fully; growing the benchmark never
    lowers any document's overlap (hits are monotone in the shingle
    union)."""
    from hadoop__spark.operators import corpus

    df = spark.createDataFrame(
        list(enumerate(texts)), "doc_id LONG, text STRING"
    )
    small = df.where(F.col("doc_id") % mod == 0)
    rep_small = {
        r.doc_id: r.overlap_frac
        for r in corpus.contamination_report(df, small).collect()
    }
    assert all(0.0 <= v <= 1.0 for v in rep_small.values())
    for d in rep_small:
        if d % mod == 0:
            assert rep_small[d] == 1.0, "benchmark member must self-overlap"
    rep_all = {
        r.doc_id: r.overlap_frac
        for r in corpus.contamination_report(df, df).collect()
    }
    assert set(rep_small) == set(rep_all)
    for d, v in rep_small.items():
        assert rep_all[d] >= v - 1e-12, "bigger benchmark lowered overlap"


@given(
    texts=doc_strategy,
    fr=st.sampled_from([0.0, 0.3, 1.0]),
)
@_SETTINGS
def test_stratified_sample_equals_per_group_sample(spark, texts, fr):
    """Stratified sampling must equal running deterministic_sample at
    each group's fraction on that group alone — per-group independence
    under the shared (key, salt) membership rule."""
    from hadoop__spark.operators import corpus

    df = spark.createDataFrame(
        list(enumerate(texts)), "doc_id LONG, text STRING"
    ).withColumn("g", (F.col("doc_id") % 2).cast("string"))
    fractions = {"0": fr, "1": 0.5}
    got = {
        r.doc_id
        for r in corpus.stratified_deterministic_sample(
            df, fractions, group_col="g", salt="p-v1"
        ).collect()
    }
    want = set()
    for gv, gfr in fractions.items():
        want |= {
            r.doc_id
            for r in corpus.deterministic_sample(
                df.where(F.col("g") == gv), gfr, salt="p-v1"
            ).collect()
        }
    assert got == want


@given(
    texts=doc_strategy,
    k=st.integers(min_value=1, max_value=5),
)
@_SETTINGS
def test_cap_per_group_bound_nesting_and_layout_invariance(spark, texts, k):
    """On random corpora: no group ever exceeds k, survivors at k are
    a subset of survivors at k+1, and the kept set ignores physical
    row layout."""
    from hadoop__spark.operators import corpus

    df = spark.createDataFrame(
        list(enumerate(texts)), "doc_id LONG, text STRING"
    ).withColumn("g", (F.col("doc_id") % 3).cast("string"))
    capped = corpus.cap_per_group(df, "g", k)
    per_group = {
        r.g: r.cnt
        for r in capped.groupBy("g").agg(F.count("*").alias("cnt")).collect()
    }
    assert all(c <= k for c in per_group.values())
    ids_k = {r.doc_id for r in capped.collect()}
    ids_k1 = {
        r.doc_id for r in corpus.cap_per_group(df, "g", k + 1).collect()
    }
    assert ids_k <= ids_k1
    ids_shuffled = {
        r.doc_id
        for r in corpus.cap_per_group(df.repartition(5), "g", k).collect()
    }
    assert ids_shuffled == ids_k


@given(
    scores=st.lists(
        st.integers(min_value=-100, max_value=100), min_size=3, max_size=20
    ),
    frac=st.sampled_from([0.2, 0.5, 0.8]),
)
@_SETTINGS
def test_keep_top_fraction_is_a_prefix_of_the_score_order(spark, scores, frac):
    """Survivors are always a PREFIX of the descending score order
    closed under ties (no dropped row outscores a kept one), and the
    kept count is at least the exact top-frac count."""
    from hadoop__spark.operators import corpus

    df = spark.createDataFrame(
        [(i, float(s)) for i, s in enumerate(scores)],
        "doc_id LONG, quality_score DOUBLE",
    )
    kept = corpus.keep_top_fraction(df, frac).collect()
    kept_ids = {r.doc_id for r in kept}
    if not kept:
        pytest.skip("degenerate: empty survivor set")
    cutoff = min(r.quality_score for r in kept)
    for i, s in enumerate(scores):
        if s > cutoff:
            assert i in kept_ids, (i, s, cutoff)
        if i in kept_ids:
            assert s >= cutoff


@given(
    vecs=st.lists(
        st.lists(
            st.floats(
                min_value=-8, max_value=8,
                allow_nan=False, allow_infinity=False,
                width=32,
            ),
            min_size=4, max_size=4,
        ),
        min_size=6, max_size=24,
    ),
    n_assign=st.integers(min_value=1, max_value=2),
)
@_SETTINGS
def test_arrow_assignment_equals_jvm_on_random_vectors(
    spark, vecs, n_assign
):
    """The numpy matmul kernel and the JVM expression fold must
    produce identical (id, centroid) assignments on random vectors —
    dim 4 keeps numpy's pairwise summation bit-identical to the
    sequential fold, so even tie-breaks line up exactly."""
    from hadoop__spark.operators import similarity

    # all-zero vectors would hit ANSI divide-by-zero on the JVM path;
    # replace them with a unit vector so every example exercises both
    # kernels
    rows = [
        (
            i,
            [float(x) for x in v]
            if any(x != 0 for x in v)
            else [1.0, 0.0, 0.0, 0.0],
        )
        for i, v in enumerate(vecs)
    ]
    df = spark.createDataFrame(rows, "vec_id LONG, embedding ARRAY<DOUBLE>")
    cents = similarity.ivf_fit_centroids(df, nlist=3)
    jvm = {
        (r.vec_id, r.centroid_id)
        for r in similarity.ivf_assign(df, cents).collect()
    }
    arrow1 = {
        (r.vec_id, r.centroid_id)
        for r in similarity.ivf_assign_arrow(df, cents).collect()
    }
    assert arrow1 == jvm
    if n_assign == 2:
        a2 = similarity.ivf_assign_arrow(df, cents, n_assign=2).collect()
        assert len(a2) == 2 * len(rows)
        assert {(r.vec_id, r.centroid_id) for r in a2} >= jvm


@given(
    members=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=30),   # doc id
            st.integers(min_value=0, max_value=4),    # cluster
            st.one_of(
                st.none(),
                st.floats(
                    min_value=-10, max_value=10, allow_nan=False
                ),
            ),
        ),
        min_size=1,
        max_size=25,
        unique_by=lambda m: m[0],
    ),
    string_ids=st.booleans(),
)
@_SETTINGS
def test_cluster_keepers_equals_python_argmax(spark, members, string_ids):
    """For ANY cluster membership and partial scores — numeric or
    string ids — the keeper is the python argmax: best score first
    (None ranks last), ties to the smallest id; no cluster vanishes."""
    to_id = (lambda i: f"u{i:02d}") if string_ids else (lambda i: i)
    clusters = spark.createDataFrame(
        [(to_id(i), c) for i, c, _ in members],
        f"doc_id {'STRING' if string_ids else 'LONG'}, cluster_id LONG",
    )
    scores = spark.createDataFrame(
        [(to_id(i), s) for i, _, s in members if s is not None],
        f"doc_id {'STRING' if string_ids else 'LONG'}, quality_score DOUBLE",
    ) if any(s is not None for _, _, s in members) else spark.createDataFrame(
        [], f"doc_id {'STRING' if string_ids else 'LONG'}, quality_score DOUBLE"
    )
    got = {
        r.cluster_id: (r.doc_id, r.quality_score)
        for r in dedup.cluster_keepers(clusters, scores).collect()
    }
    want = {}
    for i, c, s in members:
        key = (
            -s if s is not None else float("inf"),
            to_id(i),
        )
        if c not in want or key < want[c][0]:
            want[c] = (key, to_id(i), s)
    assert got == {c: (i, s) for c, (_, i, s) in want.items()}


@given(
    texts=st.lists(
        st.lists(st.sampled_from(WORDS), min_size=1, max_size=12).map(
            " ".join
        ),
        min_size=4,
        max_size=10,
    ),
    data=st.data(),
)
@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_ingest_survivors_pairwise_clean_any_id_order(spark, texts, data):
    """r8 property: for ANY corpus, ANY batch split, and ANY id
    assignment (ids need NOT ascend across batches — the docstring
    only promises min-id parity for ascending ids, but pairwise
    cleanliness must hold unconditionally): after a two-batch ingest,
    (1) no two survivors share a normalized-text fingerprint, (2) no
    survivor pair reaches the Jaccard threshold, and (3) re-ingesting
    the whole corpus admits nothing."""
    import shutil
    import tempfile

    ids = data.draw(
        st.permutations(list(range(100, 100 + len(texts)))),
        label="ids",
    )
    mask = data.draw(
        st.lists(
            st.booleans(), min_size=len(texts), max_size=len(texts)
        ).filter(lambda m: any(m) and not all(m)),
        label="batch mask",
    )
    from hadoop__spark.operators.ingest import ingest_batch

    rows = list(zip(ids, texts))
    b1 = [r for r, m in zip(rows, mask) if m]
    b2 = [r for r, m in zip(rows, mask) if not m]
    state = tempfile.mkdtemp(prefix="ingest_prop_") + "/state"
    try:
        surv = []
        for name, part in [("b1", b1), ("b2", b2)]:
            df = spark.createDataFrame(part, "doc_id LONG, text STRING")
            surv += ingest_batch(spark, state, df, name).collect()
        assert surv
        # (1) exact plane: fingerprints unique among survivors
        norm = [" ".join(r.text.lower().split()) for r in surv]
        assert len(set(norm)) == len(norm), norm
        # (2) near-dup plane: exact 3-gram Jaccard below threshold
        def sh(t):
            w = t.split()
            return {tuple(w[i : i + 3]) for i in range(len(w) - 2)}

        for i in range(len(norm)):
            for j in range(i + 1, len(norm)):
                a, b = sh(norm[i]), sh(norm[j])
                if a and b:
                    jac = len(a & b) / len(a | b)
                    assert jac < 0.8, (norm[i], norm[j], jac)
        # (3) idempotence for any id order
        everything = spark.createDataFrame(
            rows, "doc_id LONG, text STRING"
        )
        assert ingest_batch(spark, state, everything, "b3").count() == 0
    finally:
        shutil.rmtree(state, ignore_errors=True)


@given(
    texts=st.lists(
        st.lists(st.sampled_from(WORDS), min_size=1, max_size=12).map(
            " ".join
        ),
        min_size=4,
        max_size=8,
    ),
    data=st.data(),
)
@settings(
    max_examples=4,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_retract_fast_equals_rebuild_any_subset(spark, texts, data):
    """r9 property: for ANY corpus, ANY two-batch split, and ANY
    victim subset (retained keepers, duplicate-dropped ids, ghosts —
    even the whole corpus), the fast plane-local retraction leaves
    the same snapshots and probe-visible text-plane state as the
    full-rebuild path, and both timelines' NEXT ingest of the full
    corpus admits the same ids."""
    import shutil
    import tempfile

    from hadoop__spark.operators.ingest import (
        ingest_batch,
        retract_documents,
    )

    ids = data.draw(
        st.permutations(list(range(100, 100 + len(texts)))), label="ids"
    )
    mask = data.draw(
        st.lists(
            st.booleans(), min_size=len(texts), max_size=len(texts)
        ).filter(lambda m: any(m) and not all(m)),
        label="batch mask",
    )
    vmask = data.draw(
        st.lists(
            st.booleans(), min_size=len(texts), max_size=len(texts)
        ).filter(any),
        label="victim mask",
    )
    ghost = data.draw(st.booleans(), label="ghost victim")
    rows = list(zip(ids, texts))
    b1 = [r for r, m in zip(rows, mask) if m]
    b2 = [r for r, m in zip(rows, mask) if not m]
    victims = [(i,) for (i, _), v in zip(rows, vmask) if v]
    if ghost:
        victims.append((9999,))
    base = tempfile.mkdtemp(prefix="retract_prop_")
    a, b = f"{base}/a", f"{base}/b"
    try:
        for state in (a, b):
            for name, part in [("b1", b1), ("b2", b2)]:
                df = spark.createDataFrame(part, "doc_id LONG, text STRING")
                ingest_batch(spark, state, df, name)
        vdf = spark.createDataFrame(victims, "doc_id LONG")
        left_a = retract_documents(spark, a, vdf, mode="fast")
        left_b = retract_documents(spark, b, vdf, mode="rebuild")
        assert {r.doc_id for r in left_a.collect()} == {
            r.doc_id for r in left_b.collect()
        }

        def tbl(state, rel, cols):
            return {
                tuple(getattr(r, c) for c in cols)
                for r in spark.read.parquet(f"{state}/{rel}")
                .select(*cols)
                .collect()
            }

        assert tbl(a, "fingerprints", ["fp", "keep_id"]) == tbl(
            b, "fingerprints", ["fp", "keep_id"]
        )
        assert tbl(a, "signatures", ["_id", "mh_0", "mh_63"]) == tbl(
            b, "signatures", ["_id", "mh_0", "mh_63"]
        )
        everything = spark.createDataFrame(rows, "doc_id LONG, text STRING")
        admitted = {
            state: {
                r.doc_id
                for r in ingest_batch(
                    spark, state, everything, "bz"
                ).collect()
            }
            for state in (a, b)
        }
        assert admitted[a] == admitted[b]
    finally:
        shutil.rmtree(base, ignore_errors=True)


_STMT_FRAGMENT = st.lists(
    st.one_of(
        # no bare "-", "/", "*" (adjacent fragments could combine
        # into a comment opener that swallows the joining ";") and no
        # bare "\\" (the legacy escape's left-to-right consumption
        # can't be modelled by a post-hoc replace — its exact
        # semantics are pinned by test_exec_split_units instead):
        # the comment/string BUILDERS cover those states with
        # balanced bodies
        st.sampled_from(["select ", "a", "b2", " from ", "t", " where ", "=",
                         "1", " ", ",", "(", ")"]),
        # quoted strings whose BODY may contain every splitter hazard
        st.builds(
            lambda q, body: q + body.replace("\\", "").replace(q, "") + q,
            st.sampled_from(["'", '"', "`"]),
            st.text(
                alphabet=";'\"`-/* ab\\\n", min_size=0, max_size=12
            ),
        ),
        # comments that swallow ';' to end-of-line / end-of-block
        st.builds(
            lambda body: "-- " + body.replace("\n", " ") + "\n",
            st.text(alphabet="; ab*/", min_size=0, max_size=8),
        ),
        st.builds(
            lambda body: "/* " + body.replace("*/", "") + " */",
            st.text(alphabet="; ab'\"-\n", min_size=0, max_size=8),
        ),
    ),
    min_size=1,
    max_size=6,
).map("".join)


@given(stmts=st.lists(_STMT_FRAGMENT, min_size=1, max_size=5))
@settings(max_examples=120, deadline=None)
def test_exec_split_roundtrips_generated_statements(stmts):
    """Property: joining statements with ';' and re-splitting with the
    quote-aware statement splitter recovers exactly the non-blank
    statements (whitespace-stripped) — for ANY statement bodies whose
    quotes/comments are internally balanced, including ';' inside
    strings and comments and escaped quotes.  Backslash-escape
    semantics (including the left-to-right '\\;' consumption order)
    are pinned separately by test_exec_split_units."""
    from hadoop__spark.plans.lineage import split_statements

    out = split_statements(";".join(stmts))
    assert out == [s.strip() for s in stmts if s.strip()]
