"""Physical-plan assertions for the headline operators.

Correct rows are not enough at 100 TB — these tests pin the plan
*shape*: filters reach the scan, small sides broadcast, partial
aggregation precedes the exchange, and nothing degenerates into a
cartesian product.  If a Spark upgrade or refactor regresses a plan,
these fail before the benchmark does.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from hadoop__spark.operators import dedup, similarity
from hadoop__spark.queries import probe_map
from hadoop__spark.session import load_tables, register_views
from tests.conftest import SF_DIR


@pytest.fixture(scope="module", autouse=True)
def _views(spark):
    register_views(spark, SF_DIR)


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_h01_scan_pushdown_and_partial_agg(spark):
    df = probe_map()["h01_pricing_summary"].run(spark, SF_DIR)
    plan = _plan(df)
    assert "PushedFilters: [IsNotNull(l_quantity), LessThan(l_quantity" in plan
    assert "partial_sum" in plan, "map-side combine missing"
    assert plan.count("Exchange") == 1, plan


def test_j06_mapjoin_hint_broadcasts(spark):
    df = probe_map()["j01_inner_broadcast"].run(spark, SF_DIR)
    assert "BroadcastHashJoin" in _plan(df)


def test_h03_dimension_joins_broadcast(spark):
    """TPC-H Q5 shape: every dimension (region/nation/supplier/
    customer) must broadcast against the lineitem fact — no sort-merge
    exchange of the fact table for dimension joins at this size."""
    df = probe_map()["h03_local_supplier"].run(spark, SF_DIR)
    plan = _plan(df)
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_key_skew_report_single_scan_reused_exchange(spark):
    """key_skew_report's total-row aggregate shares the per-key
    aggregate subplan: the finalized AQE plan must read the input ONCE
    and serve the grand-total branch from a ReusedExchange — the
    property the operator's docstring promises."""
    from hadoop__spark.operators.skew import key_skew_report

    li = load_tables(spark, SF_DIR)["lineitem"]
    rep = key_skew_report(li, "l_returnflag", top=3)
    rep.collect()  # finalize the adaptive plan
    plan = _plan(rep).split("== Initial Plan ==")[0]
    assert plan.count("FileScan") == 1, plan
    assert "ReusedExchange" in plan, plan


def test_pp02_packing_plan_is_range_partitioned(spark):
    """pack_sequences must lay out the stream via the distributed
    prefix-sum: a rangepartitioning exchange (pid order == global
    order), partition-LOCAL windows, and no cartesian product.  The
    only unpartitioned window allowed is the per-partition-totals
    offset frame — bounded at one row per partition."""
    import re

    df = probe_map()["pp02_training_prep"].run(spark, SF_DIR)
    plan = _plan(df)
    assert "rangepartitioning" in plan, plan
    assert "CartesianProduct" not in plan
    win_lines = [l for l in plan.splitlines() if "Window [" in l]
    for line in win_lines:
        if "sum(n_tokens" in line:
            # corpus-sized cumsum: must be partition-local (keyed _pid)
            assert re.search(r"\], \[_pid#\d+\], \[doc_id", line), line
        else:
            # the only unpartitioned window aggregates the one-row-per-
            # partition totals frame
            assert "sum(_ptotal" in line, line


def test_minhash_no_cartesian(spark):
    docs = load_tables(spark, SF_DIR)["documents"]
    plan = _plan(dedup.minhash_lsh_pairs(docs, threshold=0.8))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_cosine_topk_broadcasts_queries_not_corpus(spark):
    embs = load_tables(spark, SF_DIR)["embeddings"]
    q = embs.where(F.col("vec_id") < 5)
    plan = _plan(similarity.cosine_topk(embs, q, k=5))
    # the only join must be a broadcast NL join (tiny query side);
    # the corpus must not hash-shuffle before it
    join_part = plan.split("BroadcastNestedLoopJoin")
    assert len(join_part) == 2, "expected broadcast of the query side"
    assert "Exchange hashpartitioning" not in join_part[1].split("Window")[0]


def test_ivf_assign_zero_shuffle(spark):
    """Nearest-centroid assignment must be a pure projection: no
    Exchange, no Window, no join — the literal-centroid-array rewrite
    (similarity.collect_centroid_array) removed the crossJoin×nlist +
    Window.partitionBy argmin that used to shuffle the expanded corpus."""
    embs = load_tables(spark, SF_DIR)["embeddings"]
    cents = similarity.ivf_fit_centroids(embs, nlist=8)
    plan = _plan(similarity.ivf_assign(embs, cents))
    assert "Exchange" not in plan, plan
    assert "Window" not in plan, plan
    assert "Join" not in plan, plan


def test_bucketed_embedding_dedup_single_join_shuffle(spark):
    """The bucketed dedup's only shuffles are the bucket-local self-join
    on centroid_id and the final dropDuplicates — the assignment stage
    contributes none (no Window, no nested-loop expansion)."""
    embs = load_tables(spark, SF_DIR)["embeddings"]
    plan = _plan(dedup.embedding_dedup_pairs_bucketed(embs, nlist=4))
    assert "Window" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_contamination_broadcasts_benchmark_not_corpus(spark):
    """The benchmark membership probe must be a broadcast hash join —
    the corpus side hash-shuffles only for the per-document rollup and
    the (small) benchmark distinct, never for the join itself."""
    from hadoop__spark.operators import corpus

    docs = load_tables(spark, SF_DIR)["documents"]
    bench = docs.where(F.col("doc_id") % 17 == 0)
    plan = _plan(corpus.contamination_report(docs, bench))
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    # benchmark-distinct + final rollup are the only hash shuffles
    assert plan.count("Exchange hashpartitioning") <= 3, plan


def test_exact_dedup_single_shuffle(spark):
    docs = load_tables(spark, SF_DIR)["documents"]
    plan = _plan(dedup.fingerprint_dedup(docs))
    # one exchange for the repartition spread (narrow input) and one
    # for the groupBy — but never more
    assert plan.count("Exchange") <= 2
    assert "partial_min" in plan and "partial_count" in plan


def test_window_probe_single_sort_per_partition(spark):
    df = probe_map()["w01_windows"].run(spark, SF_DIR)
    plan = _plan(df)
    assert "Window" in plan
    assert plan.count("Exchange hashpartitioning") == 1


def test_dynamic_partition_pruning(spark, tmp_path):
    """DPP: a filter on the dim side of a join over a partitioned fact
    must prune fact partitions at runtime (dynamicpruning subquery in
    the plan) — on a 100 TB partitioned fact this is the difference
    between scanning one day and scanning all of them."""
    from hadoop__spark import sources

    orders = load_tables(spark, SF_DIR)["orders"]
    fact_path = str(tmp_path / "orders_part")
    sources.write_partitioned(orders, fact_path, ["o_orderstatus"])
    fact = spark.read.parquet(fact_path)
    dim_path = str(tmp_path / "status_dim")
    spark.createDataFrame(
        [("F", "finished"), ("O", "open"), ("P", "pending")],
        ["status", "label"],
    ).write.parquet(dim_path)
    dim = spark.read.parquet(dim_path).where(F.col("label") == "finished")
    j = fact.join(dim, fact.o_orderstatus == dim.status)
    optimized = j._jdf.queryExecution().optimizedPlan().toString()
    assert "dynamicpruning" in optimized, optimized


def test_minhash_from_table_prunes_signature_columns(spark, tmp_path):
    """The materialized-signatures path must column-prune: the banding
    branch scans ONLY the mh_* columns of the signatures table (the
    whole point of storing them columnar), the verify branch only
    (_id, _sh) — and the pairing plan stays bucket-local (no
    cartesian, no nested-loop)."""
    docs = load_tables(spark, SF_DIR)["documents"]
    path = str(tmp_path / "mh_idx")
    dedup.minhash_write_signatures(docs, path, num_perm=16)
    plan = _plan(
        dedup.minhash_lsh_pairs_frames(
            spark.read.parquet(f"{path}/signatures"),
            spark.read.parquet(f"{path}/shingles"),
            bands=4,
        )
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # identify each scan by its output attribute list (Location paths
    # truncate at spark.sql.maxMetadataStringLength)
    sig_scans = [
        l for l in plan.splitlines() if "FileScan" in l and "mh_0#" in l
    ]
    assert sig_scans, "no signatures scan in plan"
    for line in sig_scans:
        assert "_sh#" not in line, line  # shingles never read via signatures
    sh_scans = [
        l for l in plan.splitlines() if "FileScan" in l and "_sh#" in l
    ]
    assert sh_scans and all("mh_0#" not in l for l in sh_scans)


def test_simhash_from_table_plan_bucket_local(spark, tmp_path):
    """Pairs from the materialized simhash table: the input is the
    8-bytes-per-doc signature scan, candidates come from the chunk
    bucket groupBy — never a cartesian/nested-loop self-join."""
    docs = load_tables(spark, SF_DIR)["documents"]
    path = str(tmp_path / "sh_idx")
    dedup.simhash_write_signatures(docs, path)
    plan = _plan(
        dedup.simhash_pairs_frames(
            spark.read.parquet(f"{path}/signatures"), n_docs=docs.count()
        )
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    scans = [l for l in plan.splitlines() if "FileScan" in l]
    assert scans and all("simhash" in l for l in scans), scans


def test_ngram_doc_freq_table_replaces_aggregation(spark, tmp_path):
    """With a supplied doc_freq table the prefix-filter path must scan
    the (vocabulary-sized) table instead of re-aggregating document
    frequencies from the corpus: the df-side scan reads only
    (_s, _df), and exactly one corpus-side frequency aggregation
    disappears from the plan."""
    docs = load_tables(spark, SF_DIR)["documents"]
    path = str(tmp_path / "ng_df")
    dedup.ngram_write_doc_freq(docs, path)
    table = spark.read.parquet(f"{path}/doc_freq")
    with_table = _plan(
        dedup.ngram_jaccard_pairs(docs, threshold=0.8, doc_freq=table)
    )
    self_computed = _plan(dedup.ngram_jaccard_pairs(docs, threshold=0.8))
    df_scans = [
        l for l in with_table.splitlines()
        if "FileScan" in l and "_df#" in l
    ]
    assert df_scans, "doc_freq table not scanned"
    assert all("text" not in l for l in df_scans)
    # the supplied table removes one count-aggregation pair over _s
    assert with_table.count("partial_count") < self_computed.count(
        "partial_count"
    )


def test_cap_per_group_map_side_group_limit(spark):
    """The per-source cap must trigger Catalyst's InferWindowGroupLimit
    rewrite: a Partial WindowGroupLimit BELOW the exchange (each map
    task ships at most k rows per group — the skew-proofing) and a
    Final one above it; exactly one hash exchange total."""
    from hadoop__spark.operators import corpus

    docs = load_tables(spark, SF_DIR)["documents"]
    plan = _plan(corpus.cap_per_group(docs, "source", 3, score_col="n_chars"))
    partial = [l for l in plan.splitlines() if "WindowGroupLimit" in l and "Partial" in l]
    final = [l for l in plan.splitlines() if "WindowGroupLimit" in l and "Final" in l]
    assert partial and final, plan
    # Partial must sit below the exchange: it appears AFTER the
    # Exchange line in the printed tree (deeper = later lines)
    assert plan.index("Partial") > plan.index("Exchange hashpartitioning"), plan
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_cluster_keepers_partial_agg_no_window(spark):
    """The quality-aware keeper argmax must stay a partially-aggregated
    min-over-struct (each map task reduces to one candidate row per
    cluster before the exchange) with NO window over cluster members —
    including under string ids (round-7: the argmax carries the id
    inside the struct instead of negating it)."""
    from hadoop__spark.operators import dedup

    docs = load_tables(spark, SF_DIR)["documents"]
    clusters = docs.select(
        F.concat(F.lit("u"), F.col("doc_id").cast("string")).alias("doc_id"),
        F.concat(F.lit("u"), (F.col("doc_id") % 50).cast("string")).alias(
            "cluster_id"
        ),
    )
    scores = docs.select(
        F.concat(F.lit("u"), F.col("doc_id").cast("string")).alias("doc_id"),
        F.col("n_chars").cast("double").alias("quality_score"),
    )
    plan = _plan(dedup.cluster_keepers(clusters, scores))
    assert "partial_min" in plan, plan
    assert "Window" not in plan, plan


def test_sketch_accounting_partial_aggregation(spark):
    """The KLL score sketch and the theta overlap sketch must build
    map-side partial sketches below the exchange — kilobytes per
    group cross the wire, never the scores/fingerprints."""
    from hadoop__spark.operators import corpus

    docs = load_tables(spark, SF_DIR)["documents"]
    scored = docs.select(
        "doc_id", "source", F.col("n_chars").cast("double").alias("quality_score")
    )
    plan = _plan(corpus.score_sketch(scored, ["source"]))
    assert "partial_kll_sketch_agg_double" in plan, plan
    plan = _plan(corpus.overlap_sketch(docs))
    assert "partial_theta_sketch_agg" in plan, plan


def test_keep_top_fraction_sketch_and_broadcast_cutoff(spark):
    """Quantile thresholding must (a) compute the cutoff as a
    partially-aggregated percentile sketch over a column-pruned scan
    (only the score column read), (b) broadcast the single-row cutoff,
    and (c) never hash-shuffle the corpus side."""
    from hadoop__spark.operators import corpus
    from hadoop__spark.operators.text import quality_score

    docs = load_tables(spark, SF_DIR)["documents"]
    scored = docs.withColumnRenamed("n_chars", "quality_score")
    plan = _plan(corpus.keep_top_fraction(scored, 0.25))
    assert "partial_percentile_approx" in plan, plan
    assert "BroadcastExchange" in plan, plan
    # the only non-broadcast exchange is the sketch's SinglePartition
    # merge (one sketch row per map task)
    assert "Exchange hashpartitioning" not in plan, plan
    sketch_scans = [
        l for l in plan.splitlines()
        if "FileScan" in l and "ReadSchema: struct<n_chars:bigint>" in l
    ]
    assert sketch_scans, "cutoff sketch must column-prune to the score"


def test_corpus_stats_sketch_partial_aggregation(spark):
    """The accounting sketches must partially aggregate map-side (one
    sketch per task per group crosses the wire, not rows) on both the
    doc-level and exploded-token branches, with no cartesian join."""
    from hadoop__spark.operators import corpus

    docs = load_tables(spark, SF_DIR)["documents"]
    plan = _plan(corpus.corpus_stats_sketch(docs))
    assert plan.count("partial_hll_sketch_agg") >= 2, plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_embedding_pairs_against_index_partition_pruned(spark, tmp_path):
    """The incremental embedding-dedup join must read the index
    through a PartitionFilters-pruned scan on centroid_id (bucket
    directories only), and never degenerate to cartesian/nested-loop."""
    embs = load_tables(spark, SF_DIR)["embeddings"]
    path = str(tmp_path / "ivf_plan")
    similarity.ivf_write_index(embs, path, nlist=4)
    batch = embs.where(F.col("vec_id") < 20)
    plan = _plan(
        dedup.embedding_pairs_against_index(spark, path, batch, threshold=0.4)
    )
    pruned = [
        l for l in plan.splitlines()
        if "FileScan" in l and "PartitionFilters" in l
        and "centroid_id" in l.split("PartitionFilters")[1].split("]")[0]
    ]
    assert pruned, plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_eligibility_filter_cap_plan_both_sources(spark):
    """r8: the shared eligibility stage keeps the WindowGroupLimit
    rewrite on the fixed-k route (cap_per_group underneath — this is
    what ingest's BOOTSTRAP cap now gets, an upgrade over the old
    always-ranked path), while the persisted-counts route accepts the
    plain row-number window (variable limit k - used; it partitions
    over the batch's rows only, so state is bounded by batch group
    size)."""
    from hadoop__spark.operators import corpus

    docs = load_tables(spark, SF_DIR)["documents"]
    fixed = _plan(
        corpus.eligibility_filter(
            docs, "doc_id", None, "quality_score", group_cap=("source", 3)
        )
    )
    assert "WindowGroupLimit" in fixed, fixed
    used = spark.createDataFrame(
        [("s1", 2)], "source STRING, n_admitted LONG"
    )
    ranked = _plan(
        corpus.eligibility_filter(
            docs, "doc_id", None, "quality_score",
            group_cap=("source", 3), used_counts=used,
        )
    )
    assert "row_number" in ranked and "WindowGroupLimit" not in ranked, ranked
