#!/usr/bin/env python
"""Synthetic 10x scale rehearsal for the dedup/ANN plane.

The 100 TB design claims (bucket-local joins, no quadratic candidate
blowup) are plan-verified in tests/test_plan_shapes.py; this script
LOAD-tests them: it inflates the sf0.1 corpus by a duplication factor
(default 10x — exact copies for the fingerprint stage, near-dup
mutations for the minhash stage), runs the canonical pipeline
fingerprint -> minhash-LSH pairs -> connected components, plus
ivf_topk over a 10x embedding corpus, and reports per-phase wall
time, shuffle read/write bytes, spill, and peak execution memory from
Spark's status REST API at both 1x and the inflated factor.

The pass criterion (recorded in NOTES.md): every phase completes in
the sandbox and measured shuffle volume grows ~linearly in corpus
size — the bucket-local design — not quadratically.

Usage: python tools/scale_rehearsal.py [multiplier] [sf_dir]
"""

from __future__ import annotations

import json
import os
import sys
import time
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from hadoop__spark.operators import corpus, dedup, similarity
from hadoop__spark.session import get_spark, load_tables

UI_PORT = 4049


def get_metric_totals() -> dict[str, int]:
    """Sum shuffle/spill/memory metrics over all stages via the UI
    REST API (driver-side observability only — nothing here is on any
    query's execution path)."""
    base = f"http://localhost:{UI_PORT}/api/v1/applications"
    apps = json.load(urllib.request.urlopen(base, timeout=10))
    app_id = apps[0]["id"]
    stages = json.load(
        urllib.request.urlopen(f"{base}/{app_id}/stages", timeout=10)
    )
    tot = {
        "shuffle_read": 0,
        "shuffle_write": 0,
        "spill_mem": 0,
        "spill_disk": 0,
        "peak_exec_mem": 0,
        "input_read": 0,
    }
    for s in stages:
        tot["shuffle_read"] += s.get("shuffleReadBytes", 0)
        tot["shuffle_write"] += s.get("shuffleWriteBytes", 0)
        tot["spill_mem"] += s.get("memoryBytesSpilled", 0)
        tot["spill_disk"] += s.get("diskBytesSpilled", 0)
        tot["peak_exec_mem"] = max(
            tot["peak_exec_mem"], s.get("peakExecutionMemory", 0)
        )
        tot["input_read"] += s.get("inputBytes", 0)
    return tot


def phase(name, thunk, out):
    before = get_metric_totals()
    t0 = time.perf_counter()
    result = thunk()
    wall = time.perf_counter() - t0
    after = get_metric_totals()
    rec = {
        "result": result,
        "wall_sec": round(wall, 2),
        "shuffle_read_mb": round(
            (after["shuffle_read"] - before["shuffle_read"]) / 1e6, 2
        ),
        "shuffle_write_mb": round(
            (after["shuffle_write"] - before["shuffle_write"]) / 1e6, 2
        ),
        "spill_disk_mb": round(
            (after["spill_disk"] - before["spill_disk"]) / 1e6, 2
        ),
        "peak_exec_mem_mb": round(after["peak_exec_mem"] / 1e6, 2),
        "input_read_mb": round(
            (after["input_read"] - before["input_read"]) / 1e6, 2
        ),
    }
    out[name] = rec
    print(f"  {name:24} {rec}", flush=True)


def inflate_docs(docs, mult: int, n_exact: int = 4):
    """mult variants per document: v=0 original, v in [1, n_exact]
    byte-identical copies (fingerprint fodder), the rest near-dup
    mutations (one appended variant token -> shingle Jaccard ~0.94,
    above the 0.8 LSH threshold)."""
    v = F.explode(F.sequence(F.lit(0), F.lit(mult - 1))).alias("_v")
    return docs.select("doc_id", "text", v).select(
        (F.col("doc_id") * mult + F.col("_v")).alias("doc_id"),
        F.when(F.col("_v") <= n_exact, F.col("text"))
        .otherwise(
            F.concat(F.col("text"), F.lit(" variantt"), F.col("_v"))
        )
        .alias("text"),
    )


def inflate_embs(embs, mult: int):
    """mult variants per vector, each nudged in dimension 0 so
    directions differ (cosine is scale-invariant; a scaled copy would
    be an exact duplicate).  The nudge arithmetic stays in FLOAT —
    a double literal would silently promote the whole inflated column
    to array<double>, diverging from the float source table (which
    the fixed ingest batch below still reads)."""
    v = F.explode(F.sequence(F.lit(0), F.lit(mult - 1))).alias("_v")
    nudge = F.col("_v").cast("float") * F.lit(0.01).cast("float")
    return embs.select("vec_id", "embedding", v).select(
        (F.col("vec_id") * mult + F.col("_v")).alias("vec_id"),
        F.transform(
            "embedding",
            lambda x, i: F.when(i == 0, x + nudge).otherwise(x),
        ).alias("embedding"),
    )


def run_at(spark, sf_dir: str, mult: int, workdir: str) -> dict:
    tables = load_tables(spark, sf_dir)
    docs_path = f"{workdir}/docs_x{mult}"
    embs_path = f"{workdir}/embs_x{mult}"
    inflate_docs(tables["documents"], mult).write.mode("overwrite").parquet(
        docs_path
    )
    inflate_embs(tables["embeddings"], mult).write.mode("overwrite").parquet(
        embs_path
    )
    docs = spark.read.parquet(docs_path)
    embs = spark.read.parquet(embs_path)
    n_docs, n_vecs = docs.count(), embs.count()
    print(f"== x{mult}: {n_docs} docs, {n_vecs} vectors", flush=True)

    out: dict = {"n_docs": n_docs, "n_vecs": n_vecs}
    # canonical pipeline order: exact dedup first, near-dup on survivors
    survivors_path = f"{workdir}/survivors_x{mult}"

    def fp():
        surv = dedup.dedup_corpus(docs, method="fingerprint")
        surv.write.mode("overwrite").parquet(survivors_path)
        return spark.read.parquet(survivors_path).count()

    phase("fingerprint_dedup", fp, out)
    surv = spark.read.parquet(survivors_path)

    phase(
        "minhash_lsh_pairs",
        lambda: dedup.minhash_lsh_pairs(surv, threshold=0.8).count(),
        out,
    )
    pairs = dedup.minhash_lsh_pairs(surv, threshold=0.8)
    phase(
        "dedup_clusters",
        lambda: dedup.dedup_clusters(pairs).count(),
        out,
    )
    queries = embs.where(F.col("vec_id") % (100 * mult) == 0)
    phase(
        "ivf_topk",
        lambda: similarity.ivf_topk(embs, queries, k=10, nlist=32).count(),
        out,
    )
    # one-call semantic dedup over the inflated vectors: the nudged
    # variants are mutually near-identical (cosine ~1), so clusters
    # are dense — the stress shape for bucket-local pairing.  Auto
    # nlist (4*sqrt(N)) + the vectorized arrow assignment kernel —
    # this phase is what caught the per-round edge recompute (x73
    # wall) and the interpreted-fold assignment cost (see NOTES).
    phase(
        "semantic_dedup",
        lambda: dedup.semantic_dedup(
            embs, threshold=0.99, assign="arrow"
        ).count(),
        out,
    )
    # mergeable accounting over the inflated corpus (synthetic source
    # split so the group-by has real fan-out)
    acct = docs.withColumn(
        "source", F.concat(F.lit("src"), (F.col("doc_id") % 50).cast("string"))
    )
    phase(
        "corpus_accounting",
        lambda: corpus.corpus_stats(acct).count(),
        out,
    )

    # full prepare_corpus chain (round-7): decontaminate + line_dedup +
    # redact + repetition filter + quality gate + per-source cap +
    # minhash dedup + semantic dedup + split, lazily AND with
    # materialize_dir — the composed chain whose lazy-vs-materialized
    # scan behavior is the documented 100 TB risk.  The pass bar:
    # both complete at x-mult with ~linear shuffle, and materialized
    # beats lazy on total scan bytes (input_read_mb).
    from hadoop__spark.operators import text as text_ops

    bench_docs = acct.where(F.col("doc_id") % 997 == 0)
    scores = text_ops.quality_score(acct).select("doc_id", "quality_score")
    demb = embs.select(F.col("vec_id").alias("doc_id"), "embedding")
    cap_k = max(1, int(n_docs / 50 * 0.8))

    def chain(mdir):
        return corpus.prepare_corpus(
            acct,
            benchmark=bench_docs,
            line_dedup=True,
            keep_frac=0.7,
            group_cap=("source", cap_k),
            dedup_method="minhash",
            scores=scores,
            embeddings=demb,
            semantic_threshold=0.99,
            semantic_kwargs={"assign": "arrow"},
            materialize_dir=mdir,
        ).count()

    phase("prepare_chain_lazy", lambda: chain(None), out)
    phase(
        "prepare_chain_mat",
        lambda: chain(f"{workdir}/chain_x{mult}"),
        out,
    )

    # incremental ingest (round-7): bootstrap the three-plane state
    # from the x-mult corpus, then ingest a FIXED-size batch (same
    # content at every mult).  The 100 TB claim under test: the
    # batch probe costs ∝ batch, ~flat in corpus size — only the
    # one-time bootstrap scales.
    import shutil

    from hadoop__spark.operators import ingest as ingest_ops

    state = f"{workdir}/ingest_state_x{mult}"
    shutil.rmtree(state, ignore_errors=True)
    orig = load_tables(spark, sf_dir)
    fixed_batch = orig["documents"].where(F.col("doc_id") < 1000).select(
        (F.col("doc_id") + F.lit(100_000_000)).alias("doc_id"),
        F.when(
            F.col("doc_id") % 2 == 1,
            F.concat(
                F.lit("wholly novel batch body number "),
                F.col("doc_id").cast("string"),
            ),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    fixed_emb = orig["embeddings"].where(F.col("vec_id") < 1000).select(
        (F.col("vec_id") + F.lit(100_000_000)).alias("doc_id"),
        F.when(
            F.col("vec_id") % 2 == 1,
            F.transform("embedding", lambda x: -x),
        )
        .otherwise(F.col("embedding"))
        .alias("embedding"),
    )
    phase(
        "ingest_bootstrap",
        lambda: ingest_ops.ingest_batch(
            spark, state, docs, "base", embeddings=demb, assign="arrow"
        ).count(),
        out,
    )
    phase(
        "ingest_fixed_batch",
        lambda: ingest_ops.ingest_batch(
            spark, state, fixed_batch, "delta", embeddings=fixed_emb,
            assign="arrow",
        ).count(),
        out,
    )

    # round-9: takedown cost ∝ retracted set, not corpus.  A FIXED
    # ~20-document retraction against the three-plane state at every
    # mult: the fast path's snapshot rewrites and file-local deletes
    # must stay ~flat while mode="rebuild" (the old-only path) pays
    # the full corpus re-sign — the contrast IS the claim.
    victims_fast = docs.select("doc_id").where(
        F.col("doc_id") % (3000 * mult) == 0
    )
    victims_rebuild = docs.select("doc_id").where(
        F.col("doc_id") % (3000 * mult) == 1
    )

    def retr_fast():
        ingest_ops.retract_documents(
            spark, state, victims_fast, mode="fast"
        )
        return int(victims_fast.count())

    phase("retract_fast", retr_fast, out)

    def retr_rebuild():
        ingest_ops.retract_documents(
            spark, state, victims_rebuild, mode="rebuild",
            embeddings=demb,
        )
        return int(victims_rebuild.count())

    phase("retract_rebuild", retr_rebuild, out)

    # round-8: the SAME flat-in-corpus-size claim on the other two
    # text planes now routed through ingest_batch (text-only — the
    # embedding plane is orthogonal and measured above).  simhash at
    # max_hamming=3 (inside the pigeonhole-certain band), ngram at
    # the exact 0.8 bound.
    for meth, kw in (
        ("simhash", {"max_hamming": 3}),
        ("ngram", {}),
    ):
        st = f"{workdir}/ingest_state_{meth}_x{mult}"
        shutil.rmtree(st, ignore_errors=True)
        phase(
            f"ingest_bootstrap_{meth}",
            lambda st=st, meth=meth, kw=kw: ingest_ops.ingest_batch(
                spark, st, docs, "base", text_method=meth, **kw
            ).count(),
            out,
        )
        phase(
            f"ingest_fixed_batch_{meth}",
            lambda st=st, meth=meth, kw=kw: ingest_ops.ingest_batch(
                spark, st, fixed_batch, "delta", text_method=meth, **kw
            ).count(),
            out,
        )
    return out


def main() -> None:
    mult = int(sys.argv[1]) if len(sys.argv) > 1 else 10
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.1"
    workdir = os.environ.get("REHEARSAL_DIR", "/tmp/scale_rehearsal")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = get_spark(
        "scale-rehearsal",
        cpus=cpus,
        extra_conf={
            "spark.ui.enabled": "true",
            "spark.ui.port": str(UI_PORT),
            "spark.ui.retainedStages": "5000",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    report = {}
    for m in (1, mult):
        report[f"x{m}"] = run_at(spark, sf_dir, m, workdir)
    base, big = report["x1"], report[f"x{mult}"]
    print("\n== scaling ratios (x{}/x1) ==".format(mult))
    for ph in ("fingerprint_dedup", "minhash_lsh_pairs", "dedup_clusters",
               "ivf_topk", "semantic_dedup", "corpus_accounting",
               "prepare_chain_lazy", "prepare_chain_mat",
               "ingest_bootstrap", "ingest_fixed_batch",
               "retract_fast", "retract_rebuild",
               "ingest_bootstrap_simhash", "ingest_fixed_batch_simhash",
               "ingest_bootstrap_ngram", "ingest_fixed_batch_ngram"):
        b, g = base[ph], big[ph]
        ratio = lambda k: (
            round(g[k] / b[k], 1) if b[k] else float("inf") if g[k] else 0.0
        )
        print(
            f"  {ph:24} wall x{ratio('wall_sec')}  "
            f"shuffle_rw x{ratio('shuffle_read_mb')}/x{ratio('shuffle_write_mb')}  "
            f"spill {g['spill_disk_mb']} MB  peak {g['peak_exec_mem_mb']} MB"
        )
    print(json.dumps(report))


if __name__ == "__main__":
    main()
