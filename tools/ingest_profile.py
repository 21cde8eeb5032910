#!/usr/bin/env python
"""Per-phase profile of one steady-state ingest_batch call — the
feedback loop for attacking the FIXED per-micro-batch orchestration
overhead (measured round 10: ~185 Spark jobs / ~19 s per 25-doc batch
at local[16], flat in corpus and batch count — the floor that bounds
small-batch streaming cadence).

Method: wrap each phase function on the ingest module with a wall
timer that also sets the Spark job description, so both the phase
walls AND the per-phase job counts (read back from the Spark UI REST
API) attribute the floor.  No production code changes — the wrappers
monkeypatch module attributes for the profiled calls only.

Usage: python tools/ingest_profile.py [n_warm_batches] [docs_per_batch]
Prints one JSON line: {"phases": {name: {"sec": ..., "jobs": ...}},
"total_sec": ..., "total_jobs": ...}.
"""

from __future__ import annotations

import functools
import json
import os
import shutil
import sys
import time
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import hadoop__spark.operators.dedup as dd  # noqa: E402
import hadoop__spark.operators.ingest as ing  # noqa: E402
from hadoop__spark.session import get_spark  # noqa: E402

# every Spark-action-bearing phase of ingest_batch (its plane steps
# included) and _write_state_tables, by the name ingest.py binds it to
PHASES = [
    "decontaminate",
    "fingerprint_filter_new",
    "shingle_frame",
    "_minhash_signatures",
    "minhash_lsh_pairs_between_frames",
    "minhash_lsh_pairs_frames",
    "eligibility_filter",
    "dedup_corpus",
    "embedding_pairs_against_index",
    "semantic_dedup",
    "fingerprint_write",
    "minhash_write_signatures_frames",
    "corpus_stats_sketch",
    "overlap_sketch",
    "score_sketch",
    "ivf_append_index",
]


def docs_df(spark, batch_no: int, n: int):
    base = batch_no * 10_000
    return spark.createDataFrame(
        [
            (
                base + i,
                f"cadence batch {batch_no} document {i} with body token "
                f"{(base + i) * 7 % 9973} and filler {(base + i) % 131}",
                f"s{(base + i) % 7}",
            )
            for i in range(n)
        ],
        "doc_id LONG, text STRING, src STRING",
    )


def main() -> None:
    n_warm = int(sys.argv[1]) if len(sys.argv) > 1 else 3
    per_batch = int(sys.argv[2]) if len(sys.argv) > 2 else 25
    workdir = os.environ.get("PROFILE_DIR", "/tmp/ingest_profile")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = get_spark(
        "ingest-profile",
        cpus=cpus,
        extra_conf={"spark.ui.enabled": "true", "spark.ui.port": "4777"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    sc = spark.sparkContext
    state = f"{workdir}/state"
    shutil.rmtree(state, ignore_errors=True)

    stats: dict[str, float] = {}

    def wrap(name):
        orig = getattr(ing, name)

        @functools.wraps(orig)
        def timed(*a, **k):
            sc.setJobDescription(f"phase:{name}")
            t0 = time.perf_counter()
            try:
                return orig(*a, **k)
            finally:
                stats[name] = (
                    stats.get(name, 0.0) + time.perf_counter() - t0
                )
                sc.setJobDescription(None)

        setattr(ing, name, timed)

    full = os.environ.get("PROFILE_FULL") == "1"

    def embs_df(spark, batch_no: int, n: int, dim: int = 32):
        base = batch_no * 10_000
        return spark.createDataFrame(
            [
                (base + i,
                 [float((base + i + d * 7) % 13) for d in range(dim)])
                for i in range(n)
            ],
            "doc_id LONG, embedding ARRAY<DOUBLE>",
        )

    def scores_df(spark, batch_no: int, n: int):
        base = batch_no * 10_000
        return spark.createDataFrame(
            [(base + i, float((base + i) % 11)) for i in range(n)],
            "doc_id LONG, quality_score DOUBLE",
        )

    def run(k):
        extra = {}
        if full:
            # the full option surface (gate + embeddings), the
            # worst-case per-batch floor
            extra = dict(
                scores=scores_df(spark, k, per_batch), keep_frac=0.95,
                embeddings=embs_df(spark, k, per_batch),
            )
        return ing.ingest_batch(
            spark, state, docs_df(spark, k, per_batch), f"mb{k:05d}",
            group_cap=("src", 10**9), accounting_col="src", **extra,
        )

    # warm the state to steady-state (probe planes exist, appends run)
    for k in range(1, n_warm + 1):
        run(k)
    for name in PHASES:
        wrap(name)
    # finer attribution inside dedup_corpus (its jobs dominate): patch
    # the dedup module's own globals so the internal calls re-label
    for name in (
        "minhash_lsh_pairs", "dedup_clusters", "fingerprint_dedup",
    ):
        orig = getattr(dd, name)

        def timed(*a, __orig=orig, __name=name, **k):
            sc.setJobDescription(f"phase:{__name}")
            t0 = time.perf_counter()
            try:
                return __orig(*a, **k)
            finally:
                stats[__name] = (
                    stats.get(__name, 0.0) + time.perf_counter() - t0
                )
                sc.setJobDescription("phase:dedup_corpus")

        setattr(dd, name, timed)

    def rest_jobs():
        base = sc.uiWebUrl
        apps = json.load(
            urllib.request.urlopen(f"{base}/api/v1/applications")
        )
        app_id = apps[0]["id"]
        return json.load(
            urllib.request.urlopen(
                f"{base}/api/v1/applications/{app_id}/jobs?limit=10000"
            )
        )

    jobs_before = {j["jobId"] for j in rest_jobs()}
    sc.setJobDescription(None)
    t0 = time.perf_counter()
    run(n_warm + 1)
    total = time.perf_counter() - t0
    sc.setJobDescription(None)
    new_jobs = [j for j in rest_jobs() if j["jobId"] not in jobs_before]
    by_phase: dict[str, int] = {}
    job_ms: dict[str, float] = {}
    for j in new_jobs:
        d = j.get("description") or j.get("name") or "?"
        key = d if d.startswith("phase:") else f"name:{d.split(' at ')[0]}"
        by_phase[key] = by_phase.get(key, 0) + 1

    report = {
        "per_batch_docs": per_batch,
        "steady_batch_no": n_warm + 1,
        "total_sec": round(total, 3),
        "total_jobs": len(new_jobs),
        "phase_walls_sec": {k: round(v, 3) for k, v in sorted(
            stats.items(), key=lambda kv: -kv[1]
        )},
        "phase_jobs": dict(
            sorted(by_phase.items(), key=lambda kv: -kv[1])
        ),
        "unattributed_sec": round(total - sum(stats.values()), 3),
    }
    print(json.dumps(report, indent=2))
    _ = job_ms


if __name__ == "__main__":
    main()
