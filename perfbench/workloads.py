"""The two workloads.  Each drives the engine's public functions in a
closed loop (one client; the next operation starts when the previous
one returns) and returns its end-to-end figures, the issue-level detail
figures and, when traced, the per-layer figures.

``execution`` runs the probe suite, then the ingest stream, in one
session; ``lineage_warehouse`` runs the lineage analyzer.  Both report
the same end-to-end metric names (see README.md for what each means on
each workload):

* ``cold_s``      first execution of the workload's operations in the
                  fresh session (a detail figure, not gated)
* ``warm_s``      wall time of the steady part that follows
* ``items_per_s`` throughput of the workload's core operation, a figure
                  ``warm_s`` does not carry: documents per second through
                  the steady ``ingest_batch``, and the median statement's
                  rate
"""

from __future__ import annotations

import os
import random
import re
import statistics
import time
import traceback
from contextlib import nullcontext
from dataclasses import dataclass, field

from perfbench import checks, datagen
from perfbench.trace import MODULES, Tracer, by

#: The probe_suite probes.  Two of the pipeline probes ROADMAP item 1
#: names, the probes of the planes open items target (dd08: ngram pairs
#: plus clustering, ann03: the persisted IVF index), and the cheapest
#: HEADLINE probe of each engine module those two do not reach (h01:
#: queries, ts01: text, tj04: temporal).  README.md says why the other
#: probes are left out.
PROBES = [
    "h01_pricing_summary",
    "ts01_token_stats",
    "tj04_sessionize_batch",
    "dd08_dedup_clusters",
    "ann03_ivf_persisted",
]

#: A probe's engine module, by name prefix: its sink jobs are attributed
#: there.
PRIMARY = {"h": "queries", "dd": "dedup", "ann": "similarity", "ts": "text", "tj": "temporal"}

#: Catalog tables each workload registers at setup: the ones its
#: operations read, and lineitem for the warm-up query.
TABLES = {
    "execution": ["lineitem", "events", "documents", "embeddings"],
    "lineage_warehouse": ["region", "nation", "customer", "supplier", "part", "orders",
                          "lineitem"],
}

INGEST_BATCHES = 2  # one bootstrap + one steady
INGEST_BATCH_DOCS = 1000
#: state_summary polls after the steady batch, as a dashboard would
INGEST_POLLS = 2
#: ingest_batch options, as tools/ingest_profile.py runs it
INGEST_OPTIONS = dict(group_cap=("src", 10**9), accounting_col="src")
#: ingest_batch's phase functions (tools/ingest_profile.py's list) that
#: run under INGEST_OPTIONS.  Most return lazy frames the caller writes,
#: so their jobs land in ``ingest.other``.
INGEST_PHASES = [
    "fingerprint_filter_new",
    "shingle_frame",
    "_minhash_signatures",
    "minhash_lsh_pairs_between_frames",
    "minhash_lsh_pairs_frames",
    "eligibility_filter",
    "dedup_corpus",
    "fingerprint_write",
    "minhash_write_signatures_frames",
    "corpus_stats_sketch",
    "overlap_sketch",
]
INGEST_STORAGE = ["jobs_per_batch", "shuffle_bytes_per_batch", "write_amp", "state_files"]
#: Passes over the lineage script, each on a fresh analyzer.  The JVM
#: is still compiling the parser and the bridge during the first pass
#: (its CPU time per pass falls from ~20 s to ~5 s on 4 cores over the
#: first few); the passes after it are timed.
LINEAGE_WARMUP_PASSES = 1
LINEAGE_PASSES = 6
LINEAGE_LAYER = ["parse_ms", "convert_ms", "metastore_ms", "metastore_calls", "walk_ms",
                 "py4j_calls", "spark_jobs"]


def per_layer_names() -> list[str]:
    """Every per-layer metric, in BENCHMARK.json order."""
    names = []
    for p in PROBES:
        names += [f"{p}.plan_s", f"{p}.exec_s", f"{p}.jobs"]
    for m in ("queries",) + MODULES:
        names += [f"{m}.tasks", f"{m}.shuffle_bytes", f"{m}.spill_bytes"]
    for ph in INGEST_PHASES + ["other"]:
        names += [f"ingest.{ph.lstrip('_')}.s", f"ingest.{ph.lstrip('_')}.jobs"]
    names += [f"ingest.{s}" for s in INGEST_STORAGE]
    names += ["maintain.jobs", "maintain.bytes_rewritten", "summary.jobs"]
    names += [f"lineage.{s}" for s in LINEAGE_LAYER]
    names += ["traced.cold_s", "traced.warm_s", "trace.unattributed_share", "mem.peak_rss_mb"]
    return names


PER_LAYER_UNITS = {
    "plan_s": "s", "exec_s": "s", "s": "s", "cold_s": "s", "warm_s": "s",
    "parse_ms": "ms", "convert_ms": "ms", "metastore_ms": "ms", "walk_ms": "ms",
    "shuffle_bytes": "bytes", "spill_bytes": "bytes",
    "shuffle_bytes_per_batch": "bytes", "bytes_rewritten": "bytes",
    "write_amp": "ratio", "unattributed_share": "ratio", "peak_rss_mb": "MB",
}


def unit_of(name: str) -> str:
    return PER_LAYER_UNITS.get(name.rsplit(".", 1)[-1], "count")


@dataclass
class Ctx:
    spark: object
    seed: int
    run_dir: str
    catalog_dir: str
    fixtures: datagen.Fixtures
    tracer: Tracer | None
    attempted: int = 0
    failed: int = 0
    errors: list[str] = field(default_factory=list)
    detail: dict = field(default_factory=dict)
    layer: dict = field(default_factory=dict)

    def span(self, label: str):
        return self.tracer.span(label) if self.tracer else nullcontext()

    def untraced(self):
        """Context for the correctness checks: they re-run engine calls
        that must not count in the per-layer figures."""
        return self.tracer.paused() if self.tracer else nullcontext()

    def attempt(self, what: str, fn):
        """Run one timed operation; a raise counts as a failure and
        returns None."""
        self.attempted += 1
        try:
            return fn()
        except Exception:  # the run continues and reports the failure
            self.failed += 1
            self.errors.append(f"{what} raised:\n{traceback.format_exc()}")
            return None

    def fail(self, msgs: list[str]) -> None:
        if msgs:
            self.failed += 1
            self.errors.extend(msgs)


def _timed(fn) -> tuple[object, float]:
    t0 = time.perf_counter()
    out = fn()
    return out, time.perf_counter() - t0


def _p(values: list[float], q: int) -> float:
    """The q-th percentile; 0 when operations failed and left too few
    samples (the run then reports ``correct: false``)."""
    if len(values) < 2:
        return values[0] if values else 0.0
    return statistics.quantiles(values, n=100, method="inclusive")[q - 1]


def _median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


def _per(n: float, secs: float) -> float:
    return n / secs if secs > 0 else 0.0


# --------------------------------------------------------------------------
# probe_suite


def probe_suite(ctx: Ctx) -> dict:
    from hadoop__spark.queries import probe_map

    spark, probes = ctx.spark, probe_map()
    order = list(PROBES)
    random.Random(ctx.seed).shuffle(order)
    plan: dict[str, list[float]] = {p: [] for p in PROBES}
    exe: dict[str, list[float]] = {p: [] for p in PROBES}

    def run_pass(tag: str) -> float:
        total = 0.0
        for name in order:
            probe = probes[name]

            def once():
                with ctx.span(f"op:{name}.{tag}"), ctx.span(f"mod:{PRIMARY[re.match('[a-z]+', name).group()]}"):
                    df, plan_s = _timed(lambda: probe.run(spark, ctx.catalog_dir))
                    _, exec_s = _timed(lambda: df.write.format("noop").mode("overwrite").save())
                return plan_s, exec_s

            got = ctx.attempt(f"{name} ({tag})", once)
            if got is not None:
                plan[name].append(got[0])
                exe[name].append(got[1])
                total += got[0] + got[1]
        return total

    cold = run_pass("cold")
    warm = run_pass("warm")
    warm_by_probe = {p: plan[p][1] + exe[p][1] for p in PROBES if len(plan[p]) > 1}

    # one probe's output is checked per run, rotating with the seed, so
    # any five consecutive seeds check every probe: a check re-executes
    # its probe, and checking all of them would add a third pass
    checked = PROBES[ctx.seed % len(PROBES)]
    probe = probes[checked]
    with ctx.untraced():
        got = ctx.attempt(f"{checked} (check)", lambda: probe.run(spark, ctx.catalog_dir).toPandas())
    if got is not None and checked == "ann03_ivf_persisted":
        ctx.fail(checks.ann_topk(checked, got, ctx.fixtures))
    elif got is not None:
        ctx.fail(checks.oracle_parity(checked, got, _duck(ctx.catalog_dir).execute(probe.oracle).fetchdf()))

    ctx.detail.update(
        probes=len(PROBES), checked=checked, cold_pass_s=cold, warm_pass_s=warm,
        cold_by_probe={p: plan[p][0] + exe[p][0] for p in PROBES if plan[p]},
        warm_by_probe=warm_by_probe,
    )
    if ctx.tracer:
        jobs = by(ctx.tracer.jobs(), lambda j: j.op)
        for p in PROBES:
            ctx.layer[f"{p}.plan_s"] = plan[p][0] if plan[p] else 0.0
            ctx.layer[f"{p}.exec_s"] = exe[p][1] if len(exe[p]) > 1 else 0.0
            ctx.layer[f"{p}.jobs"] = jobs[f"{p}.cold"].jobs
    return dict(cold_s=cold, warm_s=warm, measured_s=cold + warm)


def _duck(catalog_dir: str):
    import duckdb

    con = duckdb.connect()
    for name in datagen.SIZES:
        path = os.path.join(catalog_dir, f"{name}.parquet")
        if os.path.exists(path):
            con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
    return con


# --------------------------------------------------------------------------
# ingest_stream


def _tree(path: str) -> dict[str, tuple[int, int]]:
    out = {}
    for root, _, files in os.walk(path):
        for f in files:
            p = os.path.join(root, f)
            st = os.stat(p)
            out[p] = (st.st_size, st.st_mtime_ns)
    return out


def ingest_stream(ctx: Ctx) -> dict:
    import hadoop__spark.operators.ingest as ing

    spark, tr = ctx.spark, ctx.tracer
    state = os.path.join(ctx.run_dir, "ingest_state")
    if tr:
        for name in INGEST_PHASES:
            mod = getattr(ing, name).__module__.rsplit(".", 1)[-1]
            tr.patch(ing, name, f"phase:{name.lstrip('_')}", mod=mod if mod in MODULES else None)
    stream = datagen.ingest_stream(ctx.seed, INGEST_BATCHES, INGEST_BATCH_DOCS)
    batch_s, summary_s, offered, added_bytes, input_bytes = [], [], 0, 0, 0
    phase_s: dict[str, float] = {}
    bootstrap = 0.0
    kept_total = 0
    for i, batch in enumerate(stream):
        steady = i > 0
        df = spark.createDataFrame(batch.rows, "doc_id LONG, text STRING, src STRING")
        before = _tree(state) if steady else {}
        totals = dict(tr.total_s) if tr else {}
        op = "batch" if steady else "bootstrap"

        def call():
            with ctx.span(f"op:{op}"):
                return _timed(lambda: ing.ingest_batch(spark, state, df, batch.name, **INGEST_OPTIONS))

        got = ctx.attempt(f"ingest_batch {batch.name}", call)
        if got is None:
            continue
        out, secs = got
        if steady:
            batch_s.append(secs)
            offered += len(batch.rows)
            after = _tree(state)
            added_bytes += sum(s for s, _ in after.values()) - sum(s for s, _ in before.values())
            input_bytes += sum(8 + len(t.encode()) + len(s.encode()) for _, t, s in batch.rows)
            if tr:
                for name in INGEST_PHASES:
                    key = f"phase:{name.lstrip('_')}"
                    phase_s[key] = phase_s.get(key, 0.0) + tr.total_s[key] - totals.get(key, 0.0)
        else:
            bootstrap = secs
        with ctx.untraced():
            kept = {r[0] for r in out.select("doc_id").collect()}
        kept_total += len(kept)
        ctx.fail(checks.survivors(batch.name, kept, batch.survivors))

        def poll():
            with ctx.span("op:summary"):
                return _timed(lambda: ing.state_summary(spark, state))

        for _ in range(INGEST_POLLS if steady else 1):
            got = ctx.attempt(f"state_summary after {batch.name}", poll)
            if got is not None and steady:
                summary_s.append(got[1])

    files_before = _tree(state)

    def maintain():
        with ctx.span("op:maintain"):
            return _timed(lambda: ing.maintain_state(spark, state))

    got = ctx.attempt("maintain_state", maintain)
    maintain_s = got[1] if got else 0.0
    files_after = _tree(state)
    with ctx.untraced():
        summary = ctx.attempt("state_summary after maintain_state",
                              lambda: ing.state_summary(spark, state))
    rows = sum(b["rows"] for b in summary["batches"]) if summary else None
    if rows != kept_total:
        ctx.fail([f"after maintain_state the snapshots hold {rows} rows, not {kept_total}"])

    steady_s = sum(batch_s) + sum(summary_s) + maintain_s
    ctx.detail.update(
        batch_docs=INGEST_BATCH_DOCS, steady_batches=len(batch_s), bootstrap_s=bootstrap,
        batch_p50_s=_median(batch_s), batch_s=batch_s,
        ingest_docs_per_s=_per(offered, sum(batch_s)), summary_p50_s=_median(summary_s),
        maintain_s=maintain_s, survivors=kept_total,
    )
    if tr:
        jobs = tr.jobs()
        n = max(len(batch_s), 1)
        batch_jobs = by([j for j in jobs if j.op == "batch"], lambda j: j.phase or "other")
        for name in INGEST_PHASES:
            key = name.lstrip("_")
            ctx.layer[f"ingest.{key}.s"] = phase_s.get(f"phase:{key}", 0.0) / n
            ctx.layer[f"ingest.{key}.jobs"] = batch_jobs[key].jobs / n
        ctx.layer["ingest.other.s"] = (sum(batch_s) - sum(phase_s.values())) / n
        ctx.layer["ingest.other.jobs"] = batch_jobs["other"].jobs / n
        ops = by(jobs, lambda j: j.op)
        ctx.layer["ingest.jobs_per_batch"] = ops["batch"].jobs / n
        ctx.layer["ingest.shuffle_bytes_per_batch"] = ops["batch"].shuffle_bytes / n
        ctx.layer["ingest.write_amp"] = _per(added_bytes, input_bytes)
        ctx.layer["ingest.state_files"] = len(files_before)
        ctx.layer["maintain.jobs"] = ops["maintain"].jobs
        ctx.layer["maintain.bytes_rewritten"] = sum(
            size for p, (size, mtime) in files_after.items() if files_before.get(p, (0, 0))[1] != mtime
        )
        ctx.layer["summary.jobs"] = ops["summary"].jobs / (1 + INGEST_POLLS * n)
    return dict(
        cold_s=bootstrap,
        warm_s=steady_s,
        items_per_s=_per(offered, sum(batch_s)),
        measured_s=bootstrap + steady_s,
    )


# --------------------------------------------------------------------------
# lineage_warehouse


def lineage_warehouse(ctx: Ctx) -> dict:
    from hadoop__spark.plans import jbridge, lineage
    from hadoop__spark.plans import probes as lineage_probes

    spark, tr = ctx.spark, ctx.tracer
    if tr:
        tr.patch(lineage, "parse_statement", "lin:parse")
        tr.patch(jbridge, "convert_plan", "lin:convert", reentrant=False)
        tr.patch(lineage.SparkCatalogMetastore, "columns", "lin:metastore")
        tr.patch(lineage.LineageAnalyzer, "analyze", "lin:analyze", library=False)
        tr.count_py4j(spark)

    # cold: the ln01 probe scripts, the session's first analyses
    scripts = (
        ("base", lineage_probes._SCRIPT, True, False),
        ("extended", lineage_probes._SCRIPT_EXTENDED, False, False),
        ("tags", lineage_probes._SCRIPT_TAGS, True, True),
    )
    edge_rows, cold = [], 0.0
    for tag, script, validate, ext in scripts:
        analyzer = lineage.LineageAnalyzer(spark, extended_tags=ext)
        got = ctx.attempt(f"ln01 {tag}", lambda: _timed(lambda: analyzer.analyze(script, validate=validate)))
        if got is not None:
            edge_rows += checks.edge_rows(tag, got[0])
            cold += got[1]
    ctx.fail(checks.ln01_edges(edge_rows, lineage_probes._EDGE_ROWS))

    stmts = datagen.lineage_script(ctx.seed)
    if lineage.split_statements(datagen.script_text(stmts)) != [s.sql for s in stmts]:
        ctx.fail(["split_statements does not return the script's statements"])
    before = (dict(tr.self_s), dict(tr.calls)) if tr else None
    # lat[i]: statement i's latency in each timed pass that analyzed it
    lat: list[list[float]] = [[] for _ in stmts]
    pass_s = []
    with ctx.span("op:lineage"):
        for k in range(LINEAGE_PASSES):
            analyzer = lineage.LineageAnalyzer(spark)
            results, total = [], 0.0
            for i, stmt in enumerate(stmts):
                with tr.counting() if tr else nullcontext():
                    got = ctx.attempt(f"statement {i}", lambda: _timed(lambda: analyzer.analyze(stmt.sql)))
                results.append(got[0] if got else None)
                if got:
                    total += got[1]
                    if k >= LINEAGE_WARMUP_PASSES:
                        lat[i].append(got[1])
            pass_s.append(total)
            for i, (stmt, res) in enumerate(zip(stmts, results)):
                if res is not None:
                    ctx.fail(checks.lineage(i, stmt, res))

    # warm: each statement's fastest timed pass.  A pass that lost the
    # CPU to another process on the shared host is dropped statement by
    # statement
    best = [min(ls) for ls in lat if ls]
    wall = sum(best)
    ctx.detail.update(
        statements=len(stmts), passes=LINEAGE_PASSES, pass_s=pass_s,
        stmts_per_s=_per(len(best), wall),
        stmt_p50_ms=_median(best) * 1000, stmt_p95_ms=_p(best, 95) * 1000,
        ln01_scripts_s=cold,
    )
    if tr:
        n = len(stmts) * LINEAGE_PASSES
        self_s = {k: v - before[0].get(k, 0.0) for k, v in tr.self_s.items()}
        calls = {k: v - before[1].get(k, 0) for k, v in tr.calls.items()}
        ctx.layer["lineage.parse_ms"] = self_s.get("lin:parse", 0.0) / n * 1000
        ctx.layer["lineage.convert_ms"] = self_s.get("lin:convert", 0.0) / n * 1000
        ctx.layer["lineage.metastore_ms"] = self_s.get("lin:metastore", 0.0) / n * 1000
        ctx.layer["lineage.metastore_calls"] = calls.get("lin:metastore", 0) / n
        ctx.layer["lineage.walk_ms"] = self_s.get("lin:analyze", 0.0) / n * 1000
        ctx.layer["lineage.py4j_calls"] = tr.py4j_calls / n
        ops = by(tr.jobs(), lambda j: j.op)
        ctx.layer["lineage.spark_jobs"] = ops["lineage"].jobs / n
    # the rate of the typical statement: warm_s is dominated by the few
    # statements that run catalog lookups, the median by parse, convert
    # and walk
    return dict(cold_s=cold, warm_s=wall, items_per_s=_per(1, _median(best)),
                measured_s=cold + sum(pass_s))


# --------------------------------------------------------------------------
# execution


def execution(ctx: Ctx) -> dict:
    """The execution plane: the probe suite, then the ingest stream, in
    one session.  One session pays the JVM's start and compilation once
    for both, which leaves the run budget room for the lineage passes."""
    probes = probe_suite(ctx)
    ingest = ingest_stream(ctx)
    return dict(
        cold_s=probes["cold_s"] + ingest["cold_s"],
        warm_s=probes["warm_s"] + ingest["warm_s"],
        items_per_s=ingest["items_per_s"],
        measured_s=probes["measured_s"] + ingest["measured_s"],
    )


WORKLOADS = {
    "execution": execution,
    "lineage_warehouse": lineage_warehouse,
}
