"""Self-tests of the benchmark: generators are seed-deterministic and the
checkers catch planted wrong answers.  No Spark session is started.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os

import numpy as np
import pandas as pd
import pytest

from perfbench import checks, datagen, workloads
from perfbench.run import END_TO_END

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _ctx() -> workloads.Ctx:
    ctx = workloads.Ctx(None, 1, "", "", datagen.Fixtures(), None)
    ctx.attempted = 1
    return ctx


# -- generators --------------------------------------------------------------


def test_catalog_is_deterministic_per_seed():
    a, fa = datagen.catalog_tables(3)
    b, fb = datagen.catalog_tables(3)
    c, _ = datagen.catalog_tables(4)
    assert all(a[t].equals(b[t]) for t in a)
    assert fa.twins == fb.twins
    assert not a["documents"].equals(c["documents"])
    assert not a["lineitem"].equals(c["lineitem"])


def test_catalog_plants_duplicates_and_twins():
    tables, fx = datagen.catalog_tables(7)
    texts = tables["documents"].column("text").to_pylist()
    assert len({t.lower().rstrip(".") for t in texts}) < len(texts)
    vecs = fx.embeddings
    for q, twin in fx.twins.items():
        cos = vecs[twin] @ vecs[q] / (np.linalg.norm(vecs[twin]) * np.linalg.norm(vecs[q]))
        assert cos > 0.99


def test_ingest_stream_is_deterministic_per_seed():
    a = datagen.ingest_stream(5, 3, 200)
    b = datagen.ingest_stream(5, 3, 200)
    c = datagen.ingest_stream(6, 3, 200)
    assert [(x.rows, x.survivors) for x in a] == [(x.rows, x.survivors) for x in b]
    assert a[0].rows != c[0].rows


def test_ingest_stream_plants_each_duplicate_kind():
    stream = datagen.ingest_stream(5, 3, 300)
    seen: set[str] = set()
    for batch in stream:
        ids = [r[0] for r in batch.rows]
        assert ids == sorted(ids) and len(batch.rows) == 300
        dropped = [r for r in batch.rows if r[0] not in batch.survivors]
        assert dropped, batch.name
        kept_texts = [r[1] for r in batch.rows if r[0] in batch.survivors]
        assert len(set(kept_texts)) == len(kept_texts)
        assert not seen & set(kept_texts)
        seen |= set(kept_texts)
        if batch.name != "b0000":
            assert any(r[1] in seen - set(kept_texts) for r in dropped)


def test_lineage_script_is_deterministic_per_seed():
    a = datagen.lineage_script(9)
    b = datagen.lineage_script(9)
    c = datagen.lineage_script(10)
    assert [s.sql for s in a] == [s.sql for s in b]
    assert [s.sql for s in a] != [s.sql for s in c]
    assert len(a) == sum(datagen.MIX.values())
    assert {s.template for s in a} == set(datagen.MIX)


def test_lineage_script_deals_each_join_edge_once():
    edges = sorted(sorted({f"default.{la}", f"default.{ra}"}) for la, _, ra, _ in datagen.JOINS)
    for seed in (1, 2):
        got = [sorted(s.inputs) for s in datagen.lineage_script(seed) if s.template == "unqualified_join"]
        assert sorted(got) == edges


# -- checkers ----------------------------------------------------------------


def test_dropped_survivor_is_an_error():
    batch = datagen.ingest_stream(2, 2, 100)[1]
    ctx = _ctx()
    ctx.fail(checks.survivors(batch.name, set(batch.survivors), batch.survivors))
    assert ctx.failed == 0
    ctx.fail(checks.survivors(batch.name, set(batch.survivors) - {min(batch.survivors)}, batch.survivors))
    assert ctx.failed == 1


def _result(stmt: datagen.Stmt, edges=None):
    from hadoop__spark.plans.lineage import ColLine, LineageResult

    res = LineageResult(set(stmt.inputs), set(stmt.outputs))
    tags = frozenset(f"{p}:x" for p in stmt.prefixes)
    for (table, name), srcs in (edges or stmt.edges).items():
        res.col_lines.append(ColLine(table, None, name, tuple(sorted(srcs)), tags))
    return res


def test_swapped_lineage_source_is_an_error():
    stmt = next(s for s in datagen.lineage_script(4) if s.template == "outer_join")
    ctx = _ctx()
    ctx.fail(checks.lineage(0, stmt, _result(stmt)))
    assert ctx.failed == 0
    (k1, s1), (k2, s2) = stmt.edges.items()
    ctx.fail(checks.lineage(0, stmt, _result(stmt, {k1: s2, k2: s1})))
    assert ctx.failed == 1


def test_missing_condition_tag_is_an_error():
    stmt = next(s for s in datagen.lineage_script(4) if s.template == "insert_partition")
    res = _result(stmt)
    res.col_lines = [line.__class__(line.to_table, line.to_name, line.to_name_parse,
                                    line.from_names, frozenset()) for line in res.col_lines]
    assert checks.lineage(0, stmt, res)


def test_ln01_edge_mismatch_is_an_error():
    rows = [("base", "TOK_TMP_FILE", "c", "default.t.c", "")]
    assert not checks.ln01_edges(rows, list(rows))
    assert checks.ln01_edges(rows, [("base", "TOK_TMP_FILE", "c", "default.t.d", "")])


def test_perturbed_probe_row_is_an_error():
    want = pd.DataFrame({"id": [1, 2, 3], "v": [0.5, 1.25, 2.0]})
    got = want.sample(frac=1.0, random_state=0)[["v", "id"]]
    ctx = _ctx()
    ctx.fail(checks.oracle_parity("p", got, want))
    assert ctx.failed == 0
    bad = want.copy()
    bad.loc[1, "v"] = 1.2500000000000002
    ctx.fail(checks.oracle_parity("p", bad, want))
    assert ctx.failed == 1
    assert checks.oracle_parity("p", want.iloc[:2], want)


def _topk(fx: datagen.Fixtures, k: int = 10) -> pd.DataFrame:
    vecs = fx.embeddings.astype(np.float64)
    norms = np.linalg.norm(vecs, axis=1)
    rows = []
    for q in fx.twins:
        cos = vecs @ vecs[q] / (norms * norms[q])
        cos[q] = -np.inf
        for rank, j in enumerate(np.argsort(-cos, kind="stable")[:k], start=1):
            rows.append((q, int(j), float(cos[j]), rank))
    return pd.DataFrame(rows, columns=["query_id", "neighbor_id", "cosine", "rank"])


def test_ann_check_catches_wrong_neighbours():
    _, fx = datagen.catalog_tables(2)
    good = _topk(fx)
    assert not checks.ann_topk("ann03", good, fx)
    wrong_cos = good.copy()
    wrong_cos.loc[3, "cosine"] += 1e-3
    assert checks.ann_topk("ann03", wrong_cos, fx)
    no_twin = good[good["rank"] > 1].copy()
    no_twin["rank"] -= 1
    assert checks.ann_topk("ann03", no_twin, fx)


def test_raising_operation_is_a_failure_not_a_crash(monkeypatch, tmp_path):
    import hadoop__spark.operators.ingest as ing

    def planted(*args, **kwargs):
        raise RuntimeError("planted")

    class Spark:
        def createDataFrame(self, rows, schema):
            return rows

    monkeypatch.setattr(ing, "ingest_batch", planted)
    monkeypatch.setattr(ing, "state_summary", lambda spark, state: {"batches": []})
    monkeypatch.setattr(ing, "maintain_state", lambda spark, state: None)
    monkeypatch.setattr(workloads, "INGEST_BATCH_DOCS", 50)
    ctx = workloads.Ctx(Spark(), 1, str(tmp_path), "", datagen.Fixtures(), None)
    e2e = workloads.ingest_stream(ctx)
    assert ctx.failed == workloads.INGEST_BATCHES
    assert all(np.isfinite(v) for v in e2e.values())
    assert np.isfinite(ctx.detail["batch_p50_s"])


# -- BENCHMARK.json ----------------------------------------------------------


@pytest.fixture(scope="module")
def bench():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_benchmark_json_matches_the_code(bench):
    assert [w["name"] for w in bench["workloads"]] == list(workloads.WORKLOADS)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == END_TO_END
    assert [m["name"] for m in bench["per_layer"]] == workloads.per_layer_names()
    assert all(m["unit"] == workloads.unit_of(m["name"]) for m in bench["per_layer"])
