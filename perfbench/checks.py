"""Correctness checks, run outside the timed regions.

Each checker returns a list of failure messages; an empty list means the
output is correct.  Checkers take plain Python values (pandas frames,
sets, lineage results), so the self-tests can feed them planted wrong
answers without a Spark session.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd

from perfbench.datagen import Fixtures, Stmt

# -- probe_suite ---------------------------------------------------------


def canon(df: pd.DataFrame) -> list[tuple]:
    """Sorted, column-order-free rows with floats compared bitwise —
    the canonical form the oracle-parity tests compare."""
    df = df.reindex(sorted(df.columns), axis=1)
    rows = []
    for tup in df.itertuples(index=False, name=None):
        row = []
        for v in tup:
            if v is None or (isinstance(v, float) and math.isnan(v)):
                row.append("<null>")
            elif isinstance(v, float):
                row.append(repr(v))
            else:
                row.append(str(v))
        rows.append(tuple(row))
    return sorted(rows)


def oracle_parity(name: str, got: pd.DataFrame, want: pd.DataFrame) -> list[str]:
    if sorted(got.columns) != sorted(want.columns):
        return [f"{name}: columns {sorted(got.columns)} vs oracle {sorted(want.columns)}"]
    if len(got) != len(want):
        return [f"{name}: {len(got)} rows vs oracle {len(want)}"]
    bad = [(a, b) for a, b in zip(canon(got), canon(want)) if a != b]
    return [f"{name}: {len(bad)} rows differ from the oracle; first {bad[0]}"] if bad else []


def ann_topk(name: str, got: pd.DataFrame, fx: Fixtures, k: int = 10) -> list[str]:
    """The ann03 oracle is pinned to the driver's fixture; IVF is
    approximate, so on generated data the checks are the properties a
    correct answer has regardless of bucketing: each reported cosine is
    the true cosine, ranks are 1..n by descending cosine, at most k
    neighbours per query, never the query itself, and the planted near
    copy of each query ranks first."""
    errs = []
    vecs = fx.embeddings.astype(np.float64)
    norms = np.linalg.norm(vecs, axis=1)
    if set(got["query_id"].astype(int)) != set(fx.twins):
        return [f"{name}: queries {sorted(set(got['query_id']))} vs {sorted(fx.twins)}"]
    for q, rows in got.groupby("query_id"):
        rows = rows.sort_values("rank")
        ids = rows["neighbor_id"].astype(int).to_numpy()
        cos = rows["cosine"].to_numpy(dtype=np.float64)
        want = vecs[ids] @ vecs[int(q)] / (norms[ids] * norms[int(q)])
        if len(rows) > k or list(rows["rank"].astype(int)) != list(range(1, len(rows) + 1)):
            errs.append(f"{name}: query {q} ranks {list(rows['rank'])}")
        elif int(q) in ids:
            errs.append(f"{name}: query {q} returned itself")
        elif not np.allclose(cos, want, rtol=0, atol=1e-6):
            errs.append(f"{name}: query {q} cosines differ from recomputed values")
        elif np.any(np.diff(cos) > 1e-12):
            errs.append(f"{name}: query {q} not ordered by cosine")
        elif ids[0] != fx.twins[int(q)]:
            errs.append(f"{name}: query {q} ranks {ids[0]} first, not its near copy {fx.twins[int(q)]}")
    return errs


# -- ingest_stream -------------------------------------------------------


def survivors(batch: str, got: set[int], want: set[int]) -> list[str]:
    if got == want:
        return []
    missing, extra = sorted(want - got), sorted(got - want)
    return [f"{batch}: {len(missing)} planted survivors dropped (e.g. {missing[:3]}), "
            f"{len(extra)} duplicates kept (e.g. {extra[:3]})"]


# -- lineage_warehouse ---------------------------------------------------


def lineage(i: int, stmt: Stmt, res) -> list[str]:
    """One statement's ``LineageResult`` against the generator's answer:
    input and output tables, each edge's source set, and the set of
    condition tag prefixes."""
    got_edges: dict[tuple[str, str], set[str]] = {}
    prefixes: set[str] = set()
    for line in res.col_lines:
        got_edges.setdefault((line.to_table, line.to_name_parse), set()).update(line.from_names)
        prefixes.update(c.split(":", 1)[0] for c in line.conditions)
    where = f"statement {i} ({stmt.template})"
    if set(res.input_tables) != stmt.inputs:
        return [f"{where}: inputs {sorted(res.input_tables)} vs {sorted(stmt.inputs)}"]
    if set(res.output_tables) != stmt.outputs:
        return [f"{where}: outputs {sorted(res.output_tables)} vs {sorted(stmt.outputs)}"]
    if got_edges != stmt.edges:
        return [f"{where}: edges {got_edges} vs {stmt.edges}"]
    if prefixes != stmt.prefixes:
        return [f"{where}: condition tags {sorted(prefixes)} vs {sorted(stmt.prefixes)}"]
    return []


def edge_rows(tag: str, res) -> list[tuple[str, str, str, str, str]]:
    """A probe script's edges in the ln01 probe's row form."""
    return [
        (tag, line.to_table, line.to_name_parse, ",".join(sorted(line.from_names)),
         ";".join(sorted(line.conditions)))
        for line in res.col_lines
    ]


def ln01_edges(got: list[tuple], want: list[tuple]) -> list[str]:
    if sorted(got) == sorted(want):
        return []
    diff = sorted(set(got) ^ set(want))
    return [f"ln01 scripts: {len(diff)} edge rows differ from _EDGE_ROWS; first {diff[0]}"]
