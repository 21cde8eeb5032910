"""Seeded inputs for the workloads: the fixture catalog, the ingest
stream and the lineage script.

Every generator is a pure function of its seed: the same seed gives the
same rows, texts and statements, a different seed different ones.  The
engine only ever sees the generated inputs; each generator also returns
what a correct engine must answer, so the checkers need no second
engine for the planted parts.
"""

from __future__ import annotations

import os
import random
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# --------------------------------------------------------------------------
# Fixture catalog (TPC-H-ish tables plus documents / embeddings / events)

#: Row counts of the generated catalog.  The SQL probes (lineitem, events)
#: are bound by fixed per-job costs at any of these sizes, so those
#: tables stay small.  documents and embeddings feed the per-row kernels
#: (dd08's ngram pairs, ts01's tokenizer, ann03's IVF scoring) and are
#: sized so that per-row work is a visible share of those probes' warm
#: executions (README.md gives the measurement).
SIZES = {
    "region": 5,
    "nation": 25,
    "customer": 150,
    "supplier": 10,
    "part": 200,
    "orders": 1500,
    "lineitem": 6000,
    "events": 1000,
    "documents": 3000,
    "embeddings": 2000,
}

#: Document vocabulary: content words plus the stopwords the quality and
#: language scorers look for.
DOC_WORDS = (
    "a the and of is key agg row scan slow fast table value part hash merge "
    "batch spark order data column join small line customer query big "
    "stream window sort group filter vector lake shard index plan cache "
    "node task stage shuffle spill"
).split()

EMBED_DIM = 64
#: Each query vector of the ANN probes (``vec_id < 5``) gets a near copy
#: at ``TWIN_BASE + vec_id``; a correct top-k ranks it first.
TWIN_BASE = 250


@dataclass
class Fixtures:
    """What the catalog generator planted."""

    #: query vec_id -> its planted near copy
    twins: dict[int, int] = field(default_factory=dict)
    embeddings: np.ndarray | None = None


def _ts(rng: np.random.Generator, n: int, start: str, days: int) -> pa.Array:
    base = np.datetime64(start, "us").astype(np.int64)
    off = rng.integers(0, days * 86_400_000_000, n)
    return pa.array(base + off, pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _doc_text(rng: random.Random, n_tokens: int) -> str:
    return " ".join(rng.choice(DOC_WORDS) for _ in range(n_tokens))


def _replace_one_token(rng: random.Random, text: str) -> str:
    tokens = text.split()
    i = rng.randrange(2, len(tokens) - 2)
    tokens[i] = rng.choice([w for w in DOC_WORDS if w != tokens[i]])
    return " ".join(tokens)


def _documents(seed: int, n: int) -> pa.Table:
    """Documents with planted copies.  Copies are made of original
    documents only, never of copies, so every duplicate cluster is a star
    around its original: clustering converges in the same number of
    rounds for every seed."""
    rng = random.Random(seed * 7919 + 1)
    texts: list[str] = []
    originals: list[int] = []
    long_docs: list[int] = []  # originals with at least 50 tokens
    for i in range(n):
        kind = rng.random()
        if i >= 50 and kind < 0.05:
            origin = rng.choice(originals)
            # exact after normalization: case and punctuation may differ
            copy = texts[origin]
            if rng.random() < 0.5:
                copy = copy.capitalize() + "."
            texts.append(copy)
        elif i >= 50 and kind < 0.10 and long_docs:
            origin = rng.choice(long_docs)
            texts.append(_replace_one_token(rng, texts[origin]))
        else:
            n_tokens = rng.randint(10, 90)
            texts.append(_doc_text(rng, n_tokens))
            originals.append(i)
            if n_tokens >= 50:
                long_docs.append(i)
    langs = [rng.choice(("en", "en", "en", "de", "fr")) for _ in range(n)]
    return pa.table(
        {
            "doc_id": pa.array(range(n), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(langs, pa.string()),
            "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def _embeddings(seed: int, n: int, fx: Fixtures) -> pa.Table:
    rng = np.random.default_rng(seed * 31 + 5)
    vecs = rng.normal(0.0, 0.12, (n, EMBED_DIM)).astype(np.float32)
    for q in range(5):
        twin = TWIN_BASE + q
        noise = rng.normal(0.0, 0.002, EMBED_DIM).astype(np.float32)
        vecs[twin] = vecs[q] + noise
        fx.twins[q] = twin
    fx.embeddings = vecs
    return pa.table(
        {
            "vec_id": pa.array(range(n), pa.int64()),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 8, n), pa.int32()),
        }
    )


def catalog_tables(seed: int) -> tuple[dict[str, pa.Table], Fixtures]:
    """The fixture catalog for ``seed``, as Arrow tables."""
    rng = np.random.default_rng(seed)
    n = SIZES
    fx = Fixtures()
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table(
        {
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    nc = n["customer"]
    t["customer"] = pa.table(
        {
            "c_custkey": pa.array(range(nc), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(nc)],
            "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
            "c_acctbal": _money(rng, -999.99, 9999.99, nc),
            "c_mktsegment": rng.choice(
                ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"],
                nc,
            ),
        }
    )
    ns = n["supplier"]
    t["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(range(ns), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
            "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
            "s_acctbal": _money(rng, -999.99, 9999.99, ns),
        }
    )
    npart = n["part"]
    colors = ["red", "blue", "green", "black", "white", "small", "large", "steel"]
    things = ["widget", "bolt", "plate", "ring", "gear", "pipe", "valve", "nut"]
    t["part"] = pa.table(
        {
            "p_partkey": pa.array(range(npart), pa.int64()),
            "p_name": [f"{rng.choice(colors)} {rng.choice(things)}" for _ in range(npart)],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, npart)],
            "p_type": rng.choice(
                ["ECONOMY", "STANDARD", "SMALL", "MEDIUM", "LARGE", "PROMO"], npart
            ),
            "p_size": pa.array(rng.integers(1, 51, npart), pa.int32()),
            "p_retailprice": np.round(900.0 + np.arange(npart) * 0.1, 2),
        }
    )
    no = n["orders"]
    t["orders"] = pa.table(
        {
            "o_orderkey": pa.array(range(no), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
            "o_orderstatus": rng.choice(["F", "O", "P"], no),
            "o_totalprice": _money(rng, 1000.0, 500000.0, no),
            "o_orderdate": _ts(rng, no, "1995-01-01", 2400),
            "o_orderpriority": rng.choice(
                ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], no
            ),
        }
    )
    nl = n["lineitem"]
    qty = rng.integers(1, 51, nl).astype(np.float64)
    t["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, no, nl), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, npart, nl), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, ns, nl), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, nl), 2),
            "l_discount": np.round(rng.integers(0, 11, nl) / 100.0, 2),
            "l_tax": np.round(rng.integers(0, 9, nl) / 100.0, 2),
            "l_returnflag": rng.choice(["A", "N", "R"], nl),
            "l_linestatus": rng.choice(["F", "O"], nl),
            "l_shipdate": _ts(rng, nl, "1995-01-02", 2500),
        }
    )
    ne = n["events"]
    t["events"] = pa.table(
        {
            "event_id": pa.array(range(ne), pa.int64()),
            "ts": _ts(rng, ne, "2024-01-01", 30),
            "user_id": pa.array(rng.integers(0, 150, ne), pa.int64()),
            "event_type": rng.choice(["view", "click", "purchase", "signup", "error"], ne),
            "value": _money(rng, 0.01, 490.0, ne),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
        }
    )
    t["documents"] = _documents(seed, n["documents"])
    t["embeddings"] = _embeddings(seed, n["embeddings"], fx)
    return t, fx


def write_catalog(out_dir: str, seed: int, names) -> Fixtures:
    """Write the tables ``names`` of the catalog for ``seed``, one
    parquet file each."""
    os.makedirs(out_dir, exist_ok=True)
    tables, fx = catalog_tables(seed)
    for name in names:
        pq.write_table(tables[name], os.path.join(out_dir, f"{name}.parquet"))
    return fx


# --------------------------------------------------------------------------
# ingest_stream: a document stream with planted duplicates


@dataclass
class Batch:
    name: str
    #: (doc_id, text, src) rows in offer order
    rows: list[tuple[int, str, str]]
    #: doc_ids a correct ingest keeps from this batch
    survivors: set[int]


def ingest_stream(seed: int, n_batches: int, batch_docs: int) -> list[Batch]:
    """One bootstrap batch and ``n_batches - 1`` steady batches.

    Steady batches mix novel documents with exact copies and one-token
    near-duplicates (~60 tokens, Jaccard ~0.9 over 3-gram shingles, far
    above the 0.8 threshold) of documents admitted earlier, plus exact
    and near copies of novel documents of the same batch.  Every copy
    carries a larger doc_id than its origin, so first arrival, the
    engine's keeper rule, keeps exactly the novel documents.  Novel
    documents draw from a large vocabulary, so no two of them share
    enough shingles to pair by chance.
    """
    rng = random.Random(seed * 104729 + 3)
    vocab = sorted(
        {
            "".join(rng.choice("abcdefghijklmnopqrstuvwxyz") for _ in range(rng.randint(4, 9)))
            for _ in range(6000)
        }
    )
    admitted: list[str] = []
    next_id = 1_000
    out: list[Batch] = []
    for b in range(n_batches):
        rows: list[tuple[int, str, str]] = []
        survivors: set[int] = set()
        novel_here: list[str] = []

        def add(text: str, novel: bool) -> None:
            nonlocal next_id
            rows.append((next_id, text, f"s{next_id % 7}"))
            if novel:
                survivors.add(next_id)
            next_id += 1

        while len(rows) < batch_docs:
            r = rng.random()
            if b > 0 and r < 0.10:
                add(rng.choice(admitted), False)
            elif b > 0 and r < 0.20:
                add(_replace_one_token(rng, rng.choice(admitted)), False)
            elif novel_here and r < 0.25:
                add(rng.choice(novel_here), False)
            elif novel_here and r < 0.30:
                add(_replace_one_token(rng, rng.choice(novel_here)), False)
            else:
                text = " ".join(rng.choice(vocab) for _ in range(rng.randint(55, 65)))
                novel_here.append(text)
                add(text, True)
        admitted.extend(novel_here)
        out.append(Batch(f"b{b:04d}", rows, survivors))
    return out


# --------------------------------------------------------------------------
# lineage_warehouse: a multi-statement HiveQL script


#: Fixture catalog columns the templates draw from (all in ``default``).
COLUMNS = {
    "customer": ["c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"],
    "orders": ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
               "o_orderdate", "o_orderpriority"],
    "lineitem": ["l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
                 "l_quantity", "l_extendedprice", "l_discount", "l_tax",
                 "l_returnflag", "l_linestatus", "l_shipdate"],
    "part": ["p_partkey", "p_name", "p_brand", "p_type", "p_size", "p_retailprice"],
    "supplier": ["s_suppkey", "s_name", "s_nationkey", "s_acctbal"],
    "nation": ["n_nationkey", "n_name", "n_regionkey"],
    "region": ["r_regionkey", "r_name"],
}
NUMERIC = {
    "customer": ["c_acctbal"], "orders": ["o_totalprice"],
    "lineitem": ["l_quantity", "l_extendedprice", "l_discount"],
    "part": ["p_size", "p_retailprice"], "supplier": ["s_acctbal"],
    "nation": ["n_regionkey"], "region": ["r_regionkey"],
}
STRINGS = {
    "customer": ["c_name", "c_mktsegment"], "orders": ["o_orderstatus", "o_orderpriority"],
    "lineitem": ["l_returnflag", "l_linestatus"], "part": ["p_name", "p_brand", "p_type"],
    "supplier": ["s_name"], "nation": ["n_name"], "region": ["r_name"],
}
DATES = {"orders": "o_orderdate", "lineitem": "l_shipdate"}
#: (left table, left key, right table, right key) equi-join edges
JOINS = [
    ("customer", "c_custkey", "orders", "o_custkey"),
    ("orders", "o_orderkey", "lineitem", "l_orderkey"),
    ("nation", "n_nationkey", "customer", "c_nationkey"),
    ("nation", "n_regionkey", "region", "r_regionkey"),
    ("supplier", "s_nationkey", "nation", "n_nationkey"),
    ("part", "p_partkey", "lineitem", "l_partkey"),
    ("supplier", "s_suppkey", "lineitem", "l_suppkey"),
]


@dataclass
class Stmt:
    template: str
    sql: str
    inputs: set[str]
    outputs: set[str]
    #: (to_table, to_name_parse) -> set of qualified source columns
    edges: dict[tuple[str, str], set[str]]
    #: condition tag prefixes (``WHERE``, ``JOIN``, ``COLFUN``, ...)
    prefixes: set[str]


def _q(table: str, col: str) -> str:
    return f"default.{table}.{col}"


class _Script:
    def __init__(self, seed: int):
        self.rng = random.Random(seed * 15485863 + 11)
        self.n_dest = 0
        self.decks: dict[str, list] = {}

    def dest(self) -> str:
        self.n_dest += 1
        return f"dw.t{self.n_dest:04d}_{self.rng.choice(('agg', 'fact', 'dim', 'rpt'))}"

    def cols(self, table: str, k: int) -> list[str]:
        return self.rng.sample(COLUMNS[table], k)

    def lit(self) -> str:
        return str(self.rng.randint(1, 900))

    def pick(self, key: str, options: list):
        """A seeded draw that deals ``options`` like a shuffled deck, one
        deck per ``key``: over a script each option comes up equally
        often (±1).  Catalog lookups cost differently per table, so
        balanced draws keep a script's cost nearly the same across
        seeds."""
        deck = self.decks.get(key)
        if not deck:
            deck = self.decks[key] = self.rng.sample(options, len(options))
        return deck.pop()

    def join(self, key: str) -> tuple[str, str, str, str]:
        return self.pick(key, JOINS)

    # -- templates: each returns a Stmt with its expected lineage ---------

    def insert_partition(self) -> Stmt:
        la, lk, ra, rk = self.join("insert_partition")
        x = self.rng.choice(COLUMNS[la])
        y = self.rng.choice(NUMERIC[ra])
        z = self.rng.choice(NUMERIC[ra])
        dest = self.dest()
        day = f"2024-{self.rng.randint(1, 12):02d}-{self.rng.randint(1, 28):02d}"
        sql = (
            f"insert overwrite table {dest} partition (dt='{day}') "
            f"select a.{x}, nvl(b.{y}, 0) as {y}_nz "
            f"from {la} a join {ra} b on a.{lk} = b.{rk} where b.{z} > {self.lit()}"
        )
        return Stmt("insert_partition", sql, {f"default.{la}", f"default.{ra}"}, {dest},
                    {(dest, x): {_q(la, x)}, (dest, f"{y}_nz"): {_q(ra, y)}},
                    {"JOIN", "WHERE", "COLFUN"})

    def outer_join(self) -> Stmt:
        la, lk, ra, rk = self.join("outer_join")
        kind = self.rng.choice(("left outer", "right outer", "full outer"))
        x = self.rng.choice(COLUMNS[la])
        y = self.rng.choice([c for c in COLUMNS[ra] if c != x])
        sql = (f"select a.{x}, b.{y} from {la} a {kind} join {ra} b "
               f"on a.{lk} = b.{rk}")
        tag = kind.replace(" ", "").upper() + "JOIN"
        return Stmt("outer_join", sql, {f"default.{la}", f"default.{ra}"}, set(),
                    {("TOK_TMP_FILE", x): {_q(la, x)}, ("TOK_TMP_FILE", y): {_q(ra, y)}},
                    {tag})

    def semi_join(self) -> Stmt:
        la, lk, ra, rk = self.join("semi_join")
        xs = self.cols(la, 2)
        sql = (f"select {', '.join('a.' + c for c in xs)} from {la} a "
               f"left semi join {ra} b on a.{lk} = b.{rk}")
        return Stmt("semi_join", sql, {f"default.{la}", f"default.{ra}"}, set(),
                    {("TOK_TMP_FILE", c): {_q(la, c)} for c in xs}, {"LEFTSEMIJOIN"})

    def from_subquery(self) -> Stmt:
        t = self.pick("from_subquery", list(NUMERIC))
        xs = self.cols(t, 2)
        z = self.rng.choice(NUMERIC[t])
        sql = (f"select s.{xs[0]}, s.{xs[1]} from "
               f"(select {xs[0]}, {xs[1]} from {t} where {z} > {self.lit()}) s")
        return Stmt("from_subquery", sql, {f"default.{t}"}, set(),
                    {("TOK_TMP_FILE", c): {_q(t, c)} for c in xs}, {"WHERE"})

    def union_all(self) -> Stmt:
        ta = self.pick("union_all", list(STRINGS))
        tb = self.rng.choice([t for t in STRINGS if t != ta])
        x, y = self.rng.choice(STRINGS[ta]), self.rng.choice(STRINGS[tb])
        dest = self.dest()
        sql = (f"insert into table {dest} select a.{x} as label from {ta} a "
               f"union all select b.{y} as label from {tb} b")
        return Stmt("union_all", sql, {f"default.{ta}", f"default.{tb}"}, {dest},
                    {(dest, "label"): {_q(ta, x), _q(tb, y)}}, set())

    def cte(self) -> Stmt:
        t = self.pick("cte", list(NUMERIC))
        xs = self.cols(t, 2)
        z = self.rng.choice(NUMERIC[t])
        sql = (f"with w as (select {xs[0]}, {xs[1]} from {t} where {z} >= {self.lit()}) "
               f"select w.{xs[0]}, w.{xs[1]} from w")
        return Stmt("cte", sql, {f"default.{t}"}, set(),
                    {("TOK_TMP_FILE", c): {_q(t, c)} for c in xs}, {"WHERE"})

    def case_when(self) -> Stmt:
        t = self.pick("case_when", [t for t in NUMERIC if len(COLUMNS[t]) >= 4])
        z = self.rng.choice(NUMERIC[t])
        k, a, b = self.cols(t, 3)
        sql = (f"select x.{k}, case when x.{z} > {self.lit()} then x.{a} "
               f"else x.{b} end as pick from {t} x")
        return Stmt("case_when", sql, {f"default.{t}"}, set(),
                    {("TOK_TMP_FILE", k): {_q(t, k)},
                     ("TOK_TMP_FILE", "pick"): {_q(t, a), _q(t, b)}},
                    {"COLFUN"})

    def distinct_agg(self) -> Stmt:
        t = self.pick("distinct_agg", [t for t in STRINGS if len(COLUMNS[t]) >= 4])
        g = self.rng.choice(STRINGS[t])
        x = self.rng.choice([c for c in COLUMNS[t] if c != g])
        having = self.rng.random() < 0.5
        sql = (f"select a.{g}, count(distinct a.{x}) as n_{x} from {t} a group by a.{g}"
               + (" having count(*) > 1" if having else ""))
        return Stmt("distinct_agg", sql, {f"default.{t}"}, set(),
                    {("TOK_TMP_FILE", g): {_q(t, g)}, ("TOK_TMP_FILE", f"n_{x}"): {_q(t, x)}},
                    {"COLFUN", "HAVING"} if having else {"COLFUN"})

    def functions(self) -> Stmt:
        t = self.pick("functions", list(DATES))
        a, b = self.rng.sample(STRINGS[t], 2)
        d = DATES[t]
        dest = self.dest()
        sql = (f"insert overwrite table {dest} select concat(x.{a}, '-', x.{b}) as tag, "
               f"date_sub(to_date(x.{d}), {self.rng.randint(1, 30)}) as day "
               f"from {t} x")
        return Stmt("functions", sql, {f"default.{t}"}, {dest},
                    {(dest, "tag"): {_q(t, a), _q(t, b)}, (dest, "day"): {_q(t, d)}},
                    {"COLFUN"})

    def star(self) -> Stmt:
        t = self.pick("star", ["region", "nation", "supplier"])
        sql = f"select * from {t}"
        return Stmt("star", sql, {f"default.{t}"}, set(),
                    {("TOK_TMP_FILE", c): {_q(t, c)} for c in COLUMNS[t]}, set())

    def unqualified_join(self) -> Stmt:
        la, lk, ra, rk = self.join("unqualified_join")
        x = self.rng.choice([c for c in COLUMNS[la] if c != lk])
        y = self.rng.choice(COLUMNS[ra])
        sql = (f"select {x}, b.{y} from {la} a join {ra} b on a.{lk} = b.{rk}")
        return Stmt("unqualified_join", sql, {f"default.{la}", f"default.{ra}"}, set(),
                    {("TOK_TMP_FILE", x): {_q(la, x)}, ("TOK_TMP_FILE", y): {_q(ra, y)}},
                    {"JOIN"})


#: Statements per template in a 109-statement script.  Fixed counts (not
#: random draws) keep the mix identical across seeds; the seed varies
#: tables (dealt evenly, see ``_Script.pick``), columns and literals.
#: Latency falls into classes: plain SELECTs (~10 ms), INSERTs, whose
#: sink lookup misses the catalog (~35 ms), star expansion (~90 ms) and
#: an unqualified column in a join (~400 ms, four catalog lookups).  The
#: counts put each reported percentile inside one class rather than on a
#: boundary between two: 76 plain SELECTs hold the median, and the 7
#: unqualified joins, one per join edge, hold the p95.
MIX = {
    "outer_join": 14,
    "semi_join": 14,
    "from_subquery": 14,
    "cte": 14,
    "case_when": 10,
    "distinct_agg": 10,
    "insert_partition": 7,
    "union_all": 7,
    "functions": 6,
    "star": 6,
    "unqualified_join": 7,
}


def lineage_script(seed: int) -> list[Stmt]:
    """The statement list for ``seed``, in a seed-shuffled order."""
    gen = _Script(seed)
    kinds = [k for k, n in MIX.items() for _ in range(n)]
    gen.rng.shuffle(kinds)
    return [getattr(gen, k)() for k in kinds]


def script_text(stmts: list[Stmt]) -> str:
    return ";\n".join(s.sql for s in stmts)
