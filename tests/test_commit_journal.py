"""The maintenance commit journal under crashes.

Every maintenance verb that mutates the ingest state — compact_state,
coalesce_snapshots, refit_ivf_index and the fast retract_documents —
stages what it will adopt, commits by writing the stage's manifest,
then applies the manifest's idempotent ops.  Here each verb is
crashed before its commit and before every mutation of its apply
(injected through ``ingest._rename_path`` / ``ingest._delete_path``),
and each crashed state must be finished by fsck_state into exactly
the crash-free run's state: nothing lost, nothing applied twice.
"""

from __future__ import annotations

import hashlib
import os
import shutil
from collections import Counter

import pyarrow.parquet as pq
import pytest

import hadoop__spark.operators.ingest as ing
from hadoop__spark.operators.ingest import (
    _JOURNAL,
    _MANIFEST,
    _STALE_MARKER,
    _STATE_TABLES,
    fsck_state,
    ingest_batch,
    state_summary,
)


def _docs(spark, ids):
    return spark.createDataFrame(
        [
            (
                i,
                f"wholly unique body document number {i} with its own "
                f"content and phrasing variant {i * 7 % 13}",
                "g" if i % 2 else "h",
            )
            for i in ids
        ],
        "doc_id LONG, text STRING, src STRING",
    )


def _opts(spark, ids, dim=48):
    # one-hot orthogonal vectors: no two documents are semantic dups
    return dict(
        scores=spark.createDataFrame(
            [(i, float(i % 11)) for i in ids],
            "doc_id LONG, quality_score DOUBLE",
        ),
        keep_frac=0.95,
        group_cap=("src", 50),
        embeddings=spark.createDataFrame(
            [(i, [1.0 if d == i else 0.0 for d in range(dim)]) for i in ids],
            "doc_id LONG, embedding ARRAY<DOUBLE>",
        ),
        accounting_col="src",
        semantic_threshold=0.999,
    )


VICTIMS = [2, 16, 31]

VERBS = {
    "compact": lambda spark, st: ing.compact_state(spark, st),
    "coalesce": lambda spark, st: ing.coalesce_snapshots(spark, st),
    "refit": lambda spark, st: ing.refit_ivf_index(spark, st),
    "retract": lambda spark, st: ing.retract_documents(
        spark, st,
        spark.createDataFrame([(v,) for v in VICTIMS], "doc_id LONG"),
        mode="fast",
    ),
}


@pytest.fixture(scope="module")
def base(spark, tmp_path_factory):
    """Three batches with every state plane in play: gate, group cap,
    accounting, IVF index."""
    state = str(tmp_path_factory.mktemp("journal") / "base")
    ids = list(range(1, 41))
    for name, batch in (
        ("b1", range(1, 15)), ("b2", range(15, 30)), ("b3", range(30, 41))
    ):
        ingest_batch(spark, state, _docs(spark, batch), name,
                     **_opts(spark, ids))
    return state


def _copy(src, dst):
    shutil.copytree(src, str(dst))
    return str(dst)


def _tree(root):
    """{relpath: sha256} of every file under ``root``."""
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, root)] = hashlib.sha256(
                    fh.read()
                ).hexdigest()
    return out


def _freeze(v):
    if isinstance(v, (list, tuple)):
        return tuple(_freeze(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, _freeze(x)) for k, x in v.items()))
    return v


def _rows(path):
    """The parquet table at ``path`` as a multiset of rows (so a
    duplicate is a difference)."""
    return Counter(_freeze(r) for r in pq.read_table(path).to_pylist())


def _content(state, verb):
    """Every state table's and snapshot's rows, plus the stale-sketches
    marker.  A refit fits its centroids on a sample that two runs over
    equal copies do not reproduce (ROADMAP item 3), so after a refit
    the index is compared by membership: assigned rows without their
    centroid id, and the centroid count."""
    rels = list(_STATE_TABLES) + ["ivf/assigned", "ivf/centroids"] + [
        f"batches/{n}" for n in sorted(os.listdir(f"{state}/batches"))
    ]
    out = {
        rel: _rows(f"{state}/{rel}")
        for rel in rels
        if os.path.isdir(f"{state}/{rel}")
    }
    if verb == "refit":
        out["ivf/assigned"] = Counter(
            tuple(kv for kv in row if kv[0] != "centroid_id")
            for row in out["ivf/assigned"].elements()
        )
        out["ivf/centroids"] = sum(out["ivf/centroids"].values())
    marker = f"{state}/{_STALE_MARKER}"
    out[_STALE_MARKER] = (
        open(marker).read() if os.path.exists(marker) else None
    )
    return out


def _staged_index(state, stage):
    """The IVF index a committed refit stage adopts: each table from
    the stage, or from ivf/ once the apply has moved it there."""
    return {
        t: _rows(
            f"{state}/{stage}/ivf/{t}"
            if os.path.isdir(f"{state}/{stage}/ivf/{t}")
            else f"{state}/ivf/{t}"
        )
        for t in ("assigned", "centroids")
    }


def _admitted(content):
    """Per-group admitted totals of the group_counts state."""
    totals = Counter()
    for row, mult in content["group_counts"].items():
        r = dict(row)
        totals[r["src"]] += r["n_admitted"] * mult
    return totals


class _Chaos:
    """Counts the mutations an apply makes (``_rename_path`` /
    ``_delete_path`` calls while ``_apply`` runs) and raises before
    the ``crash_at``-th one."""

    def __init__(self, monkeypatch, crash_at=None):
        self.n, self.crash_at, self.applying = 0, crash_at, False
        real_apply = ing._apply

        def apply(spark, state_dir, stage):
            self.applying = True
            try:
                return real_apply(spark, state_dir, stage)
            finally:
                self.applying = False

        def wrap(real):
            def mutate(*args):
                if self.applying:
                    self.n += 1
                    if self.n == self.crash_at:
                        raise RuntimeError(
                            f"chaos: crash before apply mutation {self.n}"
                        )
                return real(*args)

            return mutate

        monkeypatch.setattr(ing, "_apply", apply)
        monkeypatch.setattr(ing, "_rename_path", wrap(ing._rename_path))
        monkeypatch.setattr(ing, "_delete_path", wrap(ing._delete_path))


def _crash_sweep(spark, base, tmp_path, monkeypatch, verb, ks=None,
                 pre_commit=True):
    run = VERBS[verb]
    clean = _copy(base, tmp_path / f"{verb}-clean")
    chaos = _Chaos(monkeypatch)
    run(spark, clean)
    monkeypatch.undo()
    want = _content(clean, verb)
    n = chaos.n
    assert n >= 3, f"{verb}: the apply made only {n} mutations"

    if pre_commit:
        # crash at the commit point itself: the manifest never lands,
        # the stage is swept, and the state is byte-identical
        st = _copy(base, tmp_path / f"{verb}-precommit")
        before = _tree(st)
        real_write = ing._write_text_file

        def crash_before_commit(spark_, path, content):
            if path.endswith(f"/{_MANIFEST}"):
                raise RuntimeError("chaos: crash before the commit")
            return real_write(spark_, path, content)

        monkeypatch.setattr(ing, "_write_text_file", crash_before_commit)
        with pytest.raises(RuntimeError, match="chaos"):
            run(spark, st)
        monkeypatch.undo()
        orphans = state_summary(spark, st)["orphans"]
        assert len(orphans) == 1
        assert orphans[0].startswith(f"{_JOURNAL}/{verb}-")
        assert fsck_state(spark, st) == {"restored": [], "swept": orphans}
        assert _tree(st) == before
        shutil.rmtree(st)

    for k in ks(n) if ks else range(1, n + 1):
        st = _copy(base, tmp_path / f"{verb}-k{k}")
        _Chaos(monkeypatch, crash_at=k)
        with pytest.raises(RuntimeError, match="chaos"):
            run(spark, st)
        monkeypatch.undo()
        orphans = state_summary(spark, st)["orphans"]
        assert len(orphans) == 1, (verb, k, orphans)
        assert orphans[0].startswith(f"{_JOURNAL}/{verb}-")
        # nothing appends while the committed stage is pending
        with pytest.raises(RuntimeError, match="fsck_state"):
            ingest_batch(spark, st, _docs(spark, [45]), "b_next")
        staged = _staged_index(st, orphans[0]) if verb == "refit" else None
        rep = fsck_state(spark, st)
        assert rep["restored"] + rep["swept"] == orphans, (verb, k)
        assert rep["restored"] == orphans, (verb, k)
        if staged is not None:
            # both tables from the one staged fit — never a hybrid of
            # old centroids and new assignments
            assert _staged_index(st, orphans[0]) == staged, k
        got = _content(st, verb)
        assert got == want, (verb, k)
        assert _admitted(got) == _admitted(want), (verb, k)
        assert fsck_state(spark, st) == {"restored": [], "swept": []}
        shutil.rmtree(st)


@pytest.mark.parametrize("verb", sorted(VERBS))
def test_commit_journal_crash_sweep(spark, base, tmp_path, monkeypatch,
                                    verb):
    """Crash before the commit and before EVERY apply mutation of each
    maintenance verb: state_summary reports exactly what fsck_state
    then restores or sweeps, ingest_batch refuses while the stage is
    pending, every table and snapshot ends with the crash-free run's
    rows (group_counts never double-decremented), and a second fsck
    finds nothing."""
    _crash_sweep(spark, base, tmp_path, monkeypatch, verb)


@pytest.mark.parametrize("verb", ["compact", "retract"])
def test_commit_journal_crash_smoke(spark, base, tmp_path, monkeypatch,
                                    verb):
    """The default-tier slice of the crash sweep: the first and the
    last apply mutation of a compaction and of a fast retraction."""
    _crash_sweep(spark, base, tmp_path, monkeypatch, verb,
                 ks=lambda n: (1, n), pre_commit=False)


def test_applying_a_committed_stage_twice_leaves_the_same_tree(
    spark, base, tmp_path, monkeypatch
):
    """Every journal op is idempotent: applying a committed retraction
    stage, restoring the stage and applying it again leaves the same
    file tree as applying it once."""
    pending = _copy(base, tmp_path / "pending")
    monkeypatch.setattr(ing, "_apply", lambda *args: None)
    VERBS["retract"](spark, pending)
    monkeypatch.undo()
    (stage,) = state_summary(spark, pending)["orphans"]
    once = _copy(pending, tmp_path / "once")
    twice = _copy(pending, tmp_path / "twice")
    ing._apply(spark, once, stage)
    saved = _copy(f"{twice}/{stage}", tmp_path / "saved")
    ing._apply(spark, twice, stage)
    shutil.copytree(saved, f"{twice}/{stage}")
    ing._apply(spark, twice, stage)
    assert _tree(once) == _tree(twice)
    assert not os.path.exists(f"{once}/{stage}")


def test_torn_manifest_is_swept(spark, base, tmp_path, monkeypatch):
    """A crash during the manifest's own write leaves a prefix of it:
    cut mid-line (fsck would fail on the partial JSON line) or at a
    line boundary (fsck would replay part of the ops).  Either reads as
    uncommitted, since only the closing line commits: fsck sweeps the
    stage, the state is byte-identical to the pre-verb state, and
    ingest_batch does not refuse while the torn stage is pending."""
    before = _tree(base)
    pending = _copy(base, tmp_path / "pending")
    monkeypatch.setattr(ing, "_apply", lambda *args: None)
    VERBS["compact"](spark, pending)
    monkeypatch.undo()
    (stage,) = state_summary(spark, pending)["orphans"]
    assert ing._stages(spark, pending) == ([stage], [])
    manifest = f"{stage}/{_MANIFEST}"
    with open(f"{pending}/{manifest}") as fh:
        text = fh.read()
    lines = text.split("\n")
    assert len(lines) >= 3 and lines[-1] == '["end"]'
    cuts = {
        # half of the last op line
        "mid-line": text[: len(text) - len(lines[-1]) - 1 - len(lines[-2]) // 2],
        # every op line whole, the closing line missing
        "line-boundary": text[: len(text) - len(lines[-1]) - 1],
    }
    for cut, torn in cuts.items():
        st = _copy(pending, tmp_path / cut)
        # the bytes that landed before the crash
        ing._write_text_file(spark, f"{st}/{manifest}", torn)
        assert state_summary(spark, st)["orphans"] == [stage], cut
        if cut == "line-boundary":
            ingested = _copy(st, tmp_path / f"{cut}-ingest")
            ingest_batch(spark, ingested, _docs(spark, [45]), "b_next",
                         **_opts(spark, [45]))
            assert os.path.isdir(f"{ingested}/batches/b_next"), cut
        assert fsck_state(spark, st) == {"restored": [], "swept": [stage]}, cut
        assert _tree(st) == before, cut


def test_maintenance_hold_reentrant_per_thread_only(spark, tmp_path):
    """The maintenance hold is re-entrant for the thread that holds
    it (a verb composed inside another runs directly) and exclusive
    for every other thread: a second thread's verb refuses on the
    lock instead of riding along on the holder's hold."""
    import threading

    state = str(tmp_path / "state")
    errors = []

    def other_thread():
        try:
            ing.compact_state(spark, state)
        except RuntimeError as e:
            errors.append(str(e))

    with ing._maintenance_lock(spark, state):
        assert ing.compact_state(spark, state) == {}
        t = threading.Thread(target=other_thread)
        t.start()
        t.join(timeout=120)
        assert not t.is_alive()
        assert len(errors) == 1 and "maintenance lock" in errors[0]
        assert os.path.exists(f"{state}/_MAINTENANCE_LOCK")
    assert not os.path.exists(f"{state}/_MAINTENANCE_LOCK")
