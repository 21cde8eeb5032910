"""The incremental corpus-ingest loop, end to end.

A 100 TB training-data pipeline does not re-dedup its corpus from
scratch per crawl — it maintains persisted dedup STATE (exact
fingerprints, MinHash signatures, an IVF embedding index) and folds
each new batch against that state:

1. exact:    :func:`~hadoop__spark.operators.dedup.fingerprint_filter_new`
2. near-dup: :func:`~hadoop__spark.operators.dedup.minhash_lsh_pairs_between`
   (or the SimHash / exact-ngram probes, per ``text_method``)
3. semantic: :func:`~hadoop__spark.operators.dedup.embedding_pairs_against_index`
4. within-batch dedup of what remains, then append the survivors to
   every state table (:func:`~hadoop__spark.operators.dedup.fingerprint_write`,
   :func:`~hadoop__spark.operators.dedup.minhash_write_signatures` /
   :func:`~hadoop__spark.operators.dedup.simhash_write_signatures` /
   :func:`~hadoop__spark.operators.dedup.ngram_append_index`,
   :func:`~hadoop__spark.operators.similarity.ivf_append_index`).

A crash between appends is recovered by :func:`rebuild_state` from
the immutable per-batch survivors snapshots.

The maintenance verbs (:func:`compact_state`,
:func:`refit_ivf_index`, :func:`coalesce_snapshots`,
:func:`retract_documents`) mutate the state through ONE commit
journal: each writes everything it will adopt into a stage under
``{state_dir}/tmp/commit/``, commits by writing the stage's manifest
of idempotent ``mv``/``rm`` ops last, then applies it.  A crash
before the commit leaves the state untouched; a crash after it is
finished by replaying the manifest — :func:`fsck_state` is "replay
committed stages, sweep uncommitted ones".

:func:`ingest_batch` is that loop as one call.  Each primitive's
docstring argues its own composition claim; the end-to-end claim — a
two-batch ingest equals the from-scratch dedup of the union — is
pinned in tests/test_ingest.py.

The reference (a 2015 HiveQL lineage analyzer, /root/reference
README.md) has no ingest surface; this is beyond-reference pipeline
capability built from this package's own tested primitives.
"""

from __future__ import annotations

import json
import threading
import uuid
from contextlib import ExitStack, contextmanager
from typing import Callable, NamedTuple

from pyspark.sql import DataFrame, functions as F

from hadoop__spark.operators.dedup import (
    _minhash_signatures,
    dedup_corpus,
    embedding_pairs_against_index,
    fingerprint_filter_new,
    fingerprint_write,
    minhash_lsh_pairs_between_frames,
    minhash_lsh_pairs_frames,
    minhash_write_signatures,
    minhash_write_signatures_frames,
    ngram_append_index,
    ngram_jaccard_pairs,
    ngram_jaccard_pairs_between,
    ngram_write_index,
    semantic_dedup,
    shingle_frame,
    simhash,
    simhash_pairs_between_frames,
    simhash_pairs_frames,
    simhash_write_signatures,
    simhash_write_signatures_frames,
)
from hadoop__spark.operators.corpus import (
    contamination_report,
    corpus_stats_sketch,
    decontaminate,
    eligibility_filter,
    overlap_sketch,
    score_sketch,
)
from hadoop__spark.operators.similarity import (
    _bucket,
    _bucket_cid,
    _bucket_ids,
    _default_nlist,
    _ivf_columns,
    _write_buckets,
    ivf_append_index,
    ivf_write_index,
)
from hadoop__spark.operators.util import (
    create_exclusive,
    delete_path as _delete_path,
    list_child_dirs as _list_child_dirs,
    list_files as _list_files,
    read_text_file as _read_text_file,
    rename_path as _rename_path,
    table_exists as _table_exists,
    write_text_file as _write_text_file,
)

# written into a batch snapshot as the LAST step of ingest_batch: its
# presence proves every state append completed for that batch.  The
# marker's CONTENT is the sorted comma-separated set of state planes
# it covers ("accounting,embeddings,fingerprints,gate,group_counts,
# text") — so a rebuild that omitted an input (leaving e.g. the IVF
# index without that batch's vectors) re-marks the snapshot WITHOUT
# claiming the un-rebuilt plane, and an on_existing="skip" replay that
# needs it refuses instead of silently no-opping.  An EMPTY marker is
# the pre-coverage legacy format, read as covering everything.
_COMMIT_MARKER = "_INGEST_COMMITTED"

# advisory maintenance lock at {state_dir}/_MAINTENANCE_LOCK: held by
# every maintenance verb while it stages, commits and applies its
# journal stage; ingest_batch refuses to start while it exists.
# Advisory — it turns the race into a loud refusal, not a
# transaction; a crashed maintenance run leaves a stale lock to
# delete by hand (the error message says so).
_MAINT_LOCK = "_MAINTENANCE_LOCK"

# the OTHER side of the advisory protocol (see _advisory_flag):
# ingest_batch holds this in-progress marker for its whole run, and
# _maintenance_lock refuses while it exists — so a compact/retract
# started while an ingest is mid-flight cannot replace a table between
# the ingest's read and append (which would silently lose that batch's
# appended rows).  A crashed ingest leaves the marker; rebuild_state
# (the crash-recovery path) clears it.
_INGEST_MARKER = "_INGEST_INPROGRESS"

# what a present flag means: the refusal raised both by the side that
# fails to create it and by the other side that finds it
_FLAG_MEANS = {
    _MAINT_LOCK: (
        "is under maintenance: maintenance lock {path} is held by a "
        "live compact/retract/refit run, or stale from a crashed one "
        "(delete the file after confirming nothing runs)"
    ),
    _INGEST_MARKER: (
        "has an ingest_batch run in flight ({path} present) — retry "
        "after it completes (a crashed ingest leaves the marker stale: "
        "rebuild_state clears it, or delete the file by hand)"
    ),
}

# sketch states that cannot subtract (KLL quantiles, HLL/theta
# accounting): a fast-path retraction leaves them overstating and
# records which ones here (comma-separated relpaths); rebuild_state
# clears the entries it rebuilds and state_summary reports the rest.
_STALE_MARKER = "_STALE_SKETCHES"

# the maintenance commit journal: a verb stages under
# {state_dir}/tmp/commit/{verb}-{uuid}/ and commits by writing the
# stage's manifest (its op list, see _apply) as the stage's LAST file;
# the manifest's last line is _END, so one torn by a crash during its
# own write reads as uncommitted
_JOURNAL = "tmp/commit"
_MANIFEST = "_COMMIT"
_END = json.dumps(["end"])


class _Plane(NamedTuple):
    """One near-dup text plane: its state layout and its ingest steps.

    ``sub`` is the plane's dir suffix under the state dir ("" = the
    state root, minhash's original layout), ``marker`` the table whose
    existence identifies the plane a corpus was bootstrapped with,
    ``tables`` the flat tables a fast retraction rewrites, ``params``
    the parameters besides ``n`` its policy records.  The steps take
    the call's knobs as keywords and look every dedup function up as a
    module global at call time, so a patched global is what runs:

    * ``stored(spark, marker)``: the parameters the plane was written
      with, as ``{name: value}``;
    * ``sign(spark, fresh, sigs, **k)``: stage the batch's signature
      frames ONCE under ``sigs`` and return them (None: the plane keeps
      the from-text route);
    * ``probe(spark, path, fresh, frames, **k)``: pairs (``id_new``)
      between the batch and the stored plane;
    * ``pairs(spark, surv, frames, eligible, **k)``: pairs (``id_a``,
      ``id_b``) within the batch's exact-pass survivors;
    * ``write(spark, path, surv, frames, mode, **k)``: write
      (``"overwrite"``) or append the survivors to the plane.
    """

    sub: str
    marker: str
    tables: tuple
    params: tuple
    stored: Callable
    sign: Callable
    probe: Callable
    pairs: Callable
    write: Callable


def _alive(frames: dict, surv: DataFrame, id_col: str) -> dict:
    """The staged frames semi-joined to the ids of ``surv``: per-row
    projections and per-doc aggregations are deterministic, so these
    equal frames recomputed on the subset, at zero re-hash cost."""
    alive = surv.select(F.col(id_col).alias("_id"))
    return {k: f.join(alive, "_id", "left_semi") for k, f in frames.items()}


def _mh_stored(spark, marker):
    return {
        "num_perm": sum(
            c.startswith("mh_") for c in spark.read.parquet(marker).columns
        )
    }


def _mh_sign(spark, fresh, sigs, *, text_col, id_col, n, num_perm, **_):
    shingle_frame(fresh, text_col, id_col, n).write.mode(
        "overwrite"
    ).parquet(f"{sigs}/shingles")
    sh = spark.read.parquet(f"{sigs}/shingles")
    _minhash_signatures(sh, num_perm).write.mode("overwrite").parquet(
        f"{sigs}/signatures"
    )
    return {"sh": sh, "mh": spark.read.parquet(f"{sigs}/signatures")}


def _mh_probe(spark, path, fresh, frames, *, bands, threshold, max_bucket,
              **_):
    return minhash_lsh_pairs_between_frames(
        spark, path, frames["mh"], frames["sh"], bands=bands,
        threshold=threshold, max_bucket=max_bucket,
    )


def _mh_pairs(spark, surv, frames, eligible, *, id_col, bands, threshold,
              max_bucket, **_):
    # bucket caps apply after the semi-join, same as the text path
    f = _alive(frames, surv, id_col)
    return minhash_lsh_pairs_frames(
        f["mh"], f["sh"], bands=bands, threshold=threshold,
        max_bucket=max_bucket,
    )


def _mh_write(spark, path, surv, frames, mode, *, text_col, id_col, n,
              num_perm, **_):
    if frames is None:
        minhash_write_signatures(
            surv, path, text_col, id_col, n=n, num_perm=num_perm, mode=mode
        )
    else:
        f = _alive(frames, surv, id_col)
        minhash_write_signatures_frames(
            spark, path, f["sh"], f["mh"], mode=mode
        )


def _sim_sign(spark, fresh, sigs, *, text_col, id_col, n, **_):
    simhash(fresh, text_col, id_col, n).select(
        F.col(id_col).alias("_id"), "simhash"
    ).write.mode("overwrite").parquet(f"{sigs}/signatures")
    return {"sim": spark.read.parquet(f"{sigs}/signatures")}


def _sim_probe(spark, path, fresh, frames, *, max_hamming, n_chunks, **_):
    return simhash_pairs_between_frames(
        spark, path, frames["sim"], max_hamming=max_hamming,
        n_chunks=n_chunks,
    )


def _sim_pairs(spark, surv, frames, eligible, *, id_col, max_hamming,
               n_chunks, **_):
    from hadoop__spark.operators.util import parquet_row_count

    # the frame is batch-sized by construction (⊆ the eligible
    # staging): pass that bound as n_docs, so the occupancy guard costs
    # a driver-side footer read instead of a join-backed count() job
    # (the guard is monotone in n_docs: an upper bound can only refuse
    # earlier, never admit more)
    return simhash_pairs_frames(
        _alive(frames, surv, id_col)["sim"], max_hamming=max_hamming,
        n_chunks=n_chunks, n_docs=parquet_row_count(spark, eligible),
    )


def _sim_write(spark, path, surv, frames, mode, *, text_col, id_col, n,
               **_):
    if frames is None:
        simhash_write_signatures(
            surv, path, text_col, id_col, n=n, mode=mode
        )
    else:
        simhash_write_signatures_frames(
            spark, path, _alive(frames, surv, id_col)["sim"], mode=mode
        )


def _ng_stored(spark, marker):
    meta = spark.read.parquet(marker).first()
    return {"n": meta.n, "threshold": meta.threshold}


def _ng_probe(spark, path, fresh, frames, *, text_col, id_col, threshold,
              **_):
    return ngram_jaccard_pairs_between(
        spark, path, fresh, text_col, id_col, threshold=threshold
    )


def _ng_pairs(spark, surv, frames, eligible, *, text_col, id_col, n,
              threshold, **_):
    return ngram_jaccard_pairs(
        surv, text_col, id_col, threshold=threshold, n=n
    )


def _ng_write(spark, path, surv, frames, mode, *, text_col, id_col, n,
              threshold, **_):
    # the append cross-checks n/threshold against the stored meta and
    # keeps the bootstrap's frozen df order
    if mode == "append":
        ngram_append_index(
            spark, path, surv, text_col, id_col, n=n, threshold=threshold
        )
    else:
        ngram_write_index(
            surv, path, text_col, id_col, n=n, threshold=threshold
        )


# The ngram plane signs nothing: its index appends under a frozen
# df-order contract, and its per-batch recompute is one tokenize+slice
# pass with no hash fan-out, not worth entangling that invariant for.
_PLANES = {
    "minhash": _Plane(
        "", "signatures", ("shingles", "signatures"),
        ("num_perm", "threshold"), _mh_stored, _mh_sign, _mh_probe,
        _mh_pairs, _mh_write,
    ),
    "simhash": _Plane(
        "/simhash", "simhash/signatures", ("simhash/signatures",), (),
        lambda spark, marker: {}, _sim_sign, _sim_probe, _sim_pairs,
        _sim_write,
    ),
    "ngram": _Plane(
        "/ngram", "ngram/meta", ("ngram/shingle_sets", "ngram/prefix"),
        ("threshold",), _ng_stored, lambda *a, **k: None, _ng_probe,
        _ng_pairs, _ng_write,
    ),
}


def _plane(text_method: str) -> _Plane:
    """The plane record for a ``text_method`` argument."""
    if text_method not in _PLANES:
        raise ValueError(
            "text_method must be 'minhash', 'simhash' or 'ngram', "
            f"got {text_method!r}"
        )
    return _PLANES[text_method]


# every flat state table (relpath → compaction sort keys; None =
# unsorted, the kilobyte sketch tables) — the registry compact_state
# rewrites and state_summary counts.  batches/* (immutable snapshots)
# and ivf/ (centroid-partitioned) are deliberately absent: compacting
# them would destroy the rebuild source of truth / the partition
# pruning.
_STATE_TABLES = {
    "fingerprints": ["fp"],
    "shingles": ["_id"],
    "signatures": ["_id"],
    "simhash/signatures": ["_id"],
    "ngram/shingle_sets": ["_id"],
    "ngram/prefix": ["_s"],
    "ngram/doc_freq": ["_s"],
    "score_sketches": None,
    "group_counts": None,
    "accounting/stats": None,
    "accounting/overlap": None,
}


def _name(path: str) -> str:
    """Last path component (a snapshot, stage or bucket dir name)."""
    return path.rstrip("/").rsplit("/", 1)[-1]


def _detect_plane(spark, state_dir: str) -> str | None:
    """The text plane a state dir holds, from its layout markers."""
    for method, plane in _PLANES.items():
        if _table_exists(spark, f"{state_dir}/{plane.marker}"):
            return method
    return None


def _same(stored, call) -> bool:
    """Whether a call's value matches a stored one (floats within
    1e-12: they round-trip through parquet)."""
    if isinstance(stored, float) and isinstance(call, (int, float)):
        return abs(stored - call) <= 1e-12
    return stored == call


def _check_stored_plane(
    spark, state_dir: str, text_method: str, n: int, num_perm: int,
    threshold: float, params: bool = True,
) -> None:
    """THE stored-plane check of :func:`ingest_batch`,
    :func:`rebuild_state` and :func:`retract_documents`, run before
    anything is written: refuse a call whose ``text_method`` has no
    plane in the state (probing or rebuilding the wrong plane would
    silently admit near-dups of everything already ingested) and, with
    ``params``, one whose parameters contradict those the plane was
    written with (the minhash ``num_perm``, the ngram ``n`` and
    ``threshold``: a mismatched append would refuse mid-batch, or a
    rebuild would strand every later append)."""
    plane = _PLANES[text_method]
    marker = f"{state_dir}/{plane.marker}"
    if not _table_exists(spark, marker):
        held = _detect_plane(spark, state_dir)
        raise ValueError(
            f"state at {state_dir} holds "
            + (f"a {held!r} plane" if held else "no text plane")
            + f", not a {text_method!r} one: it was built with a "
            "different text_method — pass the text_method the corpus "
            "was ingested with, or rebuild the state"
        )
    call = {"n": n, "num_perm": num_perm, "threshold": threshold}
    drift = [
        f"{name}: stored {v!r}, this call {call[name]!r}"
        for name, v in (plane.stored(spark, marker) if params else {}).items()
        if not _same(v, call[name])
    ]
    if drift:
        raise ValueError(
            f"the {text_method!r} plane at {state_dir} contradicts this "
            f"call — {'; '.join(drift)} — match the stored parameters, "
            "or rebuild the state"
        )


def _complete_snapshots(spark, state_dir: str) -> list[str]:
    """The batch snapshot dirs holding a parquet ``_SUCCESS`` marker —
    a dir without one crashed during its own write, before any state
    append, so it was never ingested."""
    return [
        b
        for b in _list_child_dirs(spark, f"{state_dir}/batches")
        if _table_exists(spark, f"{b}/_SUCCESS")
    ]


def _union(spark, paths: list[str]) -> DataFrame:
    """The snapshots at ``paths`` as one frame, in list order (optional
    columns may have drifted across batches)."""
    union = spark.read.parquet(paths[0])
    for p in paths[1:]:
        union = union.unionByName(
            spark.read.parquet(p), allowMissingColumns=True
        )
    return union


# state dirs whose maintenance lock THIS thread holds — module-level
# because the re-entrant verbs are public functions with no hold
# parameter to pass; thread-local so another thread never rides along
_HELD = threading.local()


class _Held(RuntimeError):
    """An advisory flag this run needs is present (see _FLAG_MEANS)."""


@contextmanager
def _advisory_flag(spark, state_dir: str, mine: str, other: str | None):
    """THE two-sided advisory protocol: exclusively create this side's
    flag ``mine``, refuse when the ``other`` side's flag exists, and
    always release.  Each side creates its own flag FIRST and only
    then checks the other's, so the two can never both proceed (both
    may refuse — advisory, not a scheduler)."""

    def refuse(flag):
        means = _FLAG_MEANS[flag].format(path=f"{state_dir}/{flag}")
        return _Held(f"state at {state_dir} {means}")

    path = f"{state_dir}/{mine}"
    if not create_exclusive(spark, path):
        raise refuse(mine)
    try:
        if other is not None and _table_exists(spark, f"{state_dir}/{other}"):
            raise refuse(other)
        yield
    finally:
        _delete_path(spark, path)


@contextmanager
def _maintenance_lock(spark, state_dir: str):
    """The maintenance hold every verb runs under: the maintenance
    lock's advisory flag, refused while another run holds it OR an
    ingest is mid-flight (see _INGEST_MARKER), then the fsck pass
    FIRST — a crashed verb's committed stage is replayed and an
    uncommitted one swept before this verb reads anything.

    Re-entrant per thread: a call made while this thread already holds
    the state's lock (maintain_state → coalesce_snapshots,
    decontaminate_state → retract_documents) runs directly, and the
    fsck pass runs once per outermost hold.  Yields the fsck report
    (empty for a nested hold)."""
    key = state_dir.rstrip("/")
    held = _HELD.__dict__.setdefault("dirs", set())
    if key in held:
        yield {"restored": [], "swept": []}
        return
    with _advisory_flag(spark, state_dir, _MAINT_LOCK, _INGEST_MARKER):
        held.add(key)
        try:
            yield _fsck_state_locked(spark, state_dir)
        finally:
            held.discard(key)


def _stage_dir(verb: str) -> str:
    """A fresh journal stage, relative to the state dir."""
    return f"{_JOURNAL}/{verb}-{uuid.uuid4().hex[:12]}"


def _commit(spark, state_dir: str, stage: str, ops: list) -> None:
    """Commit a stage, then apply it.  Writing the manifest — the op
    list, every ``mv`` before every ``rm``, so a reader sees at worst
    duplicates, never a missing kept row — as the stage's LAST file is
    the commit point; the commit lands with the manifest's closing
    ``_END`` line (see :func:`_stages`)."""
    ops = sorted(ops, key=lambda op: op[0] != "mv")
    _write_text_file(
        spark, f"{state_dir}/{stage}/{_MANIFEST}",
        "\n".join([json.dumps(op) for op in ops] + [_END]),
    )
    _apply(spark, state_dir, stage)


def _apply(spark, state_dir: str, stage: str) -> None:
    """Run a committed stage's ops in order, then delete the stage.
    Paths are relative to the state dir, and every op is idempotent,
    so a crashed apply is finished by running it again
    (:func:`fsck_state`):

    * ``["mv", SRC, DST]`` does nothing once SRC is gone; otherwise it
      deletes an existing DST (Hadoop's rename would nest SRC INSIDE
      an existing directory) and renames, creating DST's parent;
    * ``["rm", PATH]`` does nothing once PATH is gone.

    ``_rename_path`` / ``_delete_path`` are looked up as module
    globals here — the one place a crash can be injected into any
    maintenance mutation."""
    manifest = _read_text_file(spark, f"{state_dir}/{stage}/{_MANIFEST}")
    for line in manifest.splitlines()[:-1]:  # all but the closing _END
        op, *paths = json.loads(line)
        src = f"{state_dir}/{paths[0]}"
        if not _table_exists(spark, src):
            continue
        if op == "rm":
            _delete_path(spark, src)
            continue
        dst = f"{state_dir}/{paths[1]}"
        if _table_exists(spark, dst):
            _delete_path(spark, dst)
        _rename_path(spark, src, dst)
    _delete_path(spark, f"{state_dir}/{stage}")


def _adopt(spark, state_dir: str, stage: str, rel: str) -> list:
    """One ``mv`` per parquet file staged under ``{stage}/{rel}`` to
    the same relative path under ``rel`` (partition dirs included)."""
    return [
        ["mv", f"{stage}/{rel}/{sub}", f"{rel}/{sub}"]
        for sub in (
            f.split(f"/{stage}/{rel}/", 1)[1]
            for f in _list_files(
                spark, f"{state_dir}/{stage}/{rel}", suffix=".parquet"
            )
        )
    ]


def _stages(spark, state_dir: str) -> tuple[list[str], list[str]]:
    """(committed, uncommitted) journal stages, relative to the state
    dir.  A stage is committed when its manifest ends with the ``_END``
    line: a manifest torn by a crash during its own write (mid-line or
    at a line boundary) was never applied — :func:`_apply` runs only
    after the write returns — so its stage is uncommitted."""
    committed, uncommitted = [], []
    for d in _list_child_dirs(spark, f"{state_dir}/{_JOURNAL}"):
        rel = f"{_JOURNAL}/{_name(d)}"
        manifest = f"{d}/{_MANIFEST}"
        if (
            _table_exists(spark, manifest)
            and _read_text_file(spark, manifest).splitlines()[-1:] == [_END]
        ):
            committed.append(rel)
        else:
            uncommitted.append(rel)
    return committed, uncommitted


# ---------------------------------------------------------------------------
# persisted ingest policy: the bootstrap call's structural and policy
# parameters, stored at {state_dir}/policy and enforced on every later
# call — the same stored-meta refusal pattern the text planes already
# use, extended to the knobs whose silent drift under-counts a state
# (the documented "use the same policy on every batch" contract, now
# refused instead of trusted).

_POLICY_SCHEMA = (
    "text_method STRING, n INT, num_perm INT, threshold DOUBLE, "
    "max_hamming INT, n_chunks INT, bands INT, "
    "has_quality_gate BOOLEAN, group_cap_col STRING, group_cap_k INT, "
    "accounting_col STRING, has_embeddings BOOLEAN, "
    "semantic_threshold DOUBLE"
)
_POLICY_FIELDS = [f.split()[0] for f in _POLICY_SCHEMA.split(", ")]
# refused on drift (structural parameters that shape the stored state,
# plus the presence/identity of each policy state — a batch ingested
# without keep_frac/group_cap/accounting silently under-counts those
# states; a batch without embeddings leaves the IVF index blind to its
# vectors).  The rest (bands, max_hamming, n_chunks,
# semantic_threshold) are query-time probe knobs: recorded for
# observability, drift allowed.
_POLICY_ENFORCED = (
    "text_method", "n", "num_perm", "threshold", "has_quality_gate",
    "group_cap_col", "group_cap_k", "accounting_col", "has_embeddings",
)


def _write_policy(spark, state_dir: str, pol: dict) -> None:
    # Arrow-built local frame — see util.local_frame: the pickled
    # default made this one-row coalesce(1) write cost ~5 s per state
    from hadoop__spark.operators.util import local_frame

    local_frame(
        spark, [tuple(pol.get(f) for f in _POLICY_FIELDS)], _POLICY_SCHEMA
    ).coalesce(1).write.mode("overwrite").parquet(f"{state_dir}/policy")


def _read_policy(spark, state_dir: str) -> dict | None:
    path = f"{state_dir}/policy"
    if not _table_exists(spark, path):
        return None
    # local-FS fast path: the policy is ONE row in one coalesced part
    # file, and every non-bootstrap ingest AND every state_summary
    # poll reads it — a driver-side pyarrow read costs no Spark job
    # (same pattern as _ivf_skew / parquet_row_count); non-local
    # filesystems, or an unexpected layout, fall back to the Spark
    # read (pyarrow's int/float/bool/str/None natives match what
    # Row.asDict() returns, so _policy_drift comparisons see
    # identical values either way)
    from hadoop__spark.operators.util import (
        is_local_fs,
        visible_parquet_files,
    )

    if is_local_fs(spark, path):
        import pyarrow.parquet as pq

        # visible files only: a crashed overwrite's lone _temporary
        # part must fall through to the Spark read, not a footer error
        parts = visible_parquet_files(spark, path)
        if len(parts) == 1:
            rows = pq.read_table(parts[0]).to_pylist()
            if len(rows) == 1:
                return rows[0]
    return spark.read.parquet(path).first().asDict()


def _policy(
    text_method: str, n: int, num_perm: int, threshold: float,
    has_quality_gate: bool, group_cap: tuple | None,
    accounting_col: str | None, has_embeddings: bool, **probe_knobs,
) -> dict:
    """THE policy record of a call (``group_cap``: ``(col, k)``, k may
    be None; ``probe_knobs``: the recorded query-time knobs, absent
    from a rebuild's record)."""
    uses = _PLANES[text_method].params
    cap_col, cap_k = group_cap if group_cap is not None else (None, None)
    return {
        "text_method": text_method,
        "n": int(n),
        "num_perm": int(num_perm) if "num_perm" in uses else None,
        "threshold": float(threshold) if "threshold" in uses else None,
        "has_quality_gate": has_quality_gate,
        "group_cap_col": cap_col,
        "group_cap_k": None if cap_k is None else int(cap_k),
        "accounting_col": accounting_col,
        "has_embeddings": has_embeddings,
        **probe_knobs,
    }


def _policy_drift(stored: dict, current: dict) -> list[str]:
    """Human-readable drift descriptions for the ENFORCED fields."""
    return [
        f"{f}: stored {stored.get(f)!r}, this call {current.get(f)!r}"
        for f in _POLICY_ENFORCED
        if not _same(stored.get(f), current.get(f))
    ]


def _required_planes(
    write_gate: bool,
    group_cap_col: str | None,
    accounting_col: str | None,
    has_embeddings: bool,
) -> set[str]:
    """The coverage-marker plane set a call's option surface needs."""
    planes = {"fingerprints", "text"}
    if write_gate:
        planes.add("gate")
    if group_cap_col is not None:
        planes.add("group_counts")
    if accounting_col is not None:
        planes.add("accounting")
    if has_embeddings:
        planes.add("embeddings")
    return planes


def _write_commit_marker(spark, batch_path: str, covered: set[str]) -> None:
    _write_text_file(
        spark, f"{batch_path}/{_COMMIT_MARKER}", ",".join(sorted(covered))
    )


def _read_commit_marker(spark, batch_path: str) -> set[str] | None:
    """Covered planes of a batch's commit marker; None when absent;
    an empty (legacy) marker reads as covering everything."""
    path = f"{batch_path}/{_COMMIT_MARKER}"
    if not _table_exists(spark, path):
        return None
    content = _read_text_file(spark, path).strip()
    if not content:
        return {"fingerprints", "text", "gate", "group_counts",
                "accounting", "embeddings"}
    return set(content.split(","))


def _read_stale(spark, state_dir: str) -> set[str]:
    path = f"{state_dir}/{_STALE_MARKER}"
    if not _table_exists(spark, path):
        return set()
    content = _read_text_file(spark, path).strip()
    return set(content.split(",")) if content else set()


def _clear_stale(spark, state_dir: str, rebuilt: set[str]) -> None:
    """Drop rebuilt entries from the stale-sketches marker."""
    remaining = _read_stale(spark, state_dir) - rebuilt
    path = f"{state_dir}/{_STALE_MARKER}"
    if remaining:
        _write_text_file(spark, path, ",".join(sorted(remaining)))
    else:
        _delete_path(spark, path)


def _drop_ids(df: DataFrame, id_col: str, bad_ids: DataFrame) -> DataFrame:
    """Anti-join ``df`` against a one-column frame of ids to remove."""
    return df.join(
        bad_ids.select(F.col(bad_ids.columns[0]).alias("_bad")),
        F.col(id_col) == F.col("_bad"),
        "left_anti",
    )


def _survivor_embeddings(
    embeddings: DataFrame, surv: DataFrame, id_col: str, embedding_col: str
) -> DataFrame:
    """``(id_col, embedding_col)`` of the embeddings whose document is
    among the survivors ``surv``."""
    return embeddings.select(
        F.col(id_col).alias("_eid"), F.col(embedding_col)
    ).join(
        surv.select(F.col(id_col).alias("_eid")), "_eid", "left_semi",
    ).select(F.col("_eid").alias(id_col), embedding_col)


def _write_state_tables(
    spark,
    state_dir: str,
    surv: DataFrame,
    *,
    mode: str,
    text_col: str,
    id_col: str,
    text_method: str,
    n: int,
    num_perm: int,
    threshold: float,
    scores: DataFrame | None = None,
    score_col: str = "quality_score",
    write_gate: bool = False,
    group_cap_col: str | None = None,
    accounting_col: str | None = None,
    embeddings: DataFrame | None = None,
    embedding_col: str = "embedding",
    nlist: int | None = None,
    seed: int = 42,
    include: set[str] | None = None,
    sig_frames: dict | None = None,
) -> set[str]:
    """THE survivors→state-table mapping, shared by
    :func:`ingest_batch`'s append section, :func:`rebuild_state`'s
    writer section and :func:`rebuild_sketch_states` — one
    implementation of (plane → writer, policy → writer), so the
    routes cannot drift (the same drift class the shared
    ``eligibility_filter`` retired for the gate/cap logic in round 8).

    ``include`` restricts which coverage planes are written (names
    from :func:`_required_planes`; None = every plane the options
    enable) — the targeted-repair path writes only the kilobyte
    policy/sketch tables without touching the text/embedding planes.

    ``mode``: ``"overwrite"`` rewrites every table (a bootstrap batch
    or a rebuild); ``"append"`` adds the batch's rows (the ingest loop)
    — the ngram plane appends through
    :func:`~hadoop__spark.operators.dedup.ngram_append_index` (frozen
    df-order) and the IVF index through
    :func:`~hadoop__spark.operators.similarity.ivf_append_index`
    (frozen centroids) when an index exists; ``"overwrite"`` (re-)fits
    both.

    ``surv`` must already be MATERIALIZED (both callers read it back
    from a written snapshot) — every writer below scans it, and a lazy
    chain would re-run the whole dedup per table.

    ``sig_frames`` is :func:`ingest_batch`'s per-batch signature
    staging (the plane's ``sign`` step, see :class:`_Plane`), computed
    once at the batch's own ``n``/``num_perm`` and possibly covering a
    SUPERSET of the survivors; when given, the text plane writes the
    frames semi-joined to ``surv`` instead of re-tokenizing and
    re-hashing the survivor text (the rebuild paths omit it and keep
    the from-text route).

    Returns the set of coverage-marker plane names actually written
    (``"embeddings"`` is claimed even when zero survivors carried a
    vector — a replay would find nothing to add either, so coverage
    is vacuously true and the index bootstraps on a later batch).
    """
    if mode not in ("overwrite", "append"):
        raise ValueError(f"unknown state-writer mode {mode!r}")

    def _on(plane: str) -> bool:
        return include is None or plane in include

    # each plane's writer is an independent job (or short job chain)
    # over the same materialized snapshot, touching a disjoint table —
    # collected here and submitted CONCURRENTLY below.  Driver threads
    # overlap the per-job scheduling latency that dominates small
    # batches and the write I/O that dominates large ones; the crash
    # contract is unchanged (any subset may have committed when a run
    # dies — exactly as with sequential appends — and only the commit
    # marker, written by the caller after ALL writers return, declares
    # the batch durable; a marker-less snapshot still refuses replay
    # and repairs through rebuild_state).
    writers: list[tuple[str, object]] = []
    if group_cap_col is not None and _on("group_counts"):
        # the survivors' per-group admitted counts — the cap state
        # counts what the corpus retains, not what was offered
        def _w_group_counts():
            (
                surv.groupBy(group_cap_col)
                .agg(F.count("*").cast("bigint").alias("n_admitted"))
                .write.mode(mode)
                .parquet(f"{state_dir}/group_counts")
            )

        writers.append(("group_counts", _w_group_counts))
    if write_gate and _on("gate"):
        if scores is None:
            raise ValueError("gate state needs a scores frame")
        # the SURVIVORS' score sketch: the gate state tracks the
        # distribution of what the corpus actually retains (collapse
        # to one row per id first — idempotent when already collapsed)
        def _w_gate():
            surv_scores = (
                scores.groupBy(id_col)
                .agg(F.max(score_col).alias(score_col))
                .join(
                    surv.select(F.col(id_col).alias("_sid")),
                    F.col(id_col) == F.col("_sid"),
                    "left_semi",
                )
            )
            score_sketch(surv_scores, score_col=score_col).write.mode(
                mode
            ).parquet(f"{state_dir}/score_sketches")

        writers.append(("gate", _w_gate))
    if accounting_col is not None and _on("accounting"):
        # kilobytes per group, merged at read time; cache=False so a
        # daily loop leaves no CacheManager residency behind (the base
        # frame is batch-sized; tokenizing twice is cheaper than a leak)
        def _w_acct_stats():
            corpus_stats_sketch(
                surv, group_cols=[accounting_col], text_col=text_col,
                id_col=id_col, cache=False,
            ).write.mode(mode).parquet(
                f"{state_dir}/accounting/stats"
            )

        def _w_acct_overlap():
            overlap_sketch(
                surv, group_col=accounting_col, text_col=text_col
            ).write.mode(mode).parquet(
                f"{state_dir}/accounting/overlap"
            )

        writers.append(("accounting", _w_acct_stats))
        writers.append(("accounting", _w_acct_overlap))
    if _on("fingerprints"):
        def _w_fingerprints():
            fingerprint_write(
                surv, state_dir, text_col, id_col, mode=mode
            )

        writers.append(("fingerprints", _w_fingerprints))
    if _on("text"):
        plane = _PLANES[text_method]

        def _w_text():
            plane.write(
                spark, f"{state_dir}{plane.sub}", surv, sig_frames, mode,
                text_col=text_col, id_col=id_col, n=n, num_perm=num_perm,
                threshold=threshold,
            )

        writers.append(("text", _w_text))
    if embeddings is not None and _on("embeddings"):
        ivf_path = f"{state_dir}/ivf"

        def _w_embeddings():
            emb = _survivor_embeddings(embeddings, surv, id_col, embedding_col)
            if mode == "append" and _table_exists(
                spark, f"{ivf_path}/centroids"
            ):
                ivf_append_index(
                    spark, ivf_path, emb, vec_col=embedding_col,
                    id_col=id_col,
                )
            else:
                n_emb = emb.count()
                if n_emb:
                    fit_nlist = nlist or _default_nlist(n_emb)
                    ivf_write_index(
                        emb, ivf_path, nlist=fit_nlist,
                        vec_col=embedding_col, id_col=id_col, seed=seed,
                    )
                # n_emb == 0: no embedded survivors to fit on — leave
                # the index unwritten; a later batch with embeddings
                # bootstraps

        writers.append(("embeddings", _w_embeddings))
    if len(writers) == 1:
        writers[0][1]()
    elif writers:
        from concurrent.futures import ThreadPoolExecutor

        # Spark job submission is thread-safe under pinned-thread
        # mode (PYSPARK_PIN_THREAD, the default since Spark 3.2: each
        # Python thread gets its own JVM thread — and no job-group /
        # local properties are set here, so even unpinned mode only
        # risks property interleaving we don't rely on); every writer
        # reads the shared materialized snapshot and writes its own
        # table, so there is no cross-writer ordering to preserve.
        # The pool's exit joins every thread; ALL failures are then
        # collected — a shared cause (say a filesystem outage) hits
        # every plane at once, and surfacing only the list-order first
        # would hide the real picture — and the first is re-raised
        # with the others attached as notes.  A failed batch never
        # reaches the commit marker.
        with ThreadPoolExecutor(max_workers=len(writers)) as pool:
            futures = [
                (plane, pool.submit(fn)) for plane, fn in writers
            ]
        errs = []
        for plane, fut in futures:
            if fut.exception() is not None:
                errs.append((plane, fut.exception()))
        if errs:
            first = errs[0][1]
            for plane, e in errs[1:]:
                note = (
                    f"concurrent state writer {plane!r} also failed: "
                    f"{type(e).__name__}: {e}"
                )
                # BaseException.add_note is 3.11+; PySpark supports
                # 3.9+ — never let the diagnostic path itself raise.
                if hasattr(first, "add_note"):
                    first.add_note(note)
                else:  # pragma: no cover - py<3.11 only
                    import logging

                    logging.getLogger(__name__).error(note)
            raise first
    return {plane for plane, _ in writers}


def ingest_batch(
    spark,
    state_dir: str,
    batch: DataFrame,
    batch_name: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    text_method: str = "minhash",
    threshold: float = 0.8,
    n: int = 3,
    num_perm: int = 64,
    bands: int = 16,
    max_bucket: int = 1000,
    max_hamming: int = 6,
    n_chunks: int = 4,
    scores: DataFrame | None = None,
    score_col: str = "quality_score",
    keep_frac: float | None = None,
    unscored: str = "drop",
    benchmark: DataFrame | None = None,
    group_cap: tuple[str, int] | None = None,
    embeddings: DataFrame | None = None,
    embedding_col: str = "embedding",
    semantic_threshold: float = 0.95,
    nlist: int | None = None,
    n_assign: int = 2,
    assign: str = "jvm",
    seed: int = 42,
    checkpoint_dir: str | None = None,
    accounting_col: str | None = None,
    on_existing: str = "fail",
    allow_policy_change: bool = False,
) -> DataFrame:
    """Ingest one document batch against the persisted dedup state
    under ``state_dir``, returning the batch's SURVIVING rows (already
    appended to the state and materialized at
    ``{state_dir}/batches/{batch_name}``).

    The first call bootstraps: no state exists, so the batch is
    self-deduped and becomes the initial state
    (:func:`~hadoop__spark.operators.dedup.fingerprint_write` +
    :func:`~hadoop__spark.operators.dedup.minhash_write_signatures`,
    plus :func:`~hadoop__spark.operators.similarity.ivf_write_index`
    when ``embeddings`` is given).  Every later call runs the
    three-plane incremental filter — exact fingerprints, MinHash
    near-dups, IVF semantic near-dups, each O(batch) against the
    state, never O(corpus²) — then self-dedups the remainder and
    APPENDS its survivors to each state table.

    Keeper policy: first arrival wins ACROSS batches — a new document
    that duplicates anything already ingested is dropped, because the
    indexed copy is already published downstream and cannot be
    recalled.  ``scores`` therefore only arbitrates WITHIN a batch
    (routed to the quality-aware keepers of
    :func:`~hadoop__spark.operators.dedup.dedup_corpus` /
    :func:`~hadoop__spark.operators.dedup.semantic_dedup`).

    ``keep_frac`` (requires ``scores``) adds the incremental quality
    gate: the batch is filtered against the ``(1 - keep_frac)``
    quantile of the CORPUS-SO-FAR's retained score distribution, read
    from the KLL state at ``{state_dir}/score_sketches``
    (:func:`~hadoop__spark.operators.corpus.keep_top_fraction_from_sketch`
    — historical scores are never rescanned; the bootstrap batch
    gates against its own distribution).  ``unscored`` sets the
    policy for batch documents with no score row (``"drop"``
    default / ``"keep"``), mirroring
    :func:`~hadoop__spark.operators.corpus.prepare_corpus`.  The
    SURVIVORS' score sketch is appended to the state, so the gate
    always reflects what the corpus actually retains.

    ``benchmark`` decontaminates the batch first
    (:func:`~hadoop__spark.operators.corpus.decontaminate` —
    stateless, the eval set broadcasts).  ``group_cap=(col, k)``
    enforces ``k`` documents per ``col`` value across the WHOLE
    retained corpus: per-group admitted counts persist at
    ``{state_dir}/group_counts``, and a batch may only fill each
    group's remaining slots (best-scored first when ``scores`` is
    given, ascending id otherwise — first-arrival priority across
    batches, same as the dedup planes).  The cap runs before the
    within-batch dedup, mirroring
    :func:`~hadoop__spark.operators.corpus.prepare_corpus`'s stage
    order, so a group may end under-filled when cap survivors turn
    out to be duplicates — the cap bounds volume, it does not
    guarantee fill.  Both gate states (score sketches, group counts)
    accrue ONLY on calls that pass the corresponding option, so the
    bootstrap call's choices are PERSISTED at ``{state_dir}/policy``
    and a later call that drops or changes them is REFUSED with the
    stored values named (same stored-meta pattern as ``text_method``
    and the ngram parameters) — silent policy drift is the
    state-under-count class this retires.  Enforced: ``text_method``,
    ``n``, ``num_perm``, ``threshold``, gate presence
    (``keep_frac is not None``), ``group_cap`` column and k,
    ``accounting_col``, embeddings presence.  Probe-time knobs
    (``bands``, ``max_hamming``, ``n_chunks``,
    ``semantic_threshold``) are recorded but free to vary.  Pass
    ``allow_policy_change=True`` for a DELIBERATE policy change: the
    stored policy is rewritten to this call's values and earlier
    batches remain governed by the old one (their state rows are not
    revised — rebuild for a uniform re-application).  With
    ascending ids across batches this matches the from-scratch
    min-id keeper exactly (tested); with out-of-order ids the
    surviving SET differs only by which clique member represents
    each duplicate group.

    Scale shape: the batch is the small side everywhere — the exact
    filter is one anti-join on a 16-byte digest, the MinHash probe
    joins the batch's band table against the stored one (cost ∝ batch
    bucket memberships), the semantic probe partition-prunes the IVF
    index to the batch's bucket set, and the survivors are written to
    ``{state_dir}/batches/{batch_name}`` BEFORE the state appends, so
    the appends and the returned frame all scan that table instead of
    re-deriving the filter chain (and no state table is ever read and
    appended in the same job).  The probe-filtered rows themselves
    are staged once at ``tmp/{batch_name}_eligible`` before the
    within-batch dedup, so the probe chain executes exactly once per
    batch — the within-batch pair materialization and the snapshot
    write read the staging, not the chain (the dominant slice of the
    fixed per-micro-batch floor; tools/ingest_profile.py).  On the
    minhash and simhash planes the batch's signature frames are
    likewise staged once at ``tmp/{batch_name}_sigs`` and reused by
    the cross-corpus probe, the within-batch pairing, and the plane
    append — one tokenize+hash pass per batch instead of three, at
    ANY batch size (the ngram plane keeps the from-text route: its
    frozen df-order append contract is not worth entangling for a
    hash-free recompute).
    Within-batch semantic dedup fits its own centroids on the (small)
    batch; cross-batch probing always uses the index's frozen
    centroids.

    ``text_method`` picks the near-dup TEXT plane: ``"minhash"``
    (default — LSH-banded Jaccard at ``threshold``), ``"simhash"``
    (Hamming ≤ ``max_hamming`` over ``n_chunks`` chunk buckets,
    :func:`~hadoop__spark.operators.dedup.simhash_pairs_between`), or
    ``"ngram"`` (EXACT prefix-filtered Jaccard at ``threshold``,
    :func:`~hadoop__spark.operators.dedup.ngram_jaccard_pairs_between`
    against a frozen-df index that appends per batch).  The method is
    fixed at the corpus's bootstrap — each plane keeps its own state
    layout (minhash at the state root, ``{state_dir}/simhash``,
    ``{state_dir}/ngram``) and a later call with a different method is
    refused rather than silently probing a plane that holds none of
    the corpus.  The exact-fingerprint plane and the optional
    embedding plane run regardless of the choice.

    ``n``/``num_perm``/``threshold`` must match the stored state
    across calls: the policy check refuses a mismatch before any
    compute, and so does the stored-plane check (the minhash
    signatures' ``num_perm``, the ngram meta's ``n`` and
    ``threshold``) whenever a call adopts or rewrites the policy — so
    a refused call leaves the stored policy as it was; ``nlist`` sizes
    the bootstrap IVF fit
    (default: the faiss ``max(16, 4√N)`` rule via
    :func:`~hadoop__spark.operators.dedup.semantic_dedup`'s sizing).

    ``accounting_col`` keeps the corpus-accounting state current
    without ever rescanning retained text: each batch appends its
    SURVIVORS' per-group sketch rows —
    :func:`~hadoop__spark.operators.corpus.corpus_stats_sketch` (HLL
    content/vocab) at ``{state_dir}/accounting/stats`` and
    :func:`~hadoop__spark.operators.corpus.overlap_sketch` (theta) at
    ``{state_dir}/accounting/overlap``.  Read them back through the
    standard mergers
    (:func:`~hadoop__spark.operators.corpus.merge_corpus_stats` →
    :func:`~hadoop__spark.operators.corpus.corpus_stats`;
    :func:`~hadoop__spark.operators.corpus.merge_overlap_sketches` →
    :func:`~hadoop__spark.operators.corpus.corpus_overlap`) — merged
    shard estimates equal the single-pass estimate exactly, so the
    dashboard numbers match a from-scratch scan of the retained
    corpus (tested).  Like the other policy states, the accounting
    accrues only on calls that pass the option — use it on every
    batch of a corpus or the state under-counts.

    ``on_existing`` governs a replayed ``batch_name`` (default
    ``"fail"`` — loud).  ``"skip"`` is the foreachBatch exactly-once
    mode: a retried micro-batch re-runs with the SAME batch_id, and a
    batch whose commit marker exists (written as the loop's last
    step, after every state append) returns its stored survivors
    without touching state; a snapshot WITHOUT the marker crashed
    mid-append and still refuses — :func:`rebuild_state` restores the
    markers it re-covers.

    Durability note: each state append is atomic per table (parquet
    commit protocol), but the appends are NOT atomic as a group — a
    crash between them leaves the state tables at different batch
    frontiers.  Recovery is :func:`rebuild_state`: every
    ``{state_dir}/batches/*`` is an immutable survivors snapshot
    (written BEFORE any state append, so the snapshot always covers
    at least what the state tables saw), and the writers re-run over
    their union with ``mode="overwrite"`` (chaos-tested in
    tests/test_ingest.py).  At 100 TB wrap the appends in the
    lakehouse transaction layer of the deployment instead.  The call
    refuses while a maintenance verb holds the lock, and while a
    crashed verb's COMMITTED journal stage is pending (run
    :func:`fsck_state`): its table replacements must land before any
    append, or replaying them later would drop the appended rows.
    """
    if on_existing not in ("fail", "skip"):
        raise ValueError(
            f"on_existing must be 'fail' or 'skip', got {on_existing!r}"
        )
    plane = _plane(text_method)
    from hadoop__spark.operators.dedup import release_probe_caches

    # the whole run holds the in-progress marker, refused while a
    # maintenance verb holds its lock: a compact/retract would
    # delete-and-swap the tables this ingest reads and appends
    flag = _advisory_flag(spark, state_dir, _INGEST_MARKER, _MAINT_LOCK)
    with flag, ExitStack() as done:
        # on the way out, before the marker goes, release the probe
        # caches THIS call accumulated: the survivors and every state
        # append are already durable (the returned frame reads the
        # snapshot, not the probe chain), and CacheManager entries
        # otherwise accrue per batch — every query compile scans all
        # of them, so a long-lived streaming driver slows down per
        # micro-batch (measured 20 s → 87 s per identical batch over
        # 120 ingests; tools/cadence_rehearsal.py).  Scoped to THIS
        # session: another session's pipeline keeps its own caches.
        done.callback(release_probe_caches, spark)
        committed = _stages(spark, state_dir)[0]
        if committed:
            # a crashed maintenance verb committed but did not finish:
            # its whole-table mv ops would replace whatever this
            # ingest appends, so nothing appends until it is replayed
            raise RuntimeError(
                f"state at {state_dir} has committed maintenance "
                f"stage(s) {committed} pending — run fsck_state to "
                "finish them, then retry"
            )
        batch_path = f"{state_dir}/batches/{batch_name}"
        if _table_exists(spark, batch_path):
            # fail FAST (before any dedup compute): a reused name would
            # overwrite this staging table while the earlier run's
            # state appends remain — a silent double-append.  With
            # on_existing="skip" a COMMITTED batch (marker present =
            # every state append finished) is returned as-is — the
            # idempotent no-op a foreachBatch retry needs — provided
            # the marker's coverage includes every plane THIS call's
            # options touch; a snapshot WITHOUT the marker crashed
            # mid-append and still refuses (replaying it would
            # double-append — run rebuild_state first).
            covered = (
                _read_commit_marker(spark, batch_path)
                if on_existing == "skip"
                else None
            )
            if covered is None:
                raise ValueError(
                    f"batch {batch_name!r} was already ingested into "
                    f"{state_dir} (staging table exists"
                    + (
                        " without a commit marker — it crashed "
                        "mid-append; rebuild_state, then re-ingest under "
                        "a new name)"
                        if on_existing == "skip"
                        else "); pick a new name, or pass "
                        "on_existing='skip' for idempotent stream replays"
                    )
                )
            missing = _required_planes(
                keep_frac is not None,
                group_cap[0] if group_cap is not None else None,
                accounting_col,
                embeddings is not None,
            ) - covered
            if missing:
                raise ValueError(
                    f"batch {batch_name!r} is committed covering planes "
                    f"{sorted(covered)}, but this replay also needs "
                    f"{sorted(missing)} — those state tables are missing "
                    "the batch's rows (a rebuild omitted the input); "
                    "rebuild_state with the full inputs first"
                )
            return spark.read.parquet(batch_path)
        bootstrap = not _table_exists(spark, f"{state_dir}/fingerprints")
        # persisted-policy consistency — fail FAST, before any compute
        # (see the docstring's policy paragraph; _POLICY_ENFORCED lists
        # the refused fields)
        pol = _policy(
            text_method, n, num_perm, threshold, keep_frac is not None,
            group_cap, accounting_col, embeddings is not None,
            max_hamming=int(max_hamming), n_chunks=int(n_chunks),
            bands=int(bands), semantic_threshold=float(semantic_threshold),
        )
        stored, drift = None, []
        if not bootstrap:
            stored = _read_policy(spark, state_dir)
            if stored is not None:
                drift = _policy_drift(stored, pol)
            # the stored plane is checked before any policy write; its
            # parameters are read only when this call adopts or
            # rewrites the policy — an unchanged stored policy already
            # vouches for them (a minhash schema read is a Spark job)
            _check_stored_plane(
                spark, state_dir, text_method, n, num_perm, threshold,
                params=stored is None or bool(drift),
            )
            if drift and not allow_policy_change:
                raise ValueError(
                    f"ingest policy drift on {state_dir} — "
                    + "; ".join(drift)
                    + " — match the stored policy, or pass "
                    "allow_policy_change=True for a deliberate change "
                    "(earlier batches stay governed by the old policy)"
                )
        if stored is None or drift:
            # bootstrap, a pre-policy legacy state adopting this call's
            # parameters (enforced from the next call on), or a
            # deliberate change
            _write_policy(spark, state_dir, pol)
        if scores is not None:
            # one row per id (same collapse as prepare_corpus):
            # duplicate score rows would fan out the group-cap rank
            # join — a doc occupying several rank slots starves its
            # group — and double-count in the persisted score sketch
            scores = scores.groupBy(id_col).agg(
                F.max(score_col).alias(score_col)
            )
        fresh = batch
        if benchmark is not None:
            fresh = decontaminate(fresh, benchmark, text_col, id_col)
        if not bootstrap:
            # plane 1: exact copies of anything already ingested
            fresh = fingerprint_filter_new(
                spark, state_dir, fresh, text_col, id_col
            )
        knobs = dict(
            text_col=text_col, id_col=id_col, n=n, num_perm=num_perm,
            threshold=threshold, bands=bands, max_bucket=max_bucket,
            max_hamming=max_hamming, n_chunks=n_chunks,
        )
        # sign the batch ONCE: the cross-corpus probe, the within-batch
        # pairing and the end-of-batch plane append all reuse these
        # parquet-backed frames — one tokenize→shingle→hash pass per
        # batch instead of three (frames computed here and semi-joined
        # down to each stage's surviving ids equal frames recomputed on
        # the subset).  Deleted with the other staging once the batch
        # commits; a crashed run's copy is swept by fsck_state (never
        # while an ingest is live — the in-progress-marker guard).
        sigs = f"{state_dir}/tmp/{batch_name}_sigs"
        frames = plane.sign(spark, fresh, sigs, **knobs)
        if not bootstrap:
            # plane 2: near-dups of the indexed corpus, probed on the
            # state's text plane (each probe's exactness claim — equal
            # to the cross-corpus slice of a full self-pairing — is its
            # own docstring's and test's)
            cross = plane.probe(
                spark, f"{state_dir}{plane.sub}", fresh, frames, **knobs
            )
            fresh = _drop_ids(
                fresh, id_col, cross.select("id_new").distinct()
            )

        sketch_path = f"{state_dir}/score_sketches"
        counts_path = f"{state_dir}/group_counts"
        if keep_frac is not None or group_cap is not None:
            state_sk = None
            if keep_frac is not None:
                if scores is None:
                    raise ValueError("keep_frac needs a scores frame")
                # gate against the corpus-so-far's retained
                # distribution; the bootstrap batch (no state yet)
                # gates against its own — the scores of its ELIGIBLE
                # rows (semi-joined to the decontaminated batch, not
                # the whole caller-supplied frame, which may span the
                # corpus or score-correlated dropped docs)
                state_sk = (
                    spark.read.parquet(sketch_path)
                    if _table_exists(spark, sketch_path)
                    else score_sketch(
                        scores.select(id_col, score_col).join(
                            fresh.select(id_col), id_col, "left_semi"
                        ),
                        score_col=score_col,
                    )
                )
            # the shared eligibility stage (KLL-state cutoff,
            # remaining-slots cap against the persisted admitted counts)
            fresh = eligibility_filter(
                fresh,
                id_col,
                scores,
                score_col,
                keep_frac=keep_frac,
                unscored=unscored,
                gate_sketches=state_sk,
                group_cap=group_cap,
                used_counts=(
                    spark.read.parquet(counts_path)
                    if group_cap is not None
                    and _table_exists(spark, counts_path)
                    else None
                ),
            )

        # materialize the probe-filtered rows ONCE before the
        # within-batch dedup: dedup_clusters eagerly materializes its
        # edge list (the within-batch pair DAG) and the snapshot write
        # below executes the survivors plan — both have the whole probe
        # chain (3 plane anti-joins + the gate) as their upstream, so
        # without this staging that chain runs two-plus times per
        # batch.  One batch-sized parquet write buys single-execution
        # of every probe (measured: ~30% of the fixed per-micro-batch
        # job floor, tools/ingest_profile.py); deleted with the other
        # staging below, swept by fsck_state after a crash.
        eligible_path = f"{state_dir}/tmp/{batch_name}_eligible"
        fresh.write.mode("overwrite").parquet(eligible_path)
        fresh = spark.read.parquet(eligible_path)

        # within-batch dedup: exact FIRST (minhash pairs do NOT subsume
        # exact copies of texts shorter than the shingle order —
        # zero-shingle rows never enter the LSH — and a capped hot
        # bucket can drop identical-text pairs), then near-dup on the
        # exact survivors.  The published corpus and the fingerprint
        # table stay one-row-per-text consistent.
        surv = dedup_corpus(fresh, text_col, id_col, method="fingerprint")
        surv = dedup_corpus(
            surv,
            text_col,
            id_col,
            pairs=plane.pairs(spark, surv, frames, eligible_path, **knobs),
            scores=scores,
            score_col=score_col,
            checkpoint_dir=checkpoint_dir,
        )

        ivf_path = f"{state_dir}/ivf"
        text_surv_path = None
        if embeddings is not None:
            # materialize the text-plane survivors BEFORE the semantic
            # stage: semantic_dedup runs several independent actions
            # (sizing count, centroid-fit sample, assignment, pairing),
            # each of which would otherwise re-derive the whole lazy
            # filter chain — including the minhash self-join
            text_surv_path = f"{state_dir}/tmp/{batch_name}_text_survivors"
            surv.write.mode("overwrite").parquet(text_surv_path)
            surv = spark.read.parquet(text_surv_path)
            emb = _survivor_embeddings(embeddings, surv, id_col, embedding_col)
            if _table_exists(spark, f"{ivf_path}/centroids"):
                # plane 3: semantic near-dups of the indexed corpus
                # (frozen-centroid assignment, partition-pruned probe)
                cross_e = embedding_pairs_against_index(
                    spark,
                    ivf_path,
                    emb,
                    embedding_col,
                    id_col,
                    threshold=semantic_threshold,
                    n_assign=n_assign,
                    assign=assign,
                )
                dup_e = cross_e.select("id_new").distinct()
                surv = _drop_ids(surv, id_col, dup_e)
                emb = _drop_ids(emb, id_col, dup_e)
            # within-batch semantic dedup (fits its own centroids on
            # the small batch; scores arbitrate keepers as in
            # dedup_corpus)
            kept_e = semantic_dedup(
                emb,
                vec_col=embedding_col,
                id_col=id_col,
                threshold=semantic_threshold,
                nlist=nlist,
                n_assign=n_assign,
                seed=seed,
                scores=scores,
                score_col=score_col,
                checkpoint_dir=checkpoint_dir,
                assign=assign,
            )
            sem_dropped = emb.select(id_col).join(
                kept_e.select(F.col(id_col).alias("_k")),
                F.col(id_col) == F.col("_k"),
                "left_anti",
            )
            surv = _drop_ids(surv, id_col, sem_dropped.select(id_col))

        # materialize the survivors ONCE; everything below (the state
        # appends + the returned frame) scans this table instead of
        # re-running the filter chain — and the fingerprint append no
        # longer reads the table it writes
        surv.write.mode("overwrite").parquet(batch_path)
        if text_surv_path is not None:
            # the text-survivors staging table fed the semantic stage
            # and the batch_path write above; done with it — without
            # this, the tmp dir accrues one survivors copy per batch
            _delete_path(spark, text_surv_path)
        _delete_path(spark, eligible_path)
        surv_m = spark.read.parquet(batch_path)

        covered = _write_state_tables(
            spark,
            state_dir,
            surv_m,
            mode="overwrite" if bootstrap else "append",
            text_col=text_col,
            id_col=id_col,
            text_method=text_method,
            n=n,
            num_perm=num_perm,
            threshold=threshold,
            scores=scores,
            score_col=score_col,
            write_gate=keep_frac is not None,
            group_cap_col=group_cap[0] if group_cap is not None else None,
            accounting_col=accounting_col,
            embeddings=embeddings,
            embedding_col=embedding_col,
            nlist=nlist,
            seed=seed,
            sig_frames=frames,
        )
        # LAST step: the batch's commit marker — every state append
        # above completed, so an on_existing="skip" replay may safely
        # no-op; the marker content records WHICH planes it covers
        _write_commit_marker(spark, batch_path, covered)
        if frames is not None:
            # the staged signature frames fed the probe, the
            # within-batch pairing, and the plane append — all durable
            _delete_path(spark, sigs)
        return surv_m


def _rebuild_params(
    spark, state_dir: str, pol: dict | None, text_method: str | None,
    n: int | None, num_perm: int | None, threshold: float | None,
) -> tuple[str, int, int, float]:
    """Resolve and check the rebuild's structural parameters — shared
    by :func:`rebuild_state` and, BEFORE its first destructive
    snapshot rewrite, :func:`retract_documents`, so a wrong value
    refuses while the state is still intact.  Explicit values win but
    are REFUSED when they contradict the stored policy (a wrong value
    would rebuild the wrong plane shape and strand the real state
    stale); omitted values default from the policy, then the detected
    plane layout, then the ingest defaults (legacy pre-policy states).
    Then the stored-plane check runs against the surviving state
    tables: after a crash the plane tables may be behind, but their
    layout markers survive — only a state dir with NO recognizable
    plane skips it."""
    detected = _detect_plane(spark, state_dir)
    defaults = {
        "text_method": detected or "minhash",
        "n": 3,
        "num_perm": 64,
        "threshold": 0.8,
    }
    resolved = []
    for name, explicit in (
        ("text_method", text_method),
        ("n", n),
        ("num_perm", num_perm),
        ("threshold", threshold),
    ):
        stored = pol.get(name) if pol is not None else None
        if explicit is None:
            explicit = stored if stored is not None else defaults[name]
        elif stored is not None and not _same(stored, explicit):
            raise ValueError(
                f"rebuild with {name}={explicit!r} contradicts the stored "
                f"ingest policy ({name}={stored!r}) — omit it to use the "
                "stored value, or fix the call"
            )
        resolved.append(explicit)
    _plane(resolved[0])
    if detected is not None:
        _check_stored_plane(spark, state_dir, *resolved)
    return tuple(resolved)


def rebuild_state(
    spark,
    state_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    text_method: str | None = None,
    n: int | None = None,
    num_perm: int | None = None,
    threshold: float | None = None,
    scores: DataFrame | None = None,
    score_col: str = "quality_score",
    group_cap_col: str | None = None,
    embeddings: DataFrame | None = None,
    embedding_col: str = "embedding",
    nlist: int | None = None,
    seed: int = 42,
    accounting_col: str | None = None,
) -> DataFrame:
    """Rebuild the ingest state under ``state_dir`` from its immutable
    per-batch survivors snapshots (``{state_dir}/batches/*``) — the
    crash-recovery recipe of :func:`ingest_batch`'s durability note,
    as code.

    :func:`ingest_batch` materializes each batch's survivors BEFORE
    any state append, so after a crash between appends the snapshots
    are the single source of truth: this re-runs every writer over
    their union with ``mode="overwrite"``, producing the state a
    crash-free run would hold (signature/fingerprint tables equal
    row-for-row — chaos-tested).  A snapshot directory without a
    parquet ``_SUCCESS`` marker is a batch that crashed DURING its
    own materialization — before any state append ran — so it was
    never ingested: the partial directory is deleted (freeing the
    batch name for a clean re-ingest) and excluded from the rebuild.

    ``text_method``/``n``/``num_perm``/``threshold`` default from the
    persisted ingest policy (``{state_dir}/policy``) — omit them and
    the rebuild uses exactly what the corpus was bootstrapped with;
    an explicit value that CONTRADICTS the stored policy is refused
    (and the layout guards re-check against the surviving state
    tables, so even a legacy pre-policy state refuses a wrong plane).
    ``group_cap_col``/``accounting_col`` also default from the policy
    (their states rebuild from the snapshots alone).  A crashed
    maintenance verb's journal stage is replayed or swept first
    (:func:`fsck_state`'s body) and a crashed ingest's in-progress
    marker is cleared — this IS the recovery path a crashed ingest
    points at.

    The external-input states rebuild only when their inputs are
    supplied, since survivors snapshots hold documents, not scores:
    ``scores`` (a corpus-wide ``(id, score)`` frame) rebuilds
    ``score_sketches`` — one consolidated sketch row
    whose quantiles equal the incrementally-appended state's (exactly
    below the sketch's exact regime, within rank error above);
    ``group_cap_col`` rebuilds ``group_counts`` (same per-group totals,
    consolidated to one row per group); ``embeddings`` rebuilds the
    IVF index over the surviving vectors — with freshly fitted
    centroids (often better than the bootstrap batch's frozen ones;
    probe exactness needs only internal consistency, so subsequent
    :func:`ingest_batch` calls compose as before);
    ``accounting_col`` rebuilds the accounting sketches (no external
    input needed — the snapshots hold the documents; the consolidated
    rows are merge-equivalent to the per-batch ones).  Omitting an
    input leaves that state table untouched — rebuild it later or
    accept the documented accrual caveat.

    Returns the unioned survivors frame (read back from the
    snapshots).
    """
    # clear a crashed ingest's in-progress marker FIRST (rebuild IS
    # the recovery path that marker's error message points to — and
    # fsck skips the ingest-staging sweep while the marker stands),
    # then replay or sweep a crashed maintenance verb's journal stage
    # (a committed retraction's snapshot surgery must land before the
    # snapshots are unioned).
    # The LOCKED fsck body, not the public wrapper: rebuild is the
    # operator-initiated recovery verb, documented to run on a
    # quiesced state — it must repair past a STALE maintenance lock
    # (the crash that warrants the rebuild may have left one), and
    # retract_documents(mode="rebuild") calls it while already
    # holding the lock (the wrapper would refuse on our own lock)
    _delete_path(spark, f"{state_dir}/{_INGEST_MARKER}")
    _fsck_state_locked(spark, state_dir)
    pol = _read_policy(spark, state_dir)
    text_method, n, num_perm, threshold = _rebuild_params(
        spark, state_dir, pol, text_method, n, num_perm, threshold
    )
    if group_cap_col is None and pol is not None:
        group_cap_col = pol.get("group_cap_col")
    if accounting_col is None and pol is not None:
        accounting_col = pol.get("accounting_col")
    complete = _complete_snapshots(spark, state_dir)
    for b in _list_child_dirs(spark, f"{state_dir}/batches"):
        if b not in complete:
            _delete_path(spark, b)
    if not complete:
        raise ValueError(
            f"no complete batch snapshots under {state_dir}/batches — "
            "nothing to rebuild from"
        )
    union = _union(spark, complete)
    covered = _write_state_tables(
        spark,
        state_dir,
        union,
        mode="overwrite",
        text_col=text_col,
        id_col=id_col,
        text_method=text_method,
        n=n,
        num_perm=num_perm,
        threshold=threshold,
        scores=scores,
        score_col=score_col,
        write_gate=scores is not None,
        group_cap_col=group_cap_col,
        accounting_col=accounting_col,
        embeddings=embeddings,
        embedding_col=embedding_col,
        nlist=nlist,
        seed=seed,
    )
    if pol is None:
        # pre-policy legacy state: record the rebuild's resolved
        # parameters so later ingests are policy-checked
        _write_policy(spark, state_dir, _policy(
            text_method, n, num_perm, threshold, scores is not None,
            None if group_cap_col is None else (group_cap_col, None),
            accounting_col, embeddings is not None,
        ))
    rebuilt = set()
    if scores is not None:
        rebuilt.add("score_sketches")
    if accounting_col is not None:
        rebuilt.add("accounting")
    _clear_stale(spark, state_dir, rebuilt)
    # after a rebuild the state covers every complete snapshot by
    # construction, so each one is (re-)marked committed — including
    # snapshots whose original ingest crashed mid-append, and
    # retraction-rewritten snapshots whose marker the swap dropped.
    # The marker claims ONLY the planes this rebuild actually wrote:
    # omitted inputs (scores/embeddings) leave those state tables
    # stale, and a claim of coverage would make on_existing="skip"
    # replays no-op over e.g. an IVF index missing the batch's vectors
    for b in complete:
        _write_commit_marker(spark, b, covered)
    return union


def rebuild_sketch_states(
    spark,
    state_dir: str,
    scores: DataFrame | None = None,
    score_col: str = "quality_score",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> dict:
    """Reconsolidate ONLY the policy/sketch state tables from the
    batch snapshots — the targeted repair for the staleness a fast
    retraction leaves (:func:`retract_documents` ``mode="fast"``
    cannot subtract from sketches), without the text-plane re-sign /
    IVF refit a full :func:`rebuild_state` pays.  Cost: column-pruned
    snapshot scans (one tokenizing pass for the accounting sketches);
    no shingling, no signatures, no centroid fit.

    Rebuilt, per the stored policy: ``group_counts`` (consolidated to
    one exact row per group — also collapses the fast path's
    accumulated negative rows), ``accounting/*`` (the snapshots hold
    the documents; no external input needed), and — only when
    ``scores`` is supplied, since snapshots do not hold scores —
    ``score_sketches`` (one consolidated sketch over the retained
    corpus).  The text and embedding planes are NOT touched (the fast
    retraction already deleted their rows exactly) and commit markers
    are left as-is (coverage refusals stay conservative).  Stale
    markers clear for whatever was rebuilt.

    Runs under the maintenance lock: unlike :func:`rebuild_state`
    (the crash-recovery path, which must run even when markers are
    stale), this is a maintenance operation on a HEALTHY state and
    must not race a concurrent ingest's appends.  (The takedown verbs
    call it in-line via ``repair_sketches=True``, inside their own
    lock hold — one call, one lock, healthy end state.)

    Returns ``{"rebuilt": [...], "still_stale": [...]}`` (coverage
    plane names / stale-marker entries).
    """
    pol = _read_policy(spark, state_dir)
    if pol is None:
        raise ValueError(
            f"no ingest policy at {state_dir}/policy — the targeted "
            "sketch rebuild needs it to know which policy states "
            "exist; use rebuild_state for legacy states"
        )
    include = set()
    if pol.get("group_cap_col") is not None:
        include.add("group_counts")
    if pol.get("accounting_col") is not None:
        include.add("accounting")
    if bool(pol.get("has_quality_gate")) and scores is not None:
        include.add("gate")
    if not include:
        return {"rebuilt": [], "still_stale": sorted(_read_stale(spark, state_dir))}
    with _maintenance_lock(spark, state_dir):
        covered = _write_state_tables(
            spark,
            state_dir,
            _read_snapshots_union(spark, state_dir),
            mode="overwrite",
            text_col=text_col,
            id_col=id_col,
            text_method=pol["text_method"],
            n=pol.get("n") or 3,
            num_perm=pol.get("num_perm") or 64,
            threshold=pol.get("threshold") or 0.8,
            scores=scores,
            score_col=score_col,
            write_gate="gate" in include,
            group_cap_col=pol.get("group_cap_col"),
            accounting_col=pol.get("accounting_col"),
            include=include,
        )
        rebuilt = set()
        if "gate" in covered:
            rebuilt.add("score_sketches")
        if "accounting" in covered:
            rebuilt.add("accounting")
        _clear_stale(spark, state_dir, rebuilt)
        return {
            "rebuilt": sorted(covered),
            "still_stale": sorted(_read_stale(spark, state_dir)),
        }


def _hits(
    df: DataFrame, key_col: str, retract: DataFrame, vals: list | None,
    tag_file: bool = False,
) -> DataFrame:
    """THE retraction hit discovery: the rows of ``df`` whose
    ``key_col`` is in the retract set (``retract``: the frozen ids, one
    ``_retract`` column; ``vals``: their collected list when bounded).
    A bounded set is a pushed ``IN`` predicate — parquet row-group
    min/max stats skip every file whose key range misses the set, so
    after a key-sorted compaction the scan is ∝ files with hits, not
    the table; otherwise a broadcast semi-join (still column-pruned).

    ``tag_file`` adds each row's file as ``_file``, ABOVE the pushed
    filter (``input_file_name`` is nondeterministic, so a predicate
    above it never reaches the scan's PushedFilters — plan-asserted)
    and BELOW the join (Spark refuses the expression above a plan with
    two file sources, and the frozen ids table is one)."""
    if vals is not None:
        df = df.where(F.col(key_col).isin(vals))
    if tag_file:
        df = df.withColumn("_file", F.input_file_name())
    if vals is not None:
        return df
    return df.join(
        F.broadcast(retract), F.col(key_col) == F.col("_retract"),
        "left_semi",
    )


def _stage_kept(
    spark, state_dir: str, stage: str, rel: str, hit_files: list,
    kept: DataFrame,
) -> list:
    """Stage one file-local surgery on the table or snapshot at
    ``rel``: write the hit files' kept rows to ``{stage}/{rel}``, and
    return an ``mv`` per staged file plus an ``rm`` per hit file."""
    kept.write.mode("overwrite").parquet(f"{state_dir}/{stage}/{rel}")
    return _adopt(spark, state_dir, stage, rel) + [
        ["rm", f"{rel}/{_name(f)}"] for f in hit_files
    ]


def _rewrite_snapshots_without(
    spark, state_dir: str, stage: str, complete: list[str],
    retract: DataFrame, id_col: str, retract_values: list | None = None,
) -> list:
    """Stage the removal of the retracted ids (``retract``: one
    ``_retract`` column) from the COMPLETE batch snapshots
    (``complete``) as FILE-LOCAL surgery: only the parquet files that
    contain a hit are replaced — the snapshot's clean files, its
    ``_SUCCESS`` marker and its commit marker are untouched
    byte-for-byte.  The kept rows of each snapshot's hit files are
    written to ``{stage}/batches/{name}``; returns the journal ops (an
    ``mv`` per staged file, an ``rm`` per hit file).  Nothing under
    ``batches/`` changes until the caller commits.

    File-locality is the 100 TB property that must SURVIVE snapshot
    coalescing: after :func:`coalesce_snapshots` merges a year of
    batches into one right-sized epoch, a 2-document takedown must
    rewrite a couple of 128 MB files, not the epoch (a whole-snapshot
    write-new/swap — the pre-round-10 protocol — would have made
    takedown cost ∝ corpus again, exactly the regression the fast
    path exists to avoid).

    Hit-FILE discovery is ONE scan over every complete snapshot (not
    a probe job per snapshot — at thousands of batches the per-probe
    driver round-trips would dominate a small takedown), through
    :func:`_hits`.  ``mergeSchema`` handles snapshots whose optional columns drifted
    across batches (the same tolerance the rebuild's
    ``unionByName(allowMissingColumns)`` gives).

    Crash-safety: snapshots are the rebuild's source of truth, so
    they tolerate NEITHER lost kept rows nor, once rebuilt from,
    duplicates.  Before the commit nothing is mutated; after it, the
    journal adds the staged files before it deletes the hit files (a
    transient reader sees duplicates, never losses), and
    :func:`rebuild_state` replays a pending stage before it unions
    the snapshots."""
    if not complete:
        return []
    scan = spark.read.option("mergeSchema", "true").parquet(*complete)
    hits = _hits(scan, id_col, retract, retract_values, tag_file=True)
    by_snap: dict[str, list[str]] = {}
    for r in hits.select("_file").distinct().collect():
        # .../batches/{name}/part-….parquet → {name}
        name = r._file.rsplit("/batches/", 1)[1].split("/", 1)[0]
        by_snap.setdefault(name, []).append(r._file)
    ops = []
    for name, files in sorted(by_snap.items()):
        kept = spark.read.parquet(*files).join(
            retract, F.col(id_col) == F.col("_retract"), "left_anti"
        )
        ops += _stage_kept(
            spark, state_dir, stage, f"batches/{name}", files, kept
        )
    return ops


def retract_documents(
    spark,
    state_dir: str,
    ids: DataFrame,
    id_col: str = "doc_id",
    mode: str = "auto",
    repair_sketches: bool = False,
    **rebuild_kwargs,
) -> DataFrame:
    """Remove documents from an ingested corpus — the takedown /
    right-to-be-forgotten operation a long-lived training corpus
    needs.  ``ids`` is a frame with an ``id_col`` column of
    document ids to retract (other columns are ignored).

    The per-batch survivors snapshots are the corpus's source of
    truth, and every mode starts by removing the retracted ids from
    them — FILE-LOCAL surgery that replaces only the parquet files
    containing a hit (discovery is one pushed-IN/semi-join scan;
    clean files, ``_SUCCESS`` and commit markers survive untouched),
    so even a snapshot holding the whole corpus after
    :func:`coalesce_snapshots` costs a couple of file rewrites, not a
    corpus write.  What happens to the STATE tables is the mode:

    * ``"fast"`` (the 100 TB path): plane-local deletes — the
      retracted ids are anti-joined out of ``fingerprints`` and the
      text plane's signature/shingle/prefix tables by rewriting ONLY
      the parquet files that contain a hit (file-local surgery; after
      :func:`compact_state`'s probe-key sort, a small takedown
      touches a handful of files), the IVF index rewrites only the
      centroid partitions holding a retracted vector, and
      ``group_counts`` appends exact NEGATIVE per-group rows.  Cost
      is proportional to the retracted set's file/bucket footprint,
      never the corpus.  The subtract-incapable sketch states
      (``score_sketches``, ``accounting/*``) are left OVERSTATING and
      recorded in the ``_STALE_SKETCHES`` marker —
      :func:`state_summary` reports them and the next
      :func:`rebuild_state` with the matching inputs clears them —
      or pass ``repair_sketches=True`` (below) to end healthy in this
      one call.  The ngram plane's frozen ``doc_freq`` also stays
      (stale df only lengthens prefixes — recall-safe, the
      :func:`~hadoop__spark.operators.dedup.ngram_append_index`
      argument).  Requires a persisted ingest policy (to know the
      plane and cap column); refuses otherwise.
    * ``"rebuild"``: rewrite snapshots, then :func:`rebuild_state`
      over the survivors, forwarding ``rebuild_kwargs`` (``scores``,
      ``embeddings``, … — parameters default from the stored policy).
      The full corpus pass; the fallback when the fast path cannot
      run and the repair for any state the fast path left stale.
    * ``"auto"``: ``"fast"`` when a policy table exists, else
      ``"rebuild"`` (legacy states).

    ``repair_sketches=True`` makes the call END HEALTHY: after the
    fast path's surgeries it runs the targeted sketch repair of
    :func:`rebuild_sketch_states` in-line, under the SAME maintenance
    lock hold — kilobyte-table reconsolidation from the (already
    rewritten) snapshots, no corpus re-sign, no IVF refit — so
    :func:`state_summary` reports nothing stale when the call returns.
    The fast path then accepts the repair's external inputs as
    keyword arguments (``scores`` / ``score_col`` / ``text_col``);
    when a ``score_sketches`` state exists, ``scores`` is REQUIRED
    (refused up-front, before any destructive rewrite — sketches
    cannot subtract, and "repaired" must not silently mean "still
    overstating the gate").  Under ``mode="rebuild"`` the same
    up-front requirement applies and the rebuild itself is the repair.

    Every rebuild parameter and the plane layout are validated BEFORE
    the first destructive snapshot rewrite — a typo'd kwarg or a
    wrong ``text_method``/``num_perm`` refuses while the state is
    still intact instead of stranding retracted ids probe-visible
    after a half-done rewrite.

    Crash safety is the commit journal's: the call runs under the
    maintenance lock, after the lock's fsck pass has replayed any
    crashed verb (a half-applied coalesce would otherwise scope the
    retraction to a PARTIAL corpus).  Everything the call changes —
    the frozen retract ids, the kept rows of every hit snapshot file,
    flat-table file and IVF bucket, the negative ``group_counts`` rows
    and the new ``_STALE_SKETCHES`` content — is written to ONE stage
    and adopted by ONE commit (kept rows in first, hit files removed
    after).  A crash before the commit changes nothing; a crash after
    it is finished by :func:`fsck_state` (or by the next maintenance
    verb or :func:`rebuild_state`), so a retraction is never applied
    twice.

    Retraction semantics are the inverse of first-arrival: once a
    document is retracted, it is GONE from every plane — a later
    arrival of the same text (or vector) is ADMITTED again, because
    nothing in the corpus duplicates it anymore (tested, both modes).
    Documents that were DROPPED as duplicates of a retracted keeper
    are not resurrected — they were never published, and their
    content re-enters with the next arrival.

    Returns the retained survivors union (read from the snapshots).
    """
    if mode not in ("auto", "fast", "rebuild"):
        raise ValueError(
            f"mode must be 'auto', 'fast' or 'rebuild', got {mode!r}"
        )
    pol = _read_policy(spark, state_dir)
    if mode == "auto":
        mode = "fast" if pol is not None else "rebuild"
    if mode == "fast" and pol is None:
        raise ValueError(
            f"no ingest policy at {state_dir}/policy — the fast path "
            "needs it to know the text plane and cap column; use "
            "mode='rebuild' with explicit parameters"
        )
    if not _list_child_dirs(spark, f"{state_dir}/batches"):
        raise ValueError(f"no batch snapshots under {state_dir}/batches")
    # validate BEFORE any destructive rewrite: a bad kwarg must refuse
    # while the snapshots and state are still intact
    if mode == "rebuild":
        import inspect

        valid = set(
            inspect.signature(rebuild_state).parameters
        ) - {"spark", "state_dir", "id_col"}
        unknown = set(rebuild_kwargs) - valid
        if unknown:
            raise TypeError(
                f"unknown rebuild_state arguments {sorted(unknown)} — "
                f"valid: {sorted(valid)} (checked before the snapshot "
                "rewrite; a post-rewrite failure would leave retracted "
                "documents probe-visible in the state tables)"
            )
        _rebuild_params(spark, state_dir, pol, *(
            rebuild_kwargs.get(k)
            for k in ("text_method", "n", "num_perm", "threshold")
        ))
    else:
        # the fast path takes everything from the stored policy; the
        # only keywords it accepts are the in-line sketch repair's
        # external inputs (and those only when the repair is on)
        allowed = (
            {"scores", "score_col", "text_col"} if repair_sketches else set()
        )
        unknown = set(rebuild_kwargs) - allowed
        if unknown:
            raise TypeError(
                "rebuild_kwargs only apply to mode='rebuild' — the fast "
                "path takes everything from the stored policy"
                + (
                    " (with repair_sketches=True it also accepts "
                    "scores/score_col/text_col for the in-line repair)"
                    if repair_sketches
                    else ""
                )
                + f", got {sorted(unknown)}"
            )
    if (
        repair_sketches
        and rebuild_kwargs.get("scores") is None
        and _table_exists(spark, f"{state_dir}/score_sketches")
    ):
        # refused BEFORE any destructive rewrite: the KLL gate sketch
        # cannot subtract, so without the corpus scores a "repaired"
        # state would still overstate the gate — the caller asked for
        # a healthy end state and must supply what it takes
        raise ValueError(
            f"repair_sketches=True on {state_dir} needs a scores "
            "frame — a score_sketches state exists and sketches "
            "cannot subtract; pass scores=<corpus (id, score) frame> "
            "(or drop repair_sketches and rebuild_sketch_states later)"
        )
    with _maintenance_lock(spark, state_dir):
        complete = _complete_snapshots(spark, state_dir)
        if mode == "fast" and not complete:
            raise ValueError(
                f"no complete batch snapshots under {state_dir}/batches — "
                "nothing to retract from"
            )
        stage = _stage_dir("retract")
        # FREEZE the retract set before any mutation: the caller's
        # frame may lazily derive from the very snapshots the surgery
        # rewrites (the natural "retract everything matching this
        # corpus filter" flow) — re-evaluating such a plan after the
        # commit would read deleted files.  One small table in the
        # stage; every phase (cap counts, snapshot surgery, plane
        # deletes) reads the same frozen ids, and it goes with the
        # stage.
        ids_path = f"{state_dir}/{stage}/ids"
        (
            ids.select(F.col(id_col).alias("_retract"))
            .distinct()
            .write.mode("overwrite")
            .parquet(ids_path)
        )
        retract = spark.read.parquet(ids_path)
        # a bounded-size takedown set is collected once so every
        # hit-file discovery pushes an IN predicate into the parquet
        # scans (row-group min/max pruning).  The limit-count never
        # scans past the bound on a huge set.
        vals = None
        if retract.limit(10_001).count() <= 10_000:
            vals = [r._retract for r in retract.collect()]
        ops = _rewrite_snapshots_without(
            spark, state_dir, stage, complete, retract, id_col,
            retract_values=vals,
        )
        if mode == "rebuild":
            _commit(spark, state_dir, stage, ops)
            return rebuild_state(
                spark, state_dir, id_col=id_col, **rebuild_kwargs
            )
        if ops:
            _commit(spark, state_dir, stage, ops + _retract_fast(
                spark, state_dir, stage, complete, retract, id_col, pol,
                vals,
            ))
        else:
            # no snapshot held any of the ids — nothing to do anywhere
            _delete_path(spark, f"{state_dir}/{stage}")
        if repair_sketches and _read_stale(spark, state_dir):
            # the in-line targeted repair, inside THIS lock hold — the
            # snapshots are already rewritten, so the reconsolidated
            # sketches describe the retained corpus
            rebuild_sketch_states(
                spark, state_dir, rebuild_kwargs.get("scores"),
                rebuild_kwargs.get("score_col", "quality_score"),
                rebuild_kwargs.get("text_col", "text"), id_col,
            )
        return _read_snapshots_union(spark, state_dir)


def _retract_fast(
    spark, state_dir: str, stage: str, complete: list[str],
    retract: DataFrame, id_col: str, pol: dict, vals: list | None,
) -> list:
    """Stage the plane-local half of a fast :func:`retract_documents`
    (the caller stages the snapshot surgery and commits both) and
    return its journal ops.  ``retract`` has one ``_retract`` column,
    distinct and FROZEN in the stage; ``vals`` is its collected id
    list when bounded (≤10k), enabling pushed IN discovery
    everywhere."""
    ops = []
    # exact NEGATIVE per-group cap rows, counted from the snapshots
    # before the staged surgery lands (the counts are exact integers —
    # the one policy state that CAN subtract); only ids actually
    # present decrement, so retracting an unknown id is a no-op
    cap_col = pol.get("group_cap_col")
    if cap_col is not None and _table_exists(
        spark, f"{state_dir}/group_counts"
    ):
        removed = _hits(_union(spark, complete), id_col, retract, vals)
        neg = removed.groupBy(cap_col).agg(
            (-F.count("*")).cast("bigint").alias("n_admitted")
        )
        if neg.limit(1).count():
            neg.write.mode("overwrite").parquet(
                f"{state_dir}/{stage}/group_counts"
            )
            ops += _adopt(spark, state_dir, stage, "group_counts")
    # plane-local deletes: file-local surgery on the flat tables (only
    # files containing a hit are rewritten).  The ngram plane's
    # doc_freq stays FROZEN — stale df only lengthens prefixes
    # (recall-safe; the ngram_append_index argument)
    plane = _PLANES[pol["text_method"]].tables
    for rel, key in [("fingerprints", "keep_id")] + [(r, "_id") for r in plane]:
        found = _delete_keys_file_local(
            spark, f"{state_dir}/{rel}", key, retract, retract_values=vals
        )
        if found is not None:
            ops += _stage_kept(spark, state_dir, stage, rel, *found)
    # … and a bucket-local rewrite of ONLY the IVF partitions holding
    # a retracted vector
    if _table_exists(spark, f"{state_dir}/ivf/assigned"):
        ops += _retract_ivf_partitions(
            spark, state_dir, stage, retract, id_col, retract_values=vals
        )
    # the subtract-incapable sketch states now OVERSTATE — record it
    stale = {
        name
        for name, table in (
            ("score_sketches", "score_sketches"),
            ("accounting", "accounting/stats"),
        )
        if _table_exists(spark, f"{state_dir}/{table}")
    }
    if stale:
        _write_text_file(
            spark, f"{state_dir}/{stage}/{_STALE_MARKER}",
            ",".join(sorted(_read_stale(spark, state_dir) | stale)),
        )
        ops.append(["mv", f"{stage}/{_STALE_MARKER}", _STALE_MARKER])
    return ops


def _read_snapshots_union(spark, state_dir: str) -> DataFrame:
    complete = _complete_snapshots(spark, state_dir)
    if not complete:
        raise ValueError(
            f"no complete batch snapshots under {state_dir}/batches"
        )
    return _union(spark, complete)


def _delete_keys_file_local(
    spark,
    table_path: str,
    key_col: str,
    retract: DataFrame,
    retract_values: list | None = None,
) -> tuple[list, DataFrame] | None:
    """Plan the delete of rows whose ``key_col`` matches a retracted
    id from a flat parquet state table, FILE-LOCALLY: returns the
    files that contain a hit and their kept rows (or None when no
    file holds a hit) — the caller stages the kept rows and commits
    the swap, so takedown cost ∝ the retracted set's file footprint,
    not the table (after :func:`compact_state`'s probe-key sort, hits
    cluster into few files).

    Hit-file discovery is :func:`_hits` (a pushed ``IN`` when
    ``retract_values``, the bounded set, is given).  The journal adds
    the replacement files before it deletes the hit files, so a
    concurrent reader sees duplicate rows at worst (the probes
    tolerate them: fingerprint/anti-join and pair-candidate reads are
    set-semantics), never a missing kept row."""
    if not _table_exists(spark, table_path):
        return None
    hit_rows = _hits(
        spark.read.parquet(table_path), key_col, retract, retract_values,
        tag_file=True,
    )
    hit_files = [
        r._file for r in hit_rows.select("_file").distinct().collect()
    ]
    if not hit_files:
        return None
    kept = spark.read.parquet(*hit_files).join(
        F.broadcast(retract),
        F.col(key_col) == F.col("_retract"),
        "left_anti",
    )
    return hit_files, kept


def _retract_ivf_partitions(
    spark, state_dir: str, stage: str, retract: DataFrame, id_col: str,
    retract_values: list | None = None,
) -> list:
    """Stage a rewrite of ONLY the IVF ``centroid_id`` partitions that
    hold a retracted vector: their kept rows are written to
    ``{stage}/ivf/assigned`` by the one layout writer
    (:func:`~hadoop__spark.operators.similarity._write_buckets`: one
    file per bucket, id-sorted), and the returned ops move them in,
    then remove each affected bucket's old files — or the whole
    bucket dir when no row survives.
    Untouched buckets keep their files byte-for-byte.  Centroids stay
    frozen — probe exactness needs only internal consistency.  A
    small ``retract_values`` set pushes an IN predicate into the
    bucket discovery scan (same row-group pruning as the flat
    tables)."""
    rel = "ivf/assigned"
    assigned = spark.read.parquet(f"{state_dir}/{rel}")
    affected = [
        r.centroid_id
        for r in _hits(assigned, id_col, retract, retract_values)
        .select("centroid_id").distinct().collect()
    ]
    if not affected:
        return []
    kept = assigned.where(F.col("centroid_id").isin(affected)).join(
        F.broadcast(retract), F.col(id_col) == F.col("_retract"), "left_anti"
    )
    _write_buckets(kept, f"{state_dir}/{stage}/{rel}", "overwrite", [id_col])
    staged = set(_bucket_ids(spark, f"{state_dir}/{stage}/{rel}"))
    ops = _adopt(spark, state_dir, stage, rel)
    for cid in affected:
        bucket = f"{rel}/{_bucket(cid)}"
        if str(cid) not in staged:
            ops.append(["rm", bucket])
            continue
        ops += [
            ["rm", f"{bucket}/{_name(f)}"]
            for f in _list_files(
                spark, f"{state_dir}/{bucket}", suffix=".parquet"
            )
        ]
    return ops


def decontaminate_state(
    spark,
    state_dir: str,
    benchmark: DataFrame,
    benchmark_name: str = "benchmark",
    text_col: str = "text",
    id_col: str = "doc_id",
    max_overlap: float = 0.0,
    n: int = 3,
    mode: str = "auto",
    repair_sketches: bool = False,
    **rebuild_kwargs,
) -> DataFrame:
    """Retroactive benchmark decontamination of an ALREADY-INGESTED
    corpus — the operation a new evaluation set triggers.
    :func:`ingest_batch`'s ``benchmark`` option decontaminates each
    arriving batch, but a benchmark published AFTER ingestion leaves
    leaked documents live in every state table; this finds them and
    takes them down through :func:`retract_documents`.

    Pipeline: :func:`~hadoop__spark.operators.corpus.contamination_report`
    over the retained corpus (read from the snapshots) vs the
    broadcast benchmark shingle set, flag documents with
    ``overlap_frac > max_overlap`` (default 0.0 — any shared
    ``n``-gram disqualifies, the GPT-3 appendix-C discipline), write
    the flagged report as an AUDIT table at
    ``{state_dir}/decontamination/{benchmark_name}`` (takedowns need
    a paper trail, and the report must materialize BEFORE the
    retraction rewrites the snapshots it reads), then retract the
    flagged ids (``mode``/``repair_sketches``/``rebuild_kwargs``
    forwarded — ``"auto"`` takes the fast plane-local path when a
    policy table exists; ``repair_sketches=True`` composes the
    targeted sketch repair under the same lock so the takedown ends
    with nothing stale, see :func:`retract_documents`).  Returns the
    audit report (one row per retracted document: id, n_shingles,
    n_hits, overlap_frac).

    Re-running with the same benchmark is a no-op returning an empty
    report — the contaminated documents are already gone, and the
    audit table for that name is overwritten per run (use distinct
    ``benchmark_name`` values per eval set).  Retraction semantics
    apply: a later ARRIVAL of the leaked text is admitted again, so
    keep the benchmark in every subsequent :func:`ingest_batch` call
    to hold the decontamination going forward.
    """
    # one lock hold for the whole call: its fsck pass replays a
    # crashed verb before the overlap scan reads the snapshot union (a
    # half-applied coalesce would scope the scan to a PARTIAL corpus),
    # and the retraction runs inside the same hold
    with _maintenance_lock(spark, state_dir):
        union = _read_snapshots_union(spark, state_dir)
        flagged = contamination_report(
            union, benchmark, text_col, id_col, n=n
        ).where(F.col("overlap_frac") > max_overlap)
        audit = f"{state_dir}/decontamination/{benchmark_name}"
        flagged.write.mode("overwrite").parquet(audit)
        report = spark.read.parquet(audit)
        if report.limit(1).count():
            retract_documents(
                spark, state_dir, report.select(id_col), id_col=id_col,
                mode=mode, repair_sketches=repair_sketches,
                **rebuild_kwargs,
            )
    return report


def compact_state(
    spark,
    state_dir: str,
    target_file_bytes: int = 128 * 1024 * 1024,
) -> dict[str, int]:
    """Compact the ingest state's append-grown tables in place — the
    operational counterpart of appending per batch: every
    :func:`ingest_batch` call adds at least one parquet file per
    state table, and after thousands of batches the probes' scan cost
    is task-launch and footer reads, not I/O (the classic small-files
    failure).  Run this periodically from the maintenance window; the
    advisory maintenance lock (``_MAINTENANCE_LOCK`` in the state
    dir, shared with :func:`retract_documents`) makes a concurrent
    :func:`ingest_batch` refuse loudly instead of racing the swap.

    Each table present is rewritten right-sized via
    :func:`~hadoop__spark.sources.io.compact_parquet` (sorted by its
    probe key, so row-group stats cluster) into one journal stage,
    and one commit swaps every rewritten table in (an ``mv`` per
    table).  Row CONTENT is untouched — probes read the same state,
    just from fewer files (tested).  The IVF assigned table gets the
    partition-PRESERVING variant (:func:`_compact_ivf_assigned` — one
    file per centroid bucket, pruning layout intact); ``batches/*`` is
    skipped on purpose (immutable snapshots — the rebuild and
    retraction source of truth; :func:`coalesce_snapshots` is their
    axis).  The lock's fsck pass runs first: a crashed verb's
    committed stage (say a half-applied retraction) is replayed
    before the tables are read, so a compaction never bakes a
    transient duplicate in.

    Returns ``{table: files_written}`` for the tables that existed.
    """
    return _compact_state(spark, state_dir, target_file_bytes)


def _compact_state(
    spark, state_dir: str, target_file_bytes: int, skip_ivf: bool = False
) -> dict[str, int]:
    """:func:`compact_state`'s body.  ``skip_ivf=True`` skips the IVF
    rewrite when a just-finished refit already rewrote the index in
    :func:`_compact_ivf_assigned`'s exact layout — one file per
    bucket, id-sorted within buckets (both write through
    ``similarity._write_buckets``), so re-compacting it in the same
    window would double the window's table I/O to produce
    byte-equivalent row groups."""
    from hadoop__spark.sources.io import compact_parquet

    with _maintenance_lock(spark, state_dir):
        stage = _stage_dir("compact")
        done: dict[str, int] = {}
        for rel, sort_by in _STATE_TABLES.items():
            if _table_exists(spark, f"{state_dir}/{rel}"):
                done[rel] = compact_parquet(
                    spark, f"{state_dir}/{rel}",
                    f"{state_dir}/{stage}/{rel}",
                    target_file_bytes=target_file_bytes, sort_by=sort_by,
                )
        if not skip_ivf:
            n = _compact_ivf_assigned(
                spark, state_dir, target_file_bytes, stage
            )
            if n is not None:
                done["ivf/assigned"] = n
        _commit(
            spark, state_dir, stage,
            [["mv", f"{stage}/{rel}", rel] for rel in done],
        )
        return done


def _compact_ivf_assigned(
    spark, state_dir: str, target_file_bytes: int = 128 * 1024 * 1024,
    stage: str | None = None,
) -> int | None:
    """Partition-PRESERVING compaction of the IVF assigned table —
    the embedding plane's small-files bound.  Every
    :func:`~hadoop__spark.operators.similarity.ivf_append_index` call
    (one per :func:`ingest_batch` with embeddings) lands new parquet
    files INSIDE the existing bucket directories, so at stream
    cadence each bucket fragments without bound — the same axis
    :func:`compact_state` already closes for the flat tables, but a
    flat rewrite here would destroy the Hive-partition pruning the
    probes rely on.  Instead the table is rewritten by the one layout
    writer, :func:`~hadoop__spark.operators.similarity._write_buckets`
    (layout identical), sorted within buckets by the scalar id
    columns so retraction's pushed-IN discovery keeps its row-group
    pruning.

    A bucket is normally ONE task → ONE file, but a bucket whose
    on-disk bytes exceed ``target_file_bytes`` (a hot bucket on a
    drifted corpus) is split into ``ceil(bytes/target)`` files via a
    deterministic id-hash salt — pruning needs only the directory
    layout, not one-file-per-bucket, and without the cap a
    pathological bucket becomes one giant write task and one
    oversized file (:func:`refit_ivf_index` is the rebalance; this
    keeps the compact itself parallel until it runs).  The rewrite
    goes to ``{stage}/ivf/assigned`` of the caller's journal stage,
    which commits it; without a ``stage`` the call stages and commits
    its own.  Returns the file count written, or None when no index
    exists."""
    from hadoop__spark.operators.util import parquet_row_count, path_bytes

    path = f"{state_dir}/ivf/assigned"
    if not _table_exists(spark, path):
        return None
    df = spark.read.parquet(path)
    sort_cols = _ivf_columns(df.schema)[1]
    # per-bucket split counts from directory byte sizes (driver-side
    # metadata): ceil(bytes/target) files for buckets over the target,
    # 1 for the rest.  Parquet bytes undercount the in-flight row size
    # slightly (encoding), which only errs toward fewer, larger files.
    splits = {}
    split_dirs = {}
    # only real partition dirs (_bucket_ids): a hard-crashed append
    # can leave _temporary (non-numeric → _typed would raise;
    # truncated footers → parquet_row_count would raise), and the
    # reader ignores _/.-prefixed dirs anyway.  The null bucket
    # (__HIVE_DEFAULT_PARTITION__) stays COLD: its rows read back as
    # NULL centroid_id, which isin() can never select.
    for cid in _bucket_ids(spark, path):
        if cid == "__HIVE_DEFAULT_PARTITION__":
            continue
        b = f"{path}/{_bucket(cid)}"
        k = max(1, -(-path_bytes(spark, b) // target_file_bytes))
        if k > 1:
            splits[cid] = k
            split_dirs[cid] = b

    own = stage is None
    stage = stage or _stage_dir("compact")
    tmp = f"{state_dir}/{stage}/ivf/assigned"
    if splits and sort_cols:
        # TWO writers into the same tmp: maxRecordsPerFile is a
        # writer-GLOBAL option, so one writer carrying the hot
        # buckets' row quota would shatter every COLD bucket into
        # quota-row fragments — the exact small-files problem this
        # compact exists to close.  Cold buckets (under the target
        # whole) keep the one-task→one-file rewrite; hot buckets get
        # the salt + cap.  The predicate compares TYPED literals (not
        # a cast of the partition column) so both scans
        # partition-prune to their own buckets — together one read of
        # the table, not two.
        cid_type = df.schema["centroid_id"].dataType.simpleString()

        def _typed(cid):
            if cid_type in ("tinyint", "smallint", "int", "bigint"):
                return int(cid)
            if cid_type in ("float", "double"):
                return float(cid)
            return cid

        hot_pred = F.col("centroid_id").isin(
            [_typed(c) for c in splits]
        )
        # NULL centroid_id (__HIVE_DEFAULT_PARTITION__ rows) makes
        # BOTH isin() and its negation NULL — a bare ~hot_pred would
        # silently drop those rows from the rewrite.  Route them to
        # the cold writer (they are never in `splits`).
        cold_pred = ~F.coalesce(hot_pred, F.lit(False))
        _write_buckets(df.filter(cold_pred), tmp, "overwrite", sort_cols)
        # salt the hot buckets: rows hash-route to one of k
        # sub-shards of their bucket, each shard one task → one file
        # inside the same bucket directory
        k_col = F.coalesce(
            *[
                F.when(
                    F.col("centroid_id").cast("string") == cid, F.lit(k)
                )
                for cid, k in splits.items()
            ],
            F.lit(1),
        )
        hot = df.filter(hot_pred).withColumn(
            "_shard", F.pmod(F.xxhash64(*sort_cols), k_col)
        )
        # the salt spreads a hot bucket across tasks (parallel write);
        # maxRecordsPerFile is the HARD size cap — two shards of one
        # bucket hash-colliding into the same task would otherwise be
        # merged back into one oversized file by the per-task writer.
        # Size it from each hot bucket's OWN bytes/row (min across
        # them — still one option for all hot buckets), not the
        # table-wide mean: a bucket whose rows are systematically
        # wider than average (wide id columns; vectors are fixed-dim)
        # would otherwise exceed target_file_bytes in proportion to
        # its width.  The min errs toward extra sub-target files only
        # among hot buckets of unequal widths.  Non-local FS falls
        # back to the table-wide mean (per-bucket footer reads there
        # would cost a Spark job per hot bucket).
        from hadoop__spark.operators.util import is_local_fs

        if is_local_fs(spark, path):
            rows_per_file = max(
                1,
                min(
                    int(
                        target_file_bytes
                        * max(1, parquet_row_count(spark, d))
                        / max(1, path_bytes(spark, d))
                    )
                    for d in split_dirs.values()
                ),
            )
        else:
            total_rows = parquet_row_count(spark, path)
            total_bytes = max(1, path_bytes(spark, path))
            rows_per_file = max(
                1, int(target_file_bytes * total_rows / total_bytes)
            )
        _write_buckets(
            hot, tmp, "append", sort_cols, shard="_shard",
            max_records=rows_per_file,
        )
    else:
        _write_buckets(df, tmp, "overwrite", sort_cols)
    n_files = len(_list_files(spark, tmp, suffix=".parquet"))
    if own:
        _commit(
            spark, state_dir, stage,
            [["mv", f"{stage}/ivf/assigned", "ivf/assigned"]],
        )
    return n_files


def refit_ivf_index(
    spark,
    state_dir: str,
    nlist: int | None = None,
    seed: int = 42,
) -> dict:
    """Re-fit the ingest state's IVF index on the CURRENT surviving
    vectors — the maintenance half of the standard IVF caveat
    (:func:`~hadoop__spark.operators.similarity.ivf_append_index`:
    centroids are frozen at bootstrap, so as the appended corpus
    drifts from the fitted distribution, bucket balance degrades —
    recall never breaks, but a hot bucket makes every probe scan it).
    :func:`state_summary` reports the skew
    (``advice["ivf_bucket_skew"]``) and recommends this verb.

    Safe where a bare ``ivf_write_index`` onto the state path is not:
    that would overwrite the ``assigned`` table it is reading
    (refused by Spark), take no lock against a concurrent ingest, and
    leave no crash protocol.  Here the new index (fresh centroids +
    re-assigned vectors, ``nlist`` defaulting to the faiss
    ``max(16, 4√N)`` rule) is built in a journal stage reading the
    OLD table, and ONE commit swaps both ``assigned`` and
    ``centroids`` in — never mixed (an old-centroids /
    new-assignments hybrid would silently mis-route probes): a crash
    before the commit leaves the old index intact, a crash after it
    is finished by :func:`fsck_state`, which adopts both new tables.
    Runs under the maintenance lock, after its fsck pass.

    Probe exactness needs only internal consistency, so subsequent
    :func:`ingest_batch` calls append against the NEW frozen
    centroids unchanged (the same argument as the rebuild path's
    refit).  Returns ``{"n_vectors": int, "nlist": int}``.

    :func:`maintain_state` runs this automatically (under its one
    lock hold) when called with ``refit="advice"`` and the bucket
    skew crosses the :func:`state_summary` threshold.
    """
    from hadoop__spark.operators.similarity import ivf_write_index

    with _maintenance_lock(spark, state_dir):
        assigned_path = f"{state_dir}/ivf/assigned"
        if not _table_exists(spark, assigned_path):
            raise ValueError(
                f"no IVF index at {state_dir}/ivf — nothing to re-fit"
            )
        assigned = spark.read.parquet(assigned_path)
        vec_col, (id_col, *_) = _ivf_columns(assigned.schema)
        n = assigned.count()
        fit_nlist = nlist or _default_nlist(n)
        stage = _stage_dir("refit")
        ivf_write_index(
            assigned.select(id_col, vec_col),
            f"{state_dir}/{stage}/ivf",
            nlist=fit_nlist,
            vec_col=vec_col,
            id_col=id_col,
            seed=seed,
        )
        _commit(
            spark, state_dir, stage,
            [["mv", f"{stage}/ivf/{t}", f"ivf/{t}"]
             for t in ("assigned", "centroids")],
        )
        return {"n_vectors": int(n), "nlist": int(fit_nlist)}


def coalesce_snapshots(
    spark,
    state_dir: str,
    names: list[str] | None = None,
    keep_recent: int = 1,
    target_file_bytes: int = 128 * 1024 * 1024,
) -> dict:
    """Merge old COMMITTED batch snapshots into one epoch snapshot —
    snapshot retention for a long-lived ingest state.  Every
    :func:`ingest_batch` call writes one immutable snapshot under
    ``{state_dir}/batches`` forever, and :func:`rebuild_state` /
    :func:`state_summary` / retraction discovery walk ALL of them: at
    a foreachBatch stream's minutes cadence that is tens of thousands
    of directories within a year — listing time, per-snapshot footer
    reads, and full-rebuild union width all grow with batch count
    without bound.  This operation is the bound: the union of the
    selected snapshots is rewritten as ONE right-sized epoch snapshot
    (named ``epoch-{digest}`` from its source set) and the sources are
    retired, so the walk cost tracks epochs, not ingests.

    What is preserved (each pinned by an equality test):

    * **Corpus rows** — snapshots are disjoint by construction (each
      batch's survivors were filtered against all prior state), so
      the epoch is row-for-row their union; :func:`rebuild_state`,
      :func:`retract_documents`, :func:`decontaminate_state` and the
      next :func:`ingest_batch` behave exactly as on the uncoalesced
      timeline.
    * **Commit-marker coverage** — the epoch's marker claims the
      INTERSECTION of its sources' covered planes (conservative: a
      replay needing a plane any source lacked still refuses).
    * **Crash-safety** — the epoch is staged OUTSIDE ``batches/`` in
      a journal stage, and one commit moves it in FIRST and only then
      removes the sources.  A crash before the commit leaves the
      sources as they were; a crash after it is finished by
      :func:`fsck_state` (run before any other maintenance verb and
      by :func:`rebuild_state`, and :func:`ingest_batch` refuses
      meanwhile).  No window loses rows; a reader in the apply window
      sees the epoch's rows twice at worst.

    Selection: ``names`` picks explicit snapshot names; default is
    every complete+committed snapshot EXCEPT the ``keep_recent`` most
    recent (by commit-marker mtime — batch NAMES need not sort
    chronologically).  Keep ``keep_recent`` at or above the stream's
    replay horizon (≥1 for foreachBatch): an ``on_existing="skip"``
    replay of a RETIRED name finds no snapshot and re-runs the
    ingest — the dedup planes then drop every document as already
    known and append an empty snapshot, so the corpus stays correct,
    but the replay pays a re-dedup instead of a no-op.  Uncommitted
    snapshots are never coalesced (they are crash evidence —
    :func:`rebuild_state` is their path).  Fewer than two candidates
    is a no-op.

    Runs under the maintenance lock, after its fsck pass (a crashed
    retraction's committed surgery lands before the snapshot set is
    read, so the epoch never bakes retracted rows back in).
    Returns ``{"epoch": name or None, "coalesced": [names...],
    "skipped_uncommitted": [...]}``.  :func:`maintain_state` composes
    this with the fsck and the table compaction as one verb.

    Beyond-reference scope (the reference, README.md:744-764, is an
    analysis-only HiveQL lineage tool); the epoch/compaction shape
    follows public log-structured designs (e.g. LSM level merges,
    Iceberg/Delta snapshot expiration).
    """
    import hashlib

    from hadoop__spark.operators.util import path_bytes, path_mtime

    if keep_recent < 0:
        raise ValueError(f"keep_recent must be >= 0, got {keep_recent}")
    with _maintenance_lock(spark, state_dir):
        committed, skipped = [], []
        for b in _complete_snapshots(spark, state_dir):
            if _read_commit_marker(spark, b) is None:
                skipped.append(_name(b))
            else:
                committed.append(_name(b))
        if names is not None:
            missing = sorted(set(names) - set(committed))
            if missing:
                raise ValueError(
                    f"cannot coalesce {missing} on {state_dir} — not "
                    "complete committed snapshots (uncommitted "
                    "snapshots are crash evidence: rebuild_state first)"
                )
            sources = sorted(set(names))
        else:
            by_age = sorted(
                committed,
                key=lambda n: path_mtime(
                    spark, f"{state_dir}/batches/{n}/{_COMMIT_MARKER}"
                ),
            )
            # max(0, …): keep_recent beyond the candidate count must
            # keep EVERYTHING, not wrap into a negative slice that
            # coalesces batches the caller asked to protect
            sources = sorted(by_age[: max(0, len(by_age) - keep_recent)])
        if len(sources) < 2:
            return {
                "epoch": None,
                "coalesced": [],
                "skipped_uncommitted": sorted(skipped),
            }
        digest = hashlib.sha1("\n".join(sources).encode()).hexdigest()[:12]
        epoch = f"epoch-{digest}"
        if _table_exists(spark, f"{state_dir}/batches/{epoch}"):
            raise RuntimeError(
                f"epoch snapshot {epoch} already exists under "
                f"{state_dir}/batches — name collision with a live "
                "batch; retract or rename it first"
            )
        src_paths = [f"{state_dir}/batches/{n}" for n in sources]
        covered = _read_commit_marker(spark, src_paths[0])
        for p in src_paths[1:]:
            covered &= _read_commit_marker(spark, p)
        # right-size from the sources' on-disk bytes — coalesce, not
        # repartition: the epoch write must not shuffle the corpus
        total = sum(path_bytes(spark, p) for p in src_paths)
        n_files = max(1, -(-total // target_file_bytes))
        stage = _stage_dir("coalesce")
        tmp = f"{state_dir}/{stage}/batches/{epoch}"
        _union(spark, src_paths).coalesce(n_files).write.mode(
            "overwrite"
        ).parquet(tmp)
        _write_commit_marker(spark, tmp, covered)
        _commit(
            spark, state_dir, stage,
            [["mv", f"{stage}/batches/{epoch}", f"batches/{epoch}"]]
            + [["rm", f"batches/{n}"] for n in sources],
        )
        return {
            "epoch": epoch,
            "coalesced": sources,
            "skipped_uncommitted": sorted(skipped),
        }


def maintain_state(
    spark,
    state_dir: str,
    keep_recent: int = 1,
    target_file_bytes: int = 128 * 1024 * 1024,
    refit: str = "off",
    refit_skew: float | None = None,
    seed: int = 42,
) -> dict:
    """The maintenance window as ONE verb: repair (:func:`fsck_state`),
    bound the snapshot count (:func:`coalesce_snapshots`), rebalance a
    drifted IVF index when asked (:func:`refit_ivf_index`), and
    right-size the probe tables (:func:`compact_state`) under a single
    maintenance-lock acquisition (the verbs run inside the one hold,
    and its fsck pass runs ONCE) — so an operator's cron job is one
    call and a concurrent :func:`ingest_batch` sees one exclusion
    window instead of several lock/unlock races it could slip between.

    ``refit="advice"`` consults the same zero-job bucket-balance
    measurement :func:`state_summary` exposes as
    ``advice["ivf_bucket_skew"]`` and, when the max/mean bucket-row
    ratio exceeds ``refit_skew`` (the summary's
    ``refit_recommended`` threshold), runs the centroid re-fit inside
    this window — after which the compact step skips the IVF table:
    the refit's own write IS the compacted layout (one file per
    bucket, id-sorted within buckets — ``ivf_write_index`` and
    :func:`_compact_ivf_assigned` share one layout writer), so the
    window leaves the index exactly as a compact would without paying
    a second full-table rewrite right after the refit's.  Default
    ``"off"``: a refit is heavier than a coalesce+compact and swaps
    the index layout mid-stream, so it stays opt-in.

    Equivalent to the per-verb composition (tested); refuses exactly
    when the parts would.  Returns the combined report::

        {"fsck": {...}, "coalesce": {...}, "compact": {...},
         "refit": {"n_vectors": ..., "nlist": ...} | None}
    """
    if keep_recent < 0:
        raise ValueError(f"keep_recent must be >= 0, got {keep_recent}")
    if refit not in ("advice", "off"):
        raise ValueError(f"refit must be 'advice' or 'off', got {refit!r}")
    with _maintenance_lock(spark, state_dir) as fsck:
        coalesce = coalesce_snapshots(
            spark, state_dir, keep_recent=keep_recent,
            target_file_bytes=target_file_bytes,
        )
        refit_report = None
        if refit == "advice":
            if _refit_due(_ivf_skew(spark, state_dir), refit_skew):
                refit_report = refit_ivf_index(spark, state_dir, seed=seed)
        compact = _compact_state(
            spark, state_dir, target_file_bytes,
            skip_ivf=refit_report is not None,
        )
    return {
        "fsck": fsck,
        "coalesce": coalesce,
        "compact": compact,
        "refit": refit_report,
    }


def fsck_state(spark, state_dir: str, blocking: bool = True) -> dict:
    """Finish or discard whatever a crashed maintenance verb left —
    "replay committed stages, sweep uncommitted ones" over the commit
    journal (``{state_dir}/tmp/commit/``):

    * a stage WITH its whole manifest (its last line ``["end"]``)
      reached its commit point: its ops are applied again (each is
      idempotent, so a half-applied stage finishes exactly once) —
      reported as ``restored``;
    * a stage WITHOUT one — no manifest, or one torn by a crash
      during its own write — never mutated anything: it is deleted —
      ``swept``;
    * a crashed ingest's single-execution staging tables
      (``tmp/*_eligible`` / ``tmp/*_text_survivors`` / ``tmp/*_sigs``)
      are swept too — but never while an ingest marker stands, since
      a LIVE run holds them transiently.

    A leftover of the per-verb swap protocols this journal replaced
    (listed in :func:`_pending`) makes the call REFUSE, naming the
    artifacts and changing nothing: finish it with the previous
    release's ``fsck_state``.

    Every maintenance verb runs this first under its lock, and
    :func:`rebuild_state` runs it before it reads the snapshots, so a
    crashed stage never composes into a later verb's reads;
    :func:`ingest_batch` refuses while a committed stage is pending.
    Run it standalone after a crashed maintenance verb
    (:func:`rebuild_state` is the recovery for a crashed ingest).

    Standalone runs take the maintenance lock themselves: a fsck
    racing a LIVE verb could otherwise sweep the verb's stage before
    its commit.  Held lock → refuse (a stale lock from a hard crash is
    deleted by hand after confirming nothing runs — the same contract
    as every other verb).  A monitoring cron that merely happens to
    poll during a maintenance window should pass ``blocking=False`` to
    get ``{"skipped": "lock held"}`` instead of the exception (the
    default raises, so an operator running fsck BECAUSE they suspect
    damage is never handed a silent no-op).  A live ingest does NOT
    block the fsck: its staging is protected by the
    in-progress-marker guard, and it writes no journal stage.

    Returns ``{"restored": [...], "swept": [...]}`` (paths relative to
    ``state_dir``) — the same list :func:`state_summary` reports as
    ``orphans`` — or ``{"skipped": "lock held"}`` under
    ``blocking=False``.
    """
    try:
        with _advisory_flag(spark, state_dir, _MAINT_LOCK, None):
            return _fsck_state_locked(spark, state_dir)
    except _Held:
        if blocking:
            raise
        return {"skipped": "lock held"}


def _pending(spark, state_dir: str) -> tuple[list, list, list]:
    """Everything :func:`fsck_state` acts on, relative to the state
    dir: (committed stages it replays, uncommitted stages and crashed
    ingest staging it sweeps, pre-journal artifacts it refuses on).
    :func:`state_summary` reports the same three lists as
    ``orphans``."""
    replay, sweep = _stages(spark, state_dir)
    if not _table_exists(spark, f"{state_dir}/{_INGEST_MARKER}"):
        sweep += [
            f"tmp/{_name(d)}"
            for d in _list_child_dirs(spark, f"{state_dir}/tmp")
            if _name(d).endswith(("_eligible", "_text_survivors", "_sigs"))
        ]
    # the per-verb protocols the journal replaced: the compaction
    # swap's sibling, the flat-table surgery's add-staging and marker,
    # the IVF takedown's staging, the coalesce manifest stranded in an
    # adopted epoch, the fast retraction's run marker and frozen ids,
    # and the staging dirs of snapshot surgery (_SURGERY_MANIFEST),
    # coalesce (_COALESCE_MANIFEST) and refit (_REFIT_COMPLETE)
    pre_journal = [
        f"{rel}{suffix}"
        for rel in list(_STATE_TABLES) + ["ivf/assigned"]
        for suffix in ("__compact_tmp", "__retract_add", "/_RETRACT_SURGERY")
    ] + [
        f"batches/{_name(b)}/_COALESCE_MANIFEST"
        for b in _list_child_dirs(spark, f"{state_dir}/batches")
    ] + [
        "_RETRACT_INPROGRESS", "ivf/__retract_kept_tmp", "tmp/retract",
        "tmp/coalesce", "tmp/ivf_refit", "tmp/retract_ids",
    ]
    legacy = [
        rel for rel in pre_journal
        if _table_exists(spark, f"{state_dir}/{rel}")
    ]
    return replay, sweep, legacy


def _fsck_state_locked(spark, state_dir: str) -> dict:
    """:func:`fsck_state`'s body, run while the caller holds the
    maintenance lock (the standalone wrapper above, a verb's lock
    hold) or by :func:`rebuild_state` on a quiesced state."""
    replay, sweep, legacy = _pending(spark, state_dir)
    if legacy:
        raise RuntimeError(
            f"{state_dir} holds pre-journal maintenance artifacts "
            f"{legacy} — finish it with the previous release's "
            "fsck_state; nothing was changed"
        )
    for stage in replay:
        _apply(spark, state_dir, stage)
    for rel in sweep:
        _delete_path(spark, f"{state_dir}/{rel}")
    return {"restored": replay, "swept": sweep}


# bucket-balance ratio (max bucket rows / mean bucket rows) above
# which state_summary recommends — and maintain_state(refit="advice")
# runs — an IVF centroid re-fit
_REFIT_SKEW = 8.0


def _refit_due(skew: dict | None, refit_skew: float | None) -> bool:
    """Whether a :func:`_ivf_skew` measurement calls for a centroid
    re-fit: more than one bucket, and a max/mean ratio above
    ``refit_skew`` (None = ``_REFIT_SKEW``)."""
    return (
        skew is not None
        and skew["buckets"] > 1
        and skew["skew"] > (_REFIT_SKEW if refit_skew is None else refit_skew)
    )


def _ivf_skew(
    spark,
    state_dir: str,
    file_list: list[str] | None = None,
    max_buckets: int = 512,
) -> dict | None:
    """Bucket-balance measurement for the ingest state's IVF index —
    the zero-job observability behind ``advice["ivf_bucket_skew"]``
    and :func:`maintain_state`'s ``refit="advice"`` trigger.

    Cost is bounded for monitoring pollers: ONE recursive file
    listing (or the caller's already-obtained ``file_list``) grouped
    by bucket directory, then parquet-footer row counts — and past
    ``max_buckets`` buckets a deterministic stride sample is
    measured instead of every bucket (the refit default
    ``nlist = 4√N`` reaches thousands of buckets at corpus scale, and
    per-bucket listing walks there made every streaming-loop advice
    check pay thousands of driver FS calls).  A sampled measurement
    can miss THE hot bucket, but skew is a distribution property —
    512 buckets bound the advice's error while keeping the poll
    cheap; ``sampled_buckets`` reports when sampling was in effect.
    Non-local filesystems (no pyarrow footer path) fall back to one
    Spark ``groupBy("centroid_id").count()`` job — exact, all
    buckets.

    Returns ``{"buckets", "sampled_buckets", "max_rows",
    "mean_rows", "skew"}`` or None when no index / no rows exist.
    """
    from hadoop__spark.operators.util import (
        is_local_fs,
        visible_parquet_files,
    )

    path = f"{state_dir}/ivf/assigned"
    if not _table_exists(spark, path):
        return None
    # hidden-segment filter even on a caller-provided list: a crashed
    # append's _temporary attempt dirs replicate the bucket
    # partition structure, so their truncated in-flight files would
    # otherwise group as real buckets (and fail the footer read)
    files = visible_parquet_files(spark, path, files=file_list)
    by_bucket: dict[str, list[str]] = {}
    for f in files:
        cid = _bucket_cid(f.rsplit("/", 1)[0])
        if cid is not None:
            by_bucket.setdefault(cid, []).append(f)
    if not by_bucket:
        return None
    n_buckets = len(by_bucket)
    sampled = None
    if is_local_fs(spark, path):
        import pyarrow.parquet as pq

        # LEXICAL sort ("10" < "2"): deterministic, and
        # since k-means ids carry no relation to bucket occupancy the
        # stride sample stays unbiased for a distribution property
        # like skew — numeric order would buy nothing here
        names = sorted(by_bucket)
        if n_buckets > max_buckets:
            stride = -(-n_buckets // max_buckets)
            names = names[::stride]
            sampled = len(names)
        rows = [
            sum(pq.ParquetFile(f).metadata.num_rows for f in by_bucket[b])
            for b in names
        ]
    else:
        rows = [
            r["count"]
            for r in spark.read.parquet(path)
            .groupBy("centroid_id")
            .count()
            .collect()
        ]
    if not rows or not sum(rows):
        return None
    mean = sum(rows) / len(rows)
    return {
        "buckets": n_buckets,
        "sampled_buckets": sampled,
        "max_rows": max(rows),
        "mean_rows": round(mean, 1),
        "skew": round(max(rows) / mean, 2),
    }


def state_summary(
    spark,
    state_dir: str,
    coalesce_after: int = 32,
    compact_after: int = 64,
    refit_skew: float | None = None,
) -> dict:
    """Operational snapshot of an ingest state dir — what an on-call
    engineer (or a dashboard poller) checks before touching it: which
    text plane the corpus uses, per-table row counts, every batch
    snapshot with its commit status (an uncommitted snapshot means a
    mid-append crash — run :func:`rebuild_state`), the stored ingest
    policy, lock/marker status, swap orphans a crashed maintenance
    run left (run :func:`fsck_state`; this call only REPORTS), and
    sketch states left overstating by a fast-path retraction.

    Driver-side ONLY: listings plus parquet FOOTER row counts
    (:func:`~hadoop__spark.operators.util.parquet_row_count` — exact,
    zero Spark jobs on a local/HDFS-style filesystem), so it is safe
    to poll from monitoring.  The one exception: when the accounting
    state is stale, its exact ``n_docs`` total is read back (a
    kilobyte-table job) to quantify the overstatement against the
    snapshots' retained-row total.  Returns::

        {"text_method": ..., "tables": {relpath: rows, ...},
         "batches": [{"name", "rows", "committed", "covered"}, ...],
         "needs_rebuild": bool,    # an uncommitted batch snapshot
         "policy": dict | None,
         "ingest_in_progress": bool, "maintenance_lock": bool,
         "orphans": [...],         # fsck_state would repair these
         "stale_sketches": [...],  # overstating since a retraction
         "accounting_overstatement": {"n_docs": int,
                                      "snapshot_rows": int} | None,
         "decontaminated": [...],  # audit tables, one per benchmark
         "advice": {"coalesce_recommended": bool,
                    "compact_recommended": bool,
                    "refit_recommended": bool,
                    "ivf_bucket_skew": {"buckets", "sampled_buckets",
                                        "max_rows", "mean_rows",
                                        "skew"} | None,
                    "snapshot_count": int,
                    "table_files": {relpath: n_files, ...}}}

    ``advice`` encodes the runbook's maintenance thresholds as data,
    so a dashboard poller can fire the window without reading docs:
    ``coalesce_recommended`` when the committed-snapshot count
    exceeds ``coalesce_after`` (default 32 — listing/footer walks and
    the rebuild union width track this count), and
    ``compact_recommended`` when any flat state table's parquet file
    count exceeds ``compact_after`` (default 64 — probe scan cost
    turns into task launch + footer reads past that, the classic
    small-files failure); ``refit_recommended`` when the IVF
    bucket-balance ratio exceeds ``refit_skew`` (default
    ``_REFIT_SKEW`` = 8 — see :func:`_ivf_skew`;
    :func:`refit_ivf_index` is the repair, and
    ``maintain_state(refit="advice")`` runs it on this signal).
    :func:`maintain_state` is the matching one-call window.
    """
    from hadoop__spark.operators.util import (
        parquet_row_count,
        visible_parquet_files,
    )

    method = _detect_plane(spark, state_dir)
    tables = {}
    table_files = {}
    ivf_files = None
    for rel in list(_STATE_TABLES) + ["ivf/assigned"]:
        if _table_exists(spark, f"{state_dir}/{rel}"):
            tables[rel] = parquet_row_count(spark, f"{state_dir}/{rel}")
            # visible files only: crashed-write _temporary junk must
            # not inflate the fragmentation advice or reach _ivf_skew
            fl = visible_parquet_files(spark, f"{state_dir}/{rel}")
            table_files[rel] = len(fl)
            if rel == "ivf/assigned":
                ivf_files = fl
    batches = []
    needs_rebuild = False
    snapshot_rows = 0
    for b in _list_child_dirs(spark, f"{state_dir}/batches"):
        name = _name(b)
        complete = _table_exists(spark, f"{b}/_SUCCESS")
        covered = _read_commit_marker(spark, b)
        rows = parquet_row_count(spark, b) if complete else None
        batches.append(
            {
                "name": name,
                "rows": rows,
                "committed": covered is not None,
                "covered": sorted(covered) if covered is not None else None,
            }
        )
        if complete:
            snapshot_rows += rows
            if covered is None:
                needs_rebuild = True
    orphans = [rel for found in _pending(spark, state_dir) for rel in found]
    stale = sorted(_read_stale(spark, state_dir))
    overstatement = None
    if "accounting" in stale and _table_exists(
        spark, f"{state_dir}/accounting/stats"
    ):
        # sketches cannot subtract: quantify how far the accounting
        # state overstates the retained corpus (exact — n_docs rows
        # are exact per-batch counts, snapshots are the truth)
        n_docs = (
            spark.read.parquet(f"{state_dir}/accounting/stats")
            .agg(F.sum("n_docs"))
            .first()[0]
        )
        overstatement = {
            "n_docs": int(n_docs or 0),
            "snapshot_rows": snapshot_rows,
        }
    decontaminated = sorted(
        _name(d)
        for d in _list_child_dirs(spark, f"{state_dir}/decontamination")
    )
    n_committed = sum(1 for b in batches if b["committed"])
    compact_rec = any(
        n > compact_after
        for rel, n in table_files.items()
        if rel in _STATE_TABLES
    )
    skew = None
    refit_rec = False
    if "ivf/assigned" in table_files:
        # the IVF floor is one file per bucket directory (the pruning
        # layout compaction preserves), so its trigger is fragmentation
        # ABOVE that floor, not an absolute count
        buckets = _bucket_ids(spark, f"{state_dir}/ivf/assigned")
        compact_rec = compact_rec or table_files["ivf/assigned"] > max(
            compact_after, 2 * len(buckets)
        )
        # bucket balance (one listing + parquet footers, zero jobs,
        # stride-sampled past 512 buckets — see _ivf_skew): frozen
        # centroids degrade as the appended corpus drifts from the
        # bootstrap distribution — a hot bucket makes every probe
        # that touches it scan it in full.  refit_ivf_index is the
        # repair (maintain_state(refit="advice") runs it on this
        # signal).
        skew = _ivf_skew(spark, state_dir, file_list=ivf_files)
        refit_rec = _refit_due(skew, refit_skew)
    advice = {
        "snapshot_count": n_committed,
        "table_files": table_files,
        "coalesce_recommended": n_committed > coalesce_after,
        "compact_recommended": compact_rec,
        "ivf_bucket_skew": skew,
        "refit_recommended": refit_rec,
    }
    return {
        "text_method": method,
        "tables": tables,
        "batches": batches,
        "needs_rebuild": needs_rebuild,
        "policy": _read_policy(spark, state_dir),
        "ingest_in_progress": _table_exists(
            spark, f"{state_dir}/{_INGEST_MARKER}"
        ),
        "maintenance_lock": _table_exists(
            spark, f"{state_dir}/{_MAINT_LOCK}"
        ),
        "orphans": orphans,
        "stale_sketches": stale,
        "accounting_overstatement": overstatement,
        "decontaminated": decontaminated,
        "advice": advice,
    }
