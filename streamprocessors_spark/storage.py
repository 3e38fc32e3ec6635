"""The one memo layer for per-corpus artifacts, in front of durable stores.

Every artifact the engine derives from a corpus (trained models, pinned
model and verdict frames, probe memos, streaming schema probes, and the
durable parquet stores) is memoized here and nowhere else, through
``artifact(spark, sf_dir, name, build)``:

- Key: (applicationId, corpus path, ``corpus_fingerprint(sf_dir)``,
  name). The fingerprint covers the corpus files (path + per-table size
  + mtime_ns), so a corpus regenerated at the same path misses and
  rebuilds instead of serving the old models and frames. The
  applicationId scopes an entry to the session that built it: its
  localCheckpoint-pinned frames are dead references once that session
  stops, so every artifact is built once per (session, corpus content).
- Eviction: every call drops the entries of every other application from
  the whole memo (one live session per process), and the entries of the
  same corpus path under an earlier fingerprint, so a long-lived process
  that cycles sessions or regenerates a corpus does not grow it without
  bound.

Durable stores (the MinHash band store with per-bucket sizes, the v0
and full-corpus keep-list labels, the verified text/image pair tables,
the IVF index) sit behind the same memo: on a miss, ``durable_frames``
loads the store from disk, building and committing it first only if no
session ever did. A recrawl runs in a NEW session, where re-deriving
the v0 store from the v0 corpus would be the one scan incremental
maintenance exists to avoid, so each store is written ONCE as parquet
under a per-corpus directory, and the memo entry holds a pinned scan of
it (partition/row-group pruning instead of an executor-pinned lineage).

Layout, the shape the operator docstrings promise:
- the band store is directory-partitioned on ``band`` and
  row-group-clustered on ``bh`` (sortWithinPartitions), so a
  (band, bh) probe is a partition-pruned, stats-pruned read;
- labels are written clustered on ``doc_id``, the pair tables on
  ``doc_a``/``img_a``, the IVF index on ``vec_id``; key-ordered row
  groups make the delta-bounded semi-joins point-lookup-shaped.
At 100 TB these directories live on cloud storage next to the
exactly-once sinks' batch dirs; the write uses the same
stage-then-atomic-rename commit, so a concurrent builder of the same
store either wins the rename or discards its staging copy (the content
is a deterministic function of the corpus, so either copy is correct).

Staleness on disk: the per-corpus directory is named by the same
fingerprint, so a regenerated corpus gets a fresh store, and
``STORE_FORMAT`` is part of every store path. BUMP IT whenever
store-building logic changes, or a new session would silently read an
artifact the old logic wrote.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession

# Bump on ANY change to store-building logic (shingling, minhash perms,
# band count, CC labeling, IVF assignment, pair verify filter, ...).
STORE_FORMAT = "v1"


def store_root() -> str:
    """Base directory for durable stores. Overridable for tests and for
    pointing at shared storage; defaults under the repo's gitignored
    warehouse dir."""
    env = os.environ.get("SPARK_GRAFT_STORE_DIR")
    if env:
        return env
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    return os.path.join(repo, "spark-warehouse", "stores")


def corpus_fingerprint(sf_dir: str) -> str:
    """Identity of a corpus directory: absolute path plus (name, size,
    mtime_ns) of each parquet table. A regenerated corpus — same path,
    new files — fingerprints differently, so stores can never go stale
    against their own inputs; identical files reuse the store across
    sessions AND processes."""
    h = hashlib.sha1(os.path.abspath(sf_dir).encode())
    try:
        names = sorted(os.listdir(sf_dir))
    except OSError:
        names = []
    for name in names:
        if not name.endswith(".parquet"):
            continue
        p = os.path.join(sf_dir, name)
        st = os.stat(p)
        h.update(f"|{name}:{st.st_size}:{st.st_mtime_ns}".encode())
    return h.hexdigest()[:16]


def store_path(sf_dir: str, name: str) -> str:
    return os.path.join(
        store_root(), corpus_fingerprint(sf_dir), f"{name}-{STORE_FORMAT}"
    )


def _gc_stale_fingerprints(sf_dir: str, current_fp: str) -> None:
    """Drop store dirs left by EARLIER fingerprints of the same corpus
    path (a regenerated corpus re-fingerprints; without GC the old
    artifacts would accumulate forever). Each fingerprint dir records
    its corpus path in a SOURCE file at first write; only dirs claiming
    THIS path are touched — other corpora's stores are never collected."""
    root = store_root()
    src = os.path.abspath(sf_dir)
    try:
        names = os.listdir(root)
    except OSError:
        return
    for fp in names:
        if fp == current_fp:
            continue
        marker = os.path.join(root, fp, "SOURCE")
        try:
            with open(marker) as fh:
                claimed = fh.read().strip()
        except OSError:
            continue
        if claimed == src:
            shutil.rmtree(os.path.join(root, fp), ignore_errors=True)


def _claim_fingerprint(sf_dir: str, fp: str) -> None:
    d = os.path.join(store_root(), fp)
    os.makedirs(d, exist_ok=True)
    marker = os.path.join(d, "SOURCE")
    if not os.path.exists(marker):
        tmp = marker + f".tmp{uuid.uuid4().hex[:6]}"
        with open(tmp, "w") as fh:
            fh.write(os.path.abspath(sf_dir))
        os.replace(tmp, marker)


def _committed(path: str) -> bool:
    return os.path.isfile(os.path.join(path, "_SUCCESS"))


def write_store(
    df: DataFrame,
    path: str,
    partition_by: tuple[str, ...] = (),
    sort_by: tuple[str, ...] = (),
) -> None:
    """Write-once atomic store commit: stage to a sibling temp dir, then
    rename into place. If another builder committed first, keep theirs
    (deterministic content) and discard ours."""
    if _committed(path):
        return
    parent = os.path.dirname(path)
    os.makedirs(parent, exist_ok=True)
    tmp = os.path.join(parent, f"_stage_{os.path.basename(path)}_{uuid.uuid4().hex[:8]}")
    out = df
    if sort_by:
        cluster = list(partition_by) + list(sort_by)
        out = out.repartition(*cluster).sortWithinPartitions(*sort_by)
    writer = out.write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(tmp)
    try:
        os.rename(tmp, path)
    except OSError:
        # lost the race (or a leftover dir without _SUCCESS: replace it)
        if _committed(path):
            shutil.rmtree(tmp, ignore_errors=True)
        else:
            shutil.rmtree(path, ignore_errors=True)
            os.rename(tmp, path)


def replace_dir(df: DataFrame, dest: str) -> None:
    """Replace the parquet directory ``dest`` with ``df``, for stores that
    are rewritten rather than written once. ``df`` is staged to a sibling
    ``_tmp_<name>`` (invisible to Spark's reader, which skips underscore
    paths) and renamed in: one atomic rename when ``dest`` is absent,
    otherwise a swap through ``_old_<name>``. Both names are cleared
    before use, so a crashed attempt's leftovers never accumulate. The
    swap has a window where ``dest`` does not exist; a store read while
    it may be rewritten serializes its readers with this call."""
    parent, name = os.path.split(os.path.normpath(dest))
    tmp = os.path.join(parent, f"_tmp_{name}")
    shutil.rmtree(tmp, ignore_errors=True)
    df.write.mode("overwrite").parquet(tmp)
    if not os.path.exists(dest):
        os.rename(tmp, dest)
        return
    old = os.path.join(parent, f"_old_{name}")
    shutil.rmtree(old, ignore_errors=True)
    os.rename(dest, old)
    os.rename(tmp, dest)
    shutil.rmtree(old, ignore_errors=True)


# (applicationId, corpus abspath, corpus fingerprint, artifact name)
# -> artifact
_ARTIFACTS: dict = {}


def artifact(spark: SparkSession, sf_dir: str, name: str, build):
    """The artifact ``name`` of the corpus at ``sf_dir``: ``build()`` runs
    on the first call per (session, corpus content) and every later call
    returns the same object. ``build`` must localCheckpoint a frame that
    needs executor pinning. Two threads racing on a first call may both
    build; the first result stored is the one both get. Every call drops
    the entries of other sessions and of the same corpus path's earlier
    fingerprints (a corpus regenerated in place)."""
    app = spark.sparkContext.applicationId
    src, fp = os.path.abspath(sf_dir), corpus_fingerprint(sf_dir)
    for k in list(_ARTIFACTS):
        if k[0] != app or (k[1] == src and k[2] != fp):
            _ARTIFACTS.pop(k, None)
    key = (app, src, fp, name)
    if key in _ARTIFACTS:
        return _ARTIFACTS[key]
    return _ARTIFACTS.setdefault(key, build())


# Test hook: called with (sf_dir, [names]) whenever a store BUILD runs.
# The cross-session pytest sets this to a raiser in session B — loading
# from disk must never re-derive the artifact from the corpus.
_ON_BUILD = None


def durable_frames(
    spark: SparkSession,
    sf_dir: str,
    parts: tuple[tuple[str, tuple[str, ...], tuple[str, ...]], ...],
    build,
) -> tuple[DataFrame, ...]:
    """Durable FRAME-valued stores built together (so multi-part
    artifacts can never drift apart): ``parts`` is ((name, partition_by,
    sort_by), ...) and ``build()`` returns matching frames. The first
    call in the first-ever session builds and commits every part; every
    other session loads from disk without touching the corpus.

    The loaded frames are localCheckpoint-pinned: a SESSION CACHE of the
    disk artifact, so the many per-query probe jobs hit executor-
    resident rows instead of re-scanning parquet per action (measured
    ~1 s/query across the incremental-dedup consumers at sf0.1). At
    100 TB the pin is dropped and probes read through the partitioned
    layout directly — the on-disk clustering already supports the
    pruned-probe shape; the pin is a small-store optimization, not a
    correctness dependency."""
    names = [name for name, _, _ in parts]

    def load() -> tuple[DataFrame, ...]:
        paths = [store_path(sf_dir, name) for name in names]
        if not all(_committed(p) for p in paths):
            if _ON_BUILD is not None:
                _ON_BUILD(sf_dir, names)
            fp = corpus_fingerprint(sf_dir)
            _gc_stale_fingerprints(sf_dir, fp)
            _claim_fingerprint(sf_dir, fp)
            frames = build()
            if isinstance(frames, DataFrame):
                frames = (frames,)
            assert len(frames) == len(parts)
            for frame, (_, pby, sby), path in zip(frames, parts, paths):
                write_store(frame, path, pby, sby)
        return tuple(spark.read.parquet(p).localCheckpoint() for p in paths)

    return artifact(spark, sf_dir, "+".join(names), load)


def durable_frame(
    spark: SparkSession,
    sf_dir: str,
    name: str,
    build,
    partition_by: tuple[str, ...] = (),
    sort_by: tuple[str, ...] = (),
) -> DataFrame:
    """Single-frame convenience over durable_frames."""
    return durable_frames(
        spark, sf_dir, ((name, partition_by, sort_by),), build
    )[0]
