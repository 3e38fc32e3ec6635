"""Exactly-once foreachBatch machinery (VERDICT r10 #1).

Structured Streaming's checkpoint gives foreachBatch *at-least-once*
delivery: after a crash the last uncommitted micro-batch is REPLAYED with
the same ``batch_id``. A sink that appends blindly therefore duplicates
that batch's output, and a sink that carries driver-side state (per-source
offsets, standing labels) resumes from state that may already include the
replayed batch. Exactly-once needs two properties, both keyed on the
``batch_id`` foreachBatch hands us (the contract the reference's ingest
daemon gets from its single-writer event loop; here it must be rebuilt on
top of replayed batches):

1. **Idempotent output**: each batch writes to its OWN ``batch_id=N``
   directory with mode=overwrite, so a replay replaces its previous
   (possibly partial) output instead of appending a second copy. The
   drain-time read unions the per-batch directories.
2. **Recoverable state**: the bounded driver state is snapshotted per
   batch (same overwrite-by-batch_id discipline). When batch N starts and
   the in-memory state is not warm from batch N-1 of THIS process (fresh
   dict after a restart), the state is rebuilt from the newest snapshot
   with id < N — never N itself, which may be the half-committed artifact
   of the crashed attempt.

Both writes land under one working directory so a kill-and-restart test
(and a real driver restart) can resume by passing the same dir back in.
At 100 TB the per-batch directories are the standard cloud-storage commit
pattern (each batch's files are atomic-visible on rename); the JSON state
snapshots stay source-count-sized.
"""

from __future__ import annotations

import json
import os
import re
from typing import Any

from pyspark.sql import DataFrame, SparkSession

from streamprocessors_spark.storage import replace_dir

_BATCH_DIR_RE = re.compile(r"^batch_id=(\d+)$")
_STATE_FILE_RE = re.compile(r"^state_(\d+)\.json$")


def write_batch_output(df: DataFrame, sink: str, batch_id: int) -> None:
    """Idempotent per-batch parquet write: a replayed batch replaces
    its own directory, so retries never duplicate output.

    Atomic-visible through ``storage.replace_dir``: the batch is staged
    in ``_tmp_batch_id=N`` (invisible to read_sink's ``batch_id=N``
    listing and to Spark's reader, which skips underscore paths) and
    renamed into place. A first-attempt commit is therefore a single
    atomic rename — a concurrent drain never observes a half-written or
    vanished directory, which mode=overwrite straight into
    ``batch_id=N`` did (it deletes the dir for the whole duration of the
    rewrite). Only a replay of an already-committed batch (crash
    recovery, when no live reader runs by definition) briefly swaps the
    old dir out through ``_old_batch_id=N``."""
    replace_dir(df, os.path.join(sink, f"batch_id={batch_id}"))


def read_sink(spark: SparkSession, sink: str, schema: str) -> DataFrame:
    """Union of every committed batch directory; an empty frame with the
    given schema when no batch ever wrote."""
    dirs = [
        os.path.join(sink, d)
        for d in sorted(os.listdir(sink))
        if _BATCH_DIR_RE.match(d)
    ] if os.path.isdir(sink) else []
    if not dirs:
        return spark.createDataFrame([], schema)
    return spark.read.schema(schema).parquet(*dirs)


def write_state_snapshot(workdir: str, batch_id: int, state: dict) -> None:
    """Snapshot the bounded driver state AFTER batch ``batch_id``.
    Write-then-rename so a crash mid-write never leaves a torn snapshot
    a restart could load; overwriting on replay is safe because the
    content is a deterministic function of snapshot N-1 + batch N."""
    path = os.path.join(workdir, f"state_{batch_id}.json")
    tmp = path + ".tmp"
    with open(tmp, "w") as fh:
        json.dump(state, fh)
    os.replace(tmp, path)


def load_state_snapshot(
    workdir: str, before_batch: int
) -> tuple[int, dict] | None:
    """Newest snapshot with batch_id < ``before_batch`` (None when no
    prior batch committed state — a cold start, or a replay of the very
    first batch). Strictly-less: batch N's own snapshot may be the
    half-committed artifact of a crashed attempt and must be rebuilt."""
    if not os.path.isdir(workdir):
        return None
    best = None
    for fn in os.listdir(workdir):
        m = _STATE_FILE_RE.match(fn)
        if m and int(m.group(1)) < before_batch:
            bid = int(m.group(1))
            if best is None or bid > best:
                best = bid
    if best is None:
        return None
    with open(os.path.join(workdir, f"state_{best}.json")) as fh:
        return best, json.load(fh)


def recover_state(
    state: dict, batch_id: int, workdir: str, init: dict
) -> None:
    """Ensure ``state`` is correct for processing batch ``batch_id``:
    warm (this process handled batch_id - 1, or any earlier batch with
    only empty/skipped batches between) -> keep it; otherwise rebuild
    from the newest snapshot older than batch_id, falling back to
    ``init``. Mutates ``state`` in place."""
    last = state.get("last_batch")
    if last is not None and last < batch_id:
        return  # warm: this process already advanced past last_batch
    snap = load_state_snapshot(workdir, batch_id)
    state.clear()
    if snap is None:
        state.update(json.loads(json.dumps(init)))  # deep copy
        state["last_batch"] = None
    else:
        bid, data = snap
        state.update(data)
        state["last_batch"] = bid


def latest_batch_dir(sink: str, before_batch: int) -> str | None:
    """Newest ``batch_id=N`` directory with N < before_batch (the
    frame-valued analogue of load_state_snapshot, for sinks whose state
    IS a DataFrame, e.g. standing keep-list labels)."""
    if not os.path.isdir(sink):
        return None
    best: int | None = None
    for d in os.listdir(sink):
        m = _BATCH_DIR_RE.match(d)
        if m and int(m.group(1)) < before_batch:
            bid = int(m.group(1))
            if best is None or bid > best:
                best = bid
    if best is None:
        return None
    return os.path.join(sink, f"batch_id={best}")


def mark_done(state: dict, batch_id: int) -> None:
    state["last_batch"] = batch_id


class PlantedFault(RuntimeError):
    """Raised by test fault hooks to simulate a mid-replay driver crash."""


def maybe_fault(fault: Any, batch_id: int) -> None:
    """Invoke a test-only fault hook (None in production paths)."""
    if fault is not None:
        fault(batch_id)
