"""Control plane: settings documents + config store (SURVEY §3.2, §7.2 m6).

The reference PUTs processor settings (JSON *or* URL query-string, guessed
by leading '{' — P9, mpeg2_sp.c:692-826) and persists them to MongoDB as a
delete-then-insert-then-verify keyed by ``sys_id`` (S5,
dbdriver_apps_procs_docs.c:104-350). Spark-first restatement:

- the settings stream is a DataFrame; both input formats are decoded
  JVM-side (``from_json`` / ``str_to_map``) behind one normalizer;
- the store is a parquet-backed table upserted per micro-batch in
  ``foreachBatch`` — last-writer-wins per sys_id, rewritten by
  ``storage.replace_dir``'s staged directory swap (Delta's MERGE is the
  managed-platform analog; plain parquet keeps the container
  dependency-free);
- the store's own lock serializes every rewrite with the collected reads
  (``rows()``), as the reference's API readers take the mutex its
  register swap holds (psi_proc.c:371-390): a reader sees the old table
  or the new one, never the swap's missing-directory window;
- S5's read-back verification becomes a post-merge count/content assert.

At scale the store is a dimension table (thousands of processors, not
rows-per-event); the per-batch merge reads it fully, unions the batch
deltas and rewrites — the classic small-dim upsert. The event stream side
stays untouched.
"""

from __future__ import annotations

import os
import tempfile
import threading

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from streamprocessors_spark.storage import replace_dir

# Reference settings keys (mpeg2_sp.c:111-132 + app_prog_proc.c:95-139).
SETTINGS_FIELDS = [
    "tag",
    "input_url",
    "output_url",
    "brctrl_type",
    "cbr",
    "flag_clear_input_bitrate_peak",
    "flag_purge_disassociated_processors",
]

_JSON_SCHEMA = ", ".join(f"{k}: STRING" for k in SETTINGS_FIELDS)


def normalize_settings(df: DataFrame, doc_col: str = "doc") -> DataFrame:
    """P9 dual-format settings decode, JVM-side.

    Accepts JSON ('{...}') or URL query-string ('k=v&k2=v2') in ``doc_col``
    — the same leading-brace format guess as the reference
    (mpeg2_sp.c:716) — and yields one nullable STRING column per known
    settings key plus ``is_json``.
    """
    is_json = F.expr(f"startswith(ltrim({doc_col}), '{{')")
    js = F.from_json(F.col(doc_col), f"STRUCT<{_JSON_SCHEMA}>")
    qs = f"str_to_map({doc_col}, '&', '=')"
    cols = [
        # try_element_at: ANSI mode makes plain map access on a missing key
        # an error, and query-string docs carry only a subset of keys.
        F.when(is_json, js[k])
        .otherwise(F.expr(f"try_element_at({qs}, '{k}')"))
        .alias(k)
        for k in SETTINGS_FIELDS
    ]
    return df.select(*df.columns, is_json.alias("is_json"), *cols)


class ConfigStore:
    """Parquet-backed processor-configuration table keyed by sys_id.

    upsert(): last-writer-wins merge of a batch of (sys_id, seq, doc)
    settings rows — the reference's replace-by-sys_id (S5) with ``seq``
    as the writer-ordering tiebreak. ``upsert``, ``delete`` and ``rows``
    run under ``lock``, so a concurrent reader never meets the rewrite's
    directory swap; a caller holds ``lock`` (re-entrant) across a
    read-modify-write such as minting the next ``seq``. ``read()`` is a
    lazy scan for a store nobody is rewriting.
    """

    def __init__(self, spark: SparkSession, path: str | None = None) -> None:
        self.spark = spark
        self.path = path or tempfile.mkdtemp(prefix="spgraft_config_")
        self.lock = threading.RLock()

    def read(self) -> DataFrame:
        if not any(f.endswith(".parquet") for f in os.listdir(self.path)):
            return self.spark.createDataFrame(
                [], "sys_id BIGINT, seq BIGINT, doc STRING"
            )
        return self.spark.read.parquet(self.path)

    def rows(self) -> dict[int, tuple[int, str]]:
        """``{sys_id: (seq, doc)}`` of the whole store."""
        with self.lock:
            return {
                int(r.sys_id): (int(r.seq), r.doc)
                # bounded: one row per configured system
                for r in self.read().collect()
            }

    def upsert(self, batch: DataFrame) -> int:
        """Merge a settings batch; returns the post-merge row count (the
        reference's read-back verify, dbdriver_apps_procs_docs.c:265-350)."""
        with self.lock:
            merged = (
                self.read()
                .unionByName(batch.select("sys_id", "seq", "doc"))
                .withColumn(
                    "rn",
                    F.row_number().over(
                        Window.partitionBy("sys_id").orderBy(F.col("seq").desc())
                    ),
                )
                .where("rn = 1")
                .drop("rn")
            )
            replace_dir(merged.coalesce(1), self.path)
            return self.read().count()

    def delete(self, sys_id: int) -> bool:
        """Remove ``sys_id``'s settings; False when it was not stored."""
        with self.lock:
            if sys_id not in self.rows():
                return False
            remaining = self.read().where(F.col("sys_id") != sys_id)
            replace_dir(remaining.coalesce(1), self.path)
            return True

    def foreach_batch(self):
        """Sink function for ``writeStream.foreachBatch`` (S5 per-epoch
        merge; Structured Streaming epochs give the crash-isolation the
        reference got from fork-per-update, mpeg2_sp.c:1665-1716)."""

        def fn(batch_df: DataFrame, epoch_id: int) -> None:
            if batch_df.isEmpty():
                return
            self.upsert(batch_df)

        return fn


def parse_udp_url(url: str | None) -> tuple[str, int] | None:
    """'udp://host:port' -> (host, port); empty/None/other scheme -> None.

    The reference treats an empty ``input_url`` PUT as 'close input'
    (mpeg2_sp.c:722-736); we mirror that by returning None.
    """
    if not url:
        return None
    url = url.strip()
    if not url.startswith("udp://"):
        return None
    hostport = url[len("udp://") :]
    host, _, port = hostport.rpartition(":")
    if host.startswith("[") and host.endswith("]"):
        # Bracketed IPv6 literal ('udp://[::1]:2000') — socket APIs want the
        # bare address, so strip the URL brackets.
        host = host[1:-1]
    if not host or not port.isdigit():
        return None
    return host, int(port)


class InputSupervisor:
    """S2 input reconfiguration, config-table driven.

    The reference swaps the ingest socket atomically on an ``input_url``
    PUT — set / clear / change (comm_reset_external call sites,
    mpeg2_sp.c:722-784). Spark restatement: the settings doc lives in the
    ConfigStore; ``reconcile()`` diffs the stored URL against the running
    streaming query and stops/starts it to match (SURVEY S2: "restart
    streaming query with new source options"). The exercised matrix —
    set, clear, wrong-port, restore — is the reference's own e2e soak
    (utests_mpeg2_sp.cpp:143-188).
    """

    def __init__(self, store: ConfigStore, sys_id: int, build_query) -> None:
        """``build_query(host, port, generation) -> StreamingQuery``."""
        self.store = store
        self.sys_id = sys_id
        self.build_query = build_query
        self.query = None
        self.current_url: str | None = None
        self.generation = 0

    def desired_url(self) -> str | None:
        stored = self.store.rows().get(self.sys_id)
        if stored is None:
            return None
        doc = self.store.spark.createDataFrame([(stored[1],)], "doc STRING")
        return normalize_settings(doc).first().input_url

    def reconcile(self):
        """Make the running query match the stored input_url; returns the
        active query (or None when input is closed).

        Failure-recovery semantics (the scenario the supervisor exists
        for): a DEAD predecessor query re-raises its
        StreamingQueryException from awaitTermination(), and a failing
        build_query (e.g. bind error) must not mark the URL as applied —
        the reference swaps the socket regardless of the prior input's
        state (comm_reset_external, mpeg2_sp.c:722-784), so the next
        reconcile() with the same stored URL retries instead of wedging.
        """
        from pyspark.errors import StreamingQueryException

        url = self.desired_url()
        if url == self.current_url and (
            self.query is None or self.query.isActive
        ):
            return self.query
        if self.query is not None:
            try:
                self.query.stop()
                self.query.awaitTermination()
            except StreamingQueryException:
                pass  # predecessor died on its own; the swap proceeds
            self.query = None
        parsed = parse_udp_url(url)
        if parsed is None:
            self.current_url = url
            return None
        self.generation += 1
        try:
            self.query = self.build_query(parsed[0], parsed[1], self.generation)
        except Exception:
            # Not applied: clear so the next reconcile() retries this URL.
            self.current_url = None
            raise
        self.current_url = url
        return self.query
