"""Shared plumbing: run hygiene, the Spark session, spans, event-log and
streaming-progress readers, and small statistics helpers."""

from __future__ import annotations

import glob
import json
import os
import re
import shutil
import sys
import tempfile
import threading
import time
from contextlib import contextmanager
from datetime import datetime, timezone

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK_ROOT = os.path.join(ROOT, ".bench_work")
ENGINE_DIR = os.path.join(ROOT, "streamprocessors_spark")

# engine knobs a caller's shell may carry; each run starts from the defaults
SCRUBBED_ENV = (
    "SPARK_GRAFT_SHUFFLE_PARTITIONS",
    "SPARK_GRAFT_STREAM_SHUFFLE_PARTITIONS",
    "SPARK_GRAFT_STORE_DIR",
)


def nproc() -> int:
    """CPUs this process may run on, as `nproc` counts them."""
    return len(os.sched_getaffinity(0))


def task_slots() -> int:
    """nproc - 1: one core stays free for the load generator, the REST
    poller and the Spark driver."""
    return max(1, nproc() - 1)


def prepare_run(tag: str) -> str:
    """Scrub engine overrides, point every temp/store path at a fresh
    per-run directory inside the checkout, and return that directory."""
    for k in SCRUBBED_ENV:
        os.environ.pop(k, None)
    work = os.path.join(WORK_ROOT, f"{tag}-{os.getpid()}-{time.time_ns()}")
    for sub in ("tmp", "local", "stores", "warehouse", "events"):
        os.makedirs(os.path.join(work, sub))
    os.environ["SPARK_GRAFT_STORE_DIR"] = os.path.join(work, "stores")
    os.environ["SPARK_GRAFT_CPUS"] = str(task_slots())
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    # the spark-submit launcher JVM: keep its perf-data file out of /tmp
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    # Python workers import the engine from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    tempfile.tempdir = os.path.join(work, "tmp")
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    return work


def start_spark(work: str, app: str, event_log: bool = False, master: str | None = None):
    """The engine's own session; extra conf only relocates files into
    the run directory (and turns on the event log for traced runs)."""
    from streamprocessors_spark.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.local.dir": os.path.join(work, "local"),
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData"
        ),
    }
    if event_log:
        conf["spark.eventLog.enabled"] = "true"
        conf["spark.eventLog.dir"] = os.path.join(work, "events")
        conf["spark.eventLog.compress"] = "false"
        conf["spark.eventLog.rolling.enabled"] = "false"
    spark = get_spark(app_name=app, master=master, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


@contextmanager
def spark_session(work: str, app: str, event_log: bool = False, master: str | None = None):
    """start_spark ... stop_spark, also when the body raises."""
    spark = start_spark(work, app, event_log=event_log, master=master)
    try:
        yield spark
    finally:
        stop_spark(spark)


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for it."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    spark.stop()
    proc = getattr(gw, "proc", None) if gw is not None else None
    if gw is not None:
        gw.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the gateway JVM exits when stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 — last resort: never leave it running
            proc.kill()
            proc.wait(timeout=30)


def cleanup(work: str) -> None:
    shutil.rmtree(work, ignore_errors=True)


def effective_conf(spark) -> dict:
    keep = ("spark.master", "spark.sql.shuffle.partitions", "spark.sql.adaptive",
            "spark.sql.execution.arrow", "spark.driver.memory", "spark.default.parallelism")
    conf = {k: v for k, v in spark.sparkContext.getConf().getAll() if k.startswith(keep)}
    conf["defaultParallelism"] = spark.sparkContext.defaultParallelism
    conf["spark.sql.shuffle.partitions"] = spark.conf.get("spark.sql.shuffle.partitions")
    return conf


def calibrate(spark) -> dict:
    """calib_sec / calib_1t_sec, computed the way bench.py does: a
    CPU-bound aggregate over 200M rows and a single-task 25M-row one,
    each warmed once, min of two."""

    def run(n: int, parts: int | None) -> float:
        t = time.perf_counter()
        df = spark.range(0, n, numPartitions=parts) if parts else spark.range(n)
        df.selectExpr("sum(id % 1000) as s", "count(1) as n").collect()
        return time.perf_counter() - t

    run(200_000_000, None)
    calib = min(run(200_000_000, None), run(200_000_000, None))
    run(25_000_000, 1)
    calib_1t = min(run(25_000_000, 1), run(25_000_000, 1))
    return {"calib_sec": round(calib, 3), "calib_1t_sec": round(calib_1t, 3)}


# -- statistics ---------------------------------------------------------------


def pct(values, q: float) -> float:
    """Linear-interpolated percentile, q in [0, 100]."""
    s = sorted(values)
    if not s:
        raise ValueError("no samples")
    k = (len(s) - 1) * q / 100.0
    lo = int(k)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (k - lo)


def median(values) -> float:
    return pct(values, 50)


# -- spans --------------------------------------------------------------------


class Tracer:
    """In-memory spans (name, start, end, parent, trace id), written out
    once at the end. Each span also names the Spark job group of the work
    it covers, so event-log task metrics can be attributed to it. A
    disabled tracer records nothing and sets no job group."""

    def __init__(self, enabled: bool, trace_id: str, spark=None) -> None:
        self.enabled = enabled
        self.trace_id = trace_id
        self.spark = spark
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._lock = threading.Lock()

    @contextmanager
    def span(self, name: str, group: str | None = None, **attrs):
        if not self.enabled:
            yield None
            return
        with self._lock:
            sid = len(self.spans)
            rec = {
                "trace_id": self.trace_id,
                "span_id": sid,
                "parent": self._stack[-1] if self._stack else None,
                "name": name,
                "group": group,
                "start": time.time(),
                "end": None,
                **attrs,
            }
            self.spans.append(rec)
            self._stack.append(sid)
        sc = self.spark.sparkContext if (group and self.spark is not None) else None
        if sc is not None:
            sc.setJobGroup(group, name, False)
        try:
            yield rec
        finally:
            if sc is not None:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)
            rec["end"] = time.time()
            with self._lock:
                self._stack.pop()

    def self_time(self, span: dict) -> float:
        """Span duration minus the part its child spans cover."""
        kids = [s for s in self.spans if s["parent"] == span["span_id"]]
        covered = sum(k["end"] - k["start"] for k in kids)
        return (span["end"] - span["start"]) - covered

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        for s in self.spans:
            s["self_s"] = round(self.self_time(s), 6)
        with open(path, "w") as f:
            json.dump(self.spans, f, indent=1)


# -- Spark event log ----------------------------------------------------------


def read_event_log(events_dir: str, spans: list[dict] | None = None) -> dict[str, dict]:
    """Per job group: jobs, stages, tasks, executor run/GC time and
    shuffle bytes, per-task shuffle-read bytes of each stage (for skew),
    the micro-batches of streaming jobs and their state-store partitions. Jobs
    without a group fall under the grouped span that was open when they
    were submitted (streaming micro-batches run on their own thread), or
    under ''."""
    windows = [(sp["start"], sp["end"], sp["group"]) for sp in spans or () if sp["group"]]

    def group_at(t_ms: float) -> str:
        t = t_ms / 1000.0
        inside = [w for w in windows if w[0] <= t <= w[1]]
        return min(inside, key=lambda w: w[1] - w[0])[2] if inside else ""

    stage_group: dict[int, str] = {}
    out: dict[str, dict] = {}

    def g(name: str) -> dict:
        return out.setdefault(
            name,
            {"jobs": 0, "stages": set(), "tasks": 0, "run_ms": 0, "gc_ms": 0,
             "shuffle_write": 0, "shuffle_read": 0, "stage_reads": {},
             "stream_batches": set(), "stream_partitions": 0},
        )

    for path in sorted(glob.glob(os.path.join(events_dir, "**", "*"), recursive=True)):
        if not os.path.isfile(path) or os.path.basename(path).startswith("."):
            continue
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    qid = props.get("sql.streaming.queryId")
                    if qid:  # micro-batch jobs are grouped by their run id
                        grp = group_at(ev.get("Submission Time", 0))
                    else:
                        grp = props.get("spark.jobGroup.id") or ""
                    rec = g(grp)
                    rec["jobs"] += 1
                    for sid in ev.get("Stage IDs", []):
                        stage_group.setdefault(sid, grp)
                    if qid:
                        rec["stream_batches"].add((qid, props.get("streaming.sql.batchId")))
                        parts = props.get("spark.sql.streaming.internal.stateStore.partitions")
                        if parts:
                            rec["stream_partitions"] = max(rec["stream_partitions"], int(parts))
                elif kind == "SparkListenerTaskEnd":
                    grp = stage_group.get(ev["Stage ID"], "")
                    rec = g(grp)
                    m = ev.get("Task Metrics") or {}
                    rec["stages"].add(ev["Stage ID"])
                    rec["tasks"] += 1
                    rec["run_ms"] += m.get("Executor Run Time", 0)
                    rec["gc_ms"] += m.get("JVM GC Time", 0)
                    sw = m.get("Shuffle Write Metrics") or {}
                    rec["shuffle_write"] += sw.get("Shuffle Bytes Written", 0)
                    sr = m.get("Shuffle Read Metrics") or {}
                    rb = sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                    rec["shuffle_read"] += rb
                    if rb:
                        rec["stage_reads"].setdefault(ev["Stage ID"], []).append(rb)
    for rec in out.values():
        rec["stages"] = len(rec["stages"])
    return out


def skew(reads_by_stage: dict) -> float:
    """max / mean shuffle-read bytes per task, over the widest stage."""
    if not reads_by_stage:
        return 0.0
    reads = max(reads_by_stage.values(), key=len)
    return max(reads) / (sum(reads) / len(reads))


# -- streaming progress -------------------------------------------------------


def progress_dict(p) -> dict:
    if isinstance(p, dict):
        return p
    return json.loads(p.json)


def progress_start_time(p: dict) -> float:
    """Epoch seconds at which the micro-batch's trigger started."""
    ts = datetime.strptime(p["timestamp"], "%Y-%m-%dT%H:%M:%S.%fZ")
    return ts.replace(tzinfo=timezone.utc).timestamp()


def progress_end_time(p: dict) -> float:
    """Epoch seconds at which the micro-batch committed."""
    return progress_start_time(p) + p["durationMs"].get("triggerExecution", 0) / 1000.0


def source_end_seq(p: dict) -> int:
    """The udp_ts source's end offset: datagrams read so far."""
    off = p["sources"][0].get("endOffset")
    m = re.search(r"seq\D*(\d+)", str(off))  # dict, JSON or repr text
    return int(m.group(1)) if m else 0


def make_listener():
    """A benchmark-owned StreamingQueryListener keeping every progress
    event (durationMs, stateOperators, sources) as a plain dict."""
    from pyspark.sql.streaming.listener import StreamingQueryListener

    class Collector(StreamingQueryListener):
        def __init__(self) -> None:
            self.lock = threading.Lock()
            self.progress: list[dict] = []
            self.started: list[dict] = []
            self.label = None  # set by the workload around each query call

        def onQueryStarted(self, event) -> None:
            with self.lock:
                self.started.append(
                    {"id": str(event.id), "name": event.name, "label": self.label}
                )

        def onQueryProgress(self, event) -> None:
            d = json.loads(event.progress.json)
            with self.lock:
                self.progress.append(d)

        def onQueryIdle(self, event) -> None:
            pass

        def onQueryTerminated(self, event) -> None:
            pass

    return Collector()
