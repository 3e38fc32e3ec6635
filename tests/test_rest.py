"""S7 REST facade: the reference's HTTP surface over Spark state.

Pins the envelope format and the method-aware status translation table
(stream_procs_api_http.c:52,236-274), the URL_HAS-style stats routing
(:304-330), and the /procs | /stream_procs settings tree (:134-231)
wired onto a live ConfigStore — GET list/by-id, PUT dual-format settings
upsert, DELETE, each verified through a real HTTP round-trip.
"""

from __future__ import annotations

import json
import urllib.error
import urllib.request

import pytest

from streamprocessors_spark.streaming.rest import (
    NOT_FOUND,
    NOT_MODIFIED,
    OK,
    StateRestServer,
    config_store_routes,
    envelope,
)


def test_envelope_matches_reference_format():
    assert (
        envelope(200, "OK", None, '{"x":1}')
        == '{"code":200,"status":"OK","message":null,"data":{"x":1}}'
    )
    assert (
        envelope(404, "Not Found", "missing", None)
        == '{"code":404,"status":"Not Found","message":"missing","data":null}'
    )


def test_status_translation_table():
    s = StateRestServer()
    s.route("GET", "x", lambda i, q, b: (OK, "1"))
    s.route("POST", "x", lambda i, q, b: (OK, "1"))
    s.route("PUT", "x", lambda i, q, b: (NOT_MODIFIED, None))
    s.route("DELETE", "x", lambda i, q, b: (NOT_FOUND, None))
    assert s.dispatch("GET", "/x")[0] == 200
    assert s.dispatch("POST", "/x")[0] == 201
    assert s.dispatch("PUT", "/x")[0] == 204
    assert s.dispatch("DELETE", "/x")[0] == 404
    # STAT_ENOTFOUND on PUT is 204 in the reference (:252-256); only
    # STAT_ERROR/default gives PUT a 404 (:270-273)
    s.route("PUT", "y", lambda i, q, b: (NOT_FOUND, None))
    assert s.dispatch("PUT", "/y")[0] == 204

    def boom(i, q, b):
        raise ValueError("handler error -> STAT_ERROR")

    s.route("PUT", "z", boom)
    assert s.dispatch("PUT", "/z")[0] == 404
    # unknown collection / method -> 404 envelope
    code, payload = s.dispatch("GET", "/nope")
    assert code == 404
    assert json.loads(payload) == {
        "code": 404,
        "status": "Not Found",
        "message": None,
        "data": None,
    }


def test_stats_needle_routing():
    s = StateRestServer()
    s.stats_route("cpu_stats.json", lambda: '{"cpu":[1,2]}')
    s.stats_route("rss_stats.json", lambda: None)  # supplier outage
    code, payload = s.dispatch("GET", "/stats/v1/cpu_stats.json?x=1")
    assert code == 200
    assert json.loads(payload)["data"] == {"cpu": [1, 2]}
    assert s.dispatch("GET", "/stats/v1/rss_stats.json")[0] == 404
    assert s.dispatch("GET", "/stats/v1/net_stats.json")[0] == 404


def _get(url):
    try:
        with urllib.request.urlopen(url) as r:
            return r.status, json.loads(r.read())
    except urllib.error.HTTPError as e:
        return e.code, json.loads(e.read())


def _send(method, url, body=b""):
    req = urllib.request.Request(url, data=body, method=method)
    try:
        with urllib.request.urlopen(req) as r:
            return r.status, json.loads(r.read())
    except urllib.error.HTTPError as e:
        return e.code, json.loads(e.read())


def test_live_server_programs_summary_and_config(spark, sf_dir, tmp_path):
    from streamprocessors_spark import plans
    from streamprocessors_spark.streaming.control import ConfigStore

    plans.load_all()
    # the engine's envelope query output IS the data payload (the server
    # serves the latest materialized snapshot, like the reference's
    # handler reading the PSI registers)
    summary_row = (
        plans.REGISTRY["ts_programs_summary_json"].fn(spark, sf_dir).collect()
    )
    assert len(summary_row) == 1
    snapshot = summary_row[0][0]

    server = StateRestServer()
    # full envelope queries already carry code/status; serve their data
    server.stats_route(
        "programs_summary.json",
        lambda: json.dumps(json.loads(snapshot)["data"]),
    )
    store = ConfigStore(spark, path=str(tmp_path / "cfg"))
    (tmp_path / "cfg").mkdir()
    config_store_routes(server, store)
    port = server.start()
    base = f"http://127.0.0.1:{port}"
    try:
        # GET programs summary through a real socket
        code, env = _get(f"{base}/api/v1/programs_summary.json")
        assert code == 200 and env["status"] == "OK"
        assert env["data"] == json.loads(snapshot)["data"]

        # settings lifecycle: PUT (query-string doc) -> GET -> PUT (JSON
        # doc, seq bumps) -> DELETE -> 404
        code, env = _send("PUT", f"{base}/procs/7?tag=alpha&cbr=900")
        assert code == 200 and env["data"]["seq"] == 1
        code, env = _get(f"{base}/procs/7")
        assert code == 200 and env["data"]["doc"] == "tag=alpha&cbr=900"
        code, env = _send(
            "PUT", f"{base}/procs/7", body=b'{"tag":"beta","cbr":"1100"}'
        )
        assert code == 200 and env["data"]["seq"] == 2
        code, env = _get(f"{base}/stream_procs/7")  # same tree, other root
        assert json.loads(env["data"]["doc"])["tag"] == "beta"
        code, env = _get(f"{base}/procs")
        assert code == 200 and [d["sys_id"] for d in env["data"]] == [7]
        code, env = _send("DELETE", f"{base}/procs/7")
        assert code == 200
        code, env = _get(f"{base}/procs")
        assert env["data"] == []
        code, env = _send("DELETE", f"{base}/procs/7")
        assert code == 404
    finally:
        server.close()


def test_live_settings_flow_feeds_engine_parser(spark, tmp_path):
    """The PUT doc round-trips into the engine's dual-format settings
    parser (P9) — the REST layer stores bytes, normalize_settings decodes
    them, closing the S7 -> S5 -> P9 loop."""
    from streamprocessors_spark.streaming.control import (
        ConfigStore,
        normalize_settings,
    )

    server = StateRestServer()
    store = ConfigStore(spark, path=str(tmp_path / "cfg2"))
    (tmp_path / "cfg2").mkdir()
    config_store_routes(server, store)
    port = server.start()
    base = f"http://127.0.0.1:{port}"
    try:
        _send("PUT", f"{base}/procs/1?cbr=900&tag=x")
        _send("PUT", f"{base}/procs/2", body=b'{"cbr":"1100","tag":"y"}')
        parsed = {
            int(r.sys_id): r
            for r in normalize_settings(store.read()).collect()
        }
        assert parsed[1].is_json is False
        assert parsed[1].cbr == "900" and parsed[1].tag == "x"
        assert parsed[2].is_json is True
        assert parsed[2].cbr == "1100" and parsed[2].tag == "y"
    finally:
        server.close()


def test_latency_profile_collector_and_rest(spark, sf_dir):
    """A6 end-to-end: a StreamingQueryListener captures per-micro-batch
    progress (the Spark analog of the reference's rolling fan-out-latency
    profile, mpeg2_sp.c:1409-1418), materializes it as a DataFrame, and
    the rolling summary serves through the S7 stats route."""
    import time

    from streamprocessors_spark.streaming.metrics import ProgressCollector
    from streamprocessors_spark.streaming.runner import (
        run_available_now,
        stream_documents,
    )

    col = ProgressCollector()
    spark.streams.addListener(col)
    try:
        docs = stream_documents(spark, sf_dir)
        out = run_available_now(
            docs.selectExpr("doc_id", "length(text) as n"), "append"
        )
        assert out.count() > 0
        # progress events arrive on the listener bus asynchronously
        deadline = time.time() + 30
        while not col.snapshot() and time.time() < deadline:
            time.sleep(0.2)
        rows = col.snapshot()
        assert rows, "no progress events captured"
        df = col.to_df(spark)
        got = df.selectExpr("sum(input_rows) as n").collect()[0].n
        assert got == out.count()

        stats = json.loads(col.latency_stats_json())
        assert stats["n_batches"] == len(rows)
        assert stats["total_rows"] == got
        assert stats["avg_trigger_ms"] is not None

        server = StateRestServer()
        server.stats_route("latency_stats.json", col.latency_stats_json)
        port = server.start()
        try:
            code, env = _get(
                f"http://127.0.0.1:{port}/stats/latency_stats.json"
            )
            assert code == 200
            assert env["data"]["total_rows"] == got
        finally:
            server.close()
    finally:
        spark.streams.removeListener(col)


def test_progress_collector_keeps_phases_and_state_metrics(spark, sf_dir):
    """ProgressCollector keeps each batch's full durationMs phase map and
    its summed state-operator metrics, and latency_stats.json exposes
    them: a stateful availableNow aggregation pinned to 2 partitions must
    report 2 shuffle partitions and one state row per group."""
    import time

    from streamprocessors_spark.streaming.metrics import ProgressCollector
    from streamprocessors_spark.streaming.runner import (
        run_available_now,
        stream_documents,
    )

    col = ProgressCollector()
    spark.streams.addListener(col)
    try:
        agg = stream_documents(spark, sf_dir).groupBy("source").count()
        out = run_available_now(agg, "complete", shuffle_partitions=2)
        n_groups = out.count()
        assert n_groups > 0
        deadline = time.time() + 30
        while not col.snapshot() and time.time() < deadline:
            time.sleep(0.2)
        spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    finally:
        spark.streams.removeListener(col)

    rows = col.snapshot()
    assert rows, "no progress events captured"
    for r in rows:
        assert {"addBatch", "triggerExecution"} <= set(r[7])
        assert r[7]["triggerExecution"] == r[6]
        assert r[11] == 2  # one stateful operator, 2 partitions
    assert rows[-1][8] == n_groups

    df = col.to_df(spark)
    assert df.selectExpr("max(state_shuffle_partitions) AS p").first().p == 2

    stats = json.loads(col.latency_stats_json())
    assert stats["state_shuffle_partitions"] == 2
    assert stats["state_rows_total"] == n_groups
    assert stats["state_commit_ms_total"] == sum(r[10] for r in rows)
    assert stats["phase_ms_total"]["triggerExecution"] == sum(
        r[6] for r in rows
    )
    assert stats["n_batches"] == len(rows)


def test_malformed_id_is_404_not_crash():
    """A non-numeric object id (or any handler exception) must produce a
    404 envelope, never a dropped connection — the reference's 'any other
    combination is 404' rule (stream_procs_api_http.c:270-273)."""
    s = StateRestServer()

    def boom(obj_id, q, b):
        raise ValueError(int(obj_id))  # int('abc') -> ValueError

    s.route("GET", "procs", boom)
    code, payload = s.dispatch("GET", "/procs/abc")
    assert code == 404
    assert json.loads(payload)["status"] == "Not Found"


def test_stats_supplier_exception_is_404():
    """A raising stats supplier must produce the 404 envelope (the module's
    'never a dropped connection' rule), same as route handlers."""
    s = StateRestServer()

    def boom():
        raise RuntimeError("listener gone")

    s.stats_route("cpu_stats.json", boom)
    code, payload = s.dispatch("GET", "/stats/v1/cpu_stats.json")
    assert code == 404
    assert json.loads(payload)["status"] == "Not Found"


def test_concurrent_puts_and_gets_are_serialized(spark, tmp_path):
    """ThreadingHTTPServer races (ADVICE r4): N concurrent PUTs to one
    sys_id must mint N DISTINCT seqs (the read-modify-write serializes
    behind the store lock), and GETs racing the directory swap must never
    see a transient 404/empty store."""
    import threading as _th

    from streamprocessors_spark.streaming.control import ConfigStore

    server = StateRestServer()
    store = ConfigStore(spark, path=str(tmp_path / "cfg"))
    (tmp_path / "cfg").mkdir()
    config_store_routes(server, store)
    port = server.start()
    base = f"http://127.0.0.1:{port}"
    try:
        _send("PUT", f"{base}/procs/1?cbr=1")  # seed so GETs see data
        results: list[tuple[int, dict]] = []
        errors: list[tuple[int, dict]] = []
        lock = _th.Lock()

        def put_one(i):
            code, env = _send("PUT", f"{base}/procs/1?cbr={i}")
            with lock:
                results.append((code, env))

        def get_loop():
            for _ in range(10):
                code, env = _get(f"{base}/procs/1")
                with lock:
                    if code != 200:
                        errors.append((code, env))

        threads = [_th.Thread(target=put_one, args=(i,)) for i in range(6)]
        threads += [_th.Thread(target=get_loop) for _ in range(2)]
        for t in threads:
            t.start()
        for t in threads:
            t.join()

        assert all(code == 200 for code, _ in results), results
        seqs = [env["data"]["seq"] for _, env in results]
        assert len(set(seqs)) == len(seqs), f"duplicate seq minted: {seqs}"
        assert not errors, f"GET saw transient failure: {errors[:3]}"
        # final state reflects every PUT: seed + 6 -> seq 7
        code, env = _get(f"{base}/procs/1")
        assert env["data"]["seq"] == 7
    finally:
        server.close()


def test_get_waits_for_a_held_store_swap(spark, tmp_path, monkeypatch):
    """A GET arriving while a PUT's directory swap has the store renamed
    out must wait for the swap and read the new table, never answer 404:
    the swap is held open for ~3 s, longer than any retry budget."""
    import os
    import threading as _th

    from streamprocessors_spark.streaming import control

    cfg = str(tmp_path / "cfg")
    server = StateRestServer()
    store = control.ConfigStore(spark, path=cfg)
    (tmp_path / "cfg").mkdir()
    config_store_routes(server, store)
    port = server.start()
    base = f"http://127.0.0.1:{port}"
    try:
        assert _send("PUT", f"{base}/procs/1?cbr=1")[0] == 200

        swapped_out, release = _th.Event(), _th.Event()
        real_rename = control.os.rename

        def held_rename(src, dst):
            real_rename(src, dst)
            if os.path.abspath(src) == cfg:  # the live store just left
                swapped_out.set()
                release.wait(3)

        monkeypatch.setattr(control.os, "rename", held_rename)
        put = _th.Thread(target=_send, args=("PUT", f"{base}/procs/1?cbr=2"))
        put.start()
        assert swapped_out.wait(120), "the PUT never swapped the store"
        got = []
        reader = _th.Thread(target=lambda: got.append(_get(f"{base}/procs/1")))
        reader.start()
        reader.join(120)
        put.join(120)
        code, env = got[0]
        assert code == 200, env
        assert env["data"]["seq"] == 2
    finally:
        release.set()
        server.close()


def test_monitor_stats_live_roundtrip(spark, sf_dir):
    """VERDICT r11 #5 — the monitor→REST loop: drift_remediation_plan
    and ivf_retrain_plan worklists materialize into MonitorStats and
    serve live over HTTP with the reference envelope, next to the
    latency-profile supplier. Before a monitor's first materialization
    its endpoint is 404 (absent supplier semantics)."""
    from streamprocessors_spark import plans
    from streamprocessors_spark.streaming.rest import MonitorStats

    plans.load_all()
    mon = MonitorStats()
    server = StateRestServer()
    mon.routes(server, "drift_remediation", "ivf_retrain", "recrawl_round")
    port = server.start()
    try:
        base = f"http://127.0.0.1:{port}/stats/v1"
        # never materialized -> 404 with the envelope
        code, env = _send("GET", f"{base}/drift_remediation_stats.json")
        assert (code, env["status"], env["data"]) == (404, "Not Found", None)

        drift = plans.REGISTRY["drift_remediation_plan"].fn(spark, sf_dir)
        n_drift = mon.refresh("drift_remediation", drift)
        retrain = plans.REGISTRY["ivf_retrain_plan"].fn(spark, sf_dir)
        n_retrain = mon.refresh("ivf_retrain", retrain)
        assert n_drift > 0 and n_retrain > 0

        code, env = _get(f"{base}/drift_remediation_stats.json")
        assert code == 200 and env["code"] == 200 and env["status"] == "OK"
        assert env["data"]["n_rows"] == n_drift
        assert len(env["data"]["rows"]) == n_drift
        # the remediation plan's action columns reach the dashboard
        assert {"source", "drifted"} <= set(env["data"]["rows"][0])

        code, env = _get(f"{base}/ivf_retrain_stats.json")
        assert code == 200
        assert env["data"]["n_rows"] == n_retrain
        assert "cell" in env["data"]["rows"][0]

        # the composed one-recrawl-round report serves the same way —
        # the dashboard's single end-of-round poll
        report = plans.REGISTRY["recrawl_round_report"].fn(spark, sf_dir)
        n_report = mon.refresh("recrawl_round", report)
        code, env = _get(f"{base}/recrawl_round_stats.json")
        assert code == 200 and env["data"]["n_rows"] == n_report
        row = env["data"]["rows"][0]
        assert {"source", "n_added", "n_removed", "n_changed",
                "n_kept_upserts", "drifted", "budget_tok",
                "n_index_appends"} <= set(row)

        # a refresh REPLACES the snapshot (latest-materialization wins)
        mon.refresh("ivf_retrain", retrain.limit(1))
        code, env = _get(f"{base}/ivf_retrain_stats.json")
        assert env["data"]["n_rows"] == 1
    finally:
        server.close()
