"""REST control plane e2e (VERDICT r4 task 9 — varpulis-cli/src/api.rs):
deploy a REFERENCE example program over real HTTP, inject events, and
assert the synchronous outputs, plus auth/limit/error paths via the
transport-independent handler."""

from __future__ import annotations

import json
import urllib.request

import pytest

from varpulis_spark.api import PipelineServer

HVAC_VPL = "/root/reference/examples/hvac_quickstart.vpl"


def _req(url, method="GET", body=None, headers=None):
    data = json.dumps(body).encode() if body is not None else None
    req = urllib.request.Request(url, data=data, method=method,
                                 headers={"Content-Type": "application/json",
                                          **(headers or {})})
    try:
        with urllib.request.urlopen(req, timeout=120) as resp:
            return resp.status, json.loads(resp.read())
    except urllib.error.HTTPError as e:
        return e.code, json.loads(e.read())


@pytest.fixture(scope="module")
def server(spark):
    srv = PipelineServer(spark).start()
    yield srv
    srv.stop()


def test_deploy_inject_e2e_over_http(server):
    """The reference demo workflow: POST the hvac_quickstart example
    (unmodified), inject TemperatureReading events, read alerts from the
    synchronous response (handle_inject api.rs:538-600)."""
    with open(HVAC_VPL) as f:
        source = f.read()
    status, resp = _req(f"{server.url}/api/v1/pipelines", "POST",
                        {"name": "hvac", "source": source})
    assert status == 200 and resp["status"] == "running"
    pid = resp["id"]

    # a cool reading produces no alert
    status, resp = _req(
        f"{server.url}/api/v1/pipelines/{pid}/events", "POST",
        {"event_type": "TemperatureReading",
         "fields": {"sensor_id": "s1", "zone": "lobby", "value": 21.0}})
    assert status == 200 and resp["accepted"] == 1
    assert resp["output_events"] == []

    # a hot reading triggers HighTempAlert (and the AllAlerts merge)
    status, resp = _req(
        f"{server.url}/api/v1/pipelines/{pid}/events", "POST",
        {"event_type": "TemperatureReading",
         "fields": {"sensor_id": "s2", "zone": "server_room", "value": 31.5}})
    assert status == 200
    alerts = [e for e in resp["output_events"] if e["stream"] == "HighTempAlert"]
    assert len(alerts) == 1
    a = alerts[0]["fields"]
    assert a["alert_type"] == "HIGH_TEMPERATURE"
    assert a["zone"] == "server_room" and a["temperature"] == 31.5
    # the delta contract: the cool reading's non-alert did not reappear
    assert all(e["fields"].get("temperature") != 21.0
               for e in resp["output_events"])

    # batch endpoint: two readings, one alerting
    status, resp = _req(
        f"{server.url}/api/v1/pipelines/{pid}/events-batch", "POST",
        {"events": [
            {"event_type": "TemperatureReading",
             "fields": {"sensor_id": "s3", "zone": "attic", "value": 14.0}},
            {"event_type": "HumidityReading",
             "fields": {"sensor_id": "h1", "zone": "attic", "value": 85.0}},
        ]})
    assert status == 200 and resp["accepted"] == 2
    streams = {e["stream"] for e in resp["output_events"]}
    assert "LowTempAlert" in streams and "HumidityAlert" in streams
    hum = next(e for e in resp["output_events"] if e["stream"] == "HumidityAlert")
    assert hum["fields"]["severity"] == "critical"  # 85 > 80
    assert "processing_time_us" in resp

    # lifecycle: list, get, delete
    status, resp = _req(f"{server.url}/api/v1/pipelines")
    assert status == 200 and any(p["id"] == pid for p in resp["pipelines"])
    status, resp = _req(f"{server.url}/api/v1/pipelines/{pid}")
    assert status == 200 and resp["events_ingested"] == 4
    status, resp = _req(f"{server.url}/api/v1/pipelines/{pid}", "DELETE")
    assert status == 200
    status, _ = _req(f"{server.url}/api/v1/pipelines/{pid}")
    assert status == 404


def test_api_key_auth(spark):
    srv = PipelineServer(spark, api_key="sekrit")
    status, resp = srv.handle("GET", "/api/v1/pipelines", b"", {})
    assert status == 401 and resp["error"] == "invalid_api_key"
    status, _ = srv.handle("GET", "/api/v1/pipelines", b"",
                           {"x-api-key": "sekrit"})
    assert status == 200


def test_deploy_rejects_bad_source(spark):
    srv = PipelineServer(spark)
    status, resp = srv.handle(
        "POST", "/api/v1/pipelines",
        json.dumps({"name": "x", "source": "stream ((("}).encode(), {})
    assert status == 400 and resp["error"] == "parse_error"


def test_oversize_body_rejected(spark):
    from varpulis_spark.limits import MAX_EVENT_PAYLOAD_BYTES

    srv = PipelineServer(spark)
    big = json.dumps({"name": "x", "source": "y" * (MAX_EVENT_PAYLOAD_BYTES + 10)})
    status, resp = srv.handle("POST", "/api/v1/pipelines", big.encode(), {})
    assert status == 413


def test_metrics_and_reload(spark):
    """handle_metrics / handle_reload parity: counters reflect the ingested
    log; reload swaps the program keeping the event log (replay model makes
    the state carry-over exact) and resets the delta baseline."""
    srv = PipelineServer(spark)
    src_v1 = (
        "stream Hot = Reading\n"
        "    .where(value > 10)\n"
        "    .emit(alert: \"hot\", v: value)\n"
    )
    status, resp = srv.handle(
        "POST", "/api/v1/pipelines",
        json.dumps({"name": "m", "source": src_v1}).encode(), {})
    assert status == 200
    pid = resp["id"]
    for v in (5.0, 20.0):
        status, resp = srv.handle(
            "POST", f"/api/v1/pipelines/{pid}/events",
            json.dumps({"event_type": "Reading", "fields": {"value": v}}).encode(), {})
        assert status == 200
    status, m = srv.handle("GET", f"/api/v1/pipelines/{pid}/metrics", b"", {})
    assert status == 200
    assert m["events_ingested"] == 2
    assert m["events_by_type"] == {"Reading": 2}
    assert m["output_rows_total"] == 1  # only the 20.0 reading alerted

    # reload with a lower threshold: a FILTER change preserves state
    # (ReloadReport heuristic, engine/mod.rs:3283-3295) — the already-
    # announced 20.0 alert is NOT re-announced, while the v1-suppressed
    # 5.0 surfaces because the replayed program now produces it
    src_v2 = src_v1.replace("> 10", "> 1")
    status, rep = srv.handle(
        "POST", f"/api/v1/pipelines/{pid}/reload",
        json.dumps({"source": src_v2}).encode(), {})
    assert status == 200
    assert rep["state_preserved"] == ["Hot"]
    assert rep["streams_updated"] == [] and rep["streams_added"] == []
    status, resp = srv.handle(
        "POST", f"/api/v1/pipelines/{pid}/events",
        json.dumps({"event_type": "Reading", "fields": {"value": 3.0}}).encode(), {})
    assert status == 200
    vs = sorted(e["fields"]["v"] for e in resp["output_events"])
    assert vs == [3.0, 5.0]  # 20.0 already delivered pre-reload


def test_reload_report_add_remove_update(spark):
    """ReloadReport parity (engine/mod.rs:3254-3384): streams added/
    removed/updated with the source+op-count heuristic; an UPDATED stream
    drops its delta baseline, so its outputs re-derive from the event log
    (lossless reset — the replay-model upgrade over the reference's lost
    NFA state)."""
    srv = PipelineServer(spark)
    v1 = (
        "stream Hot = Reading\n"
        "    .where(value > 1)\n"
        "    .emit(alert: \"hot\", v: value)\n"
        "stream Cold = Reading\n"
        "    .where(value < 0)\n"
        "    .emit(alert: \"cold\", v: value)\n"
    )
    status, resp = srv.handle(
        "POST", "/api/v1/pipelines",
        json.dumps({"name": "r", "source": v1}).encode(), {})
    pid = resp["id"]
    status, resp = srv.handle(
        "POST", f"/api/v1/pipelines/{pid}/events",
        json.dumps({"event_type": "Reading", "fields": {"value": 7.0}}).encode(), {})
    assert [e["fields"]["v"] for e in resp["output_events"]] == [7.0]

    # v2: Hot gains an op (update → state reset), Cold removed, Spike added
    v2 = (
        "stream Hot = Reading\n"
        "    .where(value > 1)\n"
        "    .distinct(value)\n"
        "    .emit(alert: \"hot\", v: value)\n"
        "stream Spike = Reading\n"
        "    .where(value > 100)\n"
        "    .emit(alert: \"spike\", v: value)\n"
    )
    status, rep = srv.handle(
        "POST", f"/api/v1/pipelines/{pid}/reload",
        json.dumps({"source": v2}).encode(), {})
    assert status == 200
    assert rep["streams_added"] == ["Spike"]
    assert rep["streams_removed"] == ["Cold"]
    assert rep["streams_updated"] == ["Hot"] == rep["state_reset"]
    assert rep["state_preserved"] == []
    # Hot's baseline dropped → its (re-derived) output re-announces
    status, resp = srv.handle(
        "POST", f"/api/v1/pipelines/{pid}/events",
        json.dumps({"event_type": "Reading", "fields": {"value": 200.0}}).encode(), {})
    got = {(e["stream"], e["fields"]["v"]) for e in resp["output_events"]}
    assert got == {("Hot", 7.0), ("Hot", 200.0), ("Spike", 200.0)}


def test_checkpoint_restore_roundtrip(server):
    """checkpoint → undeploy → restore at a chosen id: the restored
    pipeline carries the full event log, previously-announced outputs are
    baseline (not re-announced), and new injections keep working
    (handle_checkpoint api.rs:674, handle_restore api.rs:253,
    CheckpointResponse/RestoreRequest api.rs:85-101)."""
    with open(HVAC_VPL) as f:
        source = f.read()
    _, resp = _req(f"{server.url}/api/v1/pipelines", "POST",
                   {"name": "hvac-cp", "source": source})
    pid = resp["id"]
    _req(f"{server.url}/api/v1/pipelines/{pid}/events", "POST",
         {"event_type": "TemperatureReading",
          "fields": {"sensor_id": "s1", "zone": "dc", "value": 35.0}})

    status, cp_resp = _req(
        f"{server.url}/api/v1/pipelines/{pid}/checkpoint", "POST", {})
    assert status == 200 and cp_resp["events_processed"] == 1
    assert cp_resp["checkpoint"]["source"] == source

    _req(f"{server.url}/api/v1/pipelines/{pid}", "DELETE")
    status, _ = _req(f"{server.url}/api/v1/pipelines/{pid}", "GET")
    assert status == 404

    status, r = _req(
        f"{server.url}/api/v1/pipelines/restored-1/restore", "POST",
        {"checkpoint": cp_resp["checkpoint"]})
    assert status == 200 and r["restored"] and r["events_restored"] == 1

    # the checkpointed hot reading's alert is state, not news: a fresh
    # cool injection must not re-announce it (it may still produce NEW
    # windowed-aggregate outputs of its own, e.g. the updated zone avg)
    status, resp = _req(
        f"{server.url}/api/v1/pipelines/restored-1/events", "POST",
        {"event_type": "TemperatureReading",
         "fields": {"sensor_id": "s2", "zone": "dc", "value": 20.0}})
    assert status == 200
    assert not [e for e in resp["output_events"]
                if e["stream"] == "HighTempAlert"]

    # but a new hot reading alerts as usual
    status, resp = _req(
        f"{server.url}/api/v1/pipelines/restored-1/events", "POST",
        {"event_type": "TemperatureReading",
         "fields": {"sensor_id": "s3", "zone": "dc", "value": 33.0}})
    alerts = [e for e in resp["output_events"] if e["stream"] == "HighTempAlert"]
    assert len(alerts) == 1 and alerts[0]["fields"]["sensor"] == "s3"


def test_logs_polling_window(server):
    """GET /logs?since=N returns the announced-output window + next offset
    (handle_logs api.rs:896 is SSE; ours is a polling JSON window)."""
    with open(HVAC_VPL) as f:
        source = f.read()
    _, resp = _req(f"{server.url}/api/v1/pipelines", "POST",
                   {"name": "hvac-logs", "source": source})
    pid = resp["id"]

    status, r = _req(f"{server.url}/api/v1/pipelines/{pid}/logs", "GET")
    assert status == 200 and r["logs"] == [] and r["next_offset"] == 0

    for v in (32.0, 34.0):
        _req(f"{server.url}/api/v1/pipelines/{pid}/events", "POST",
             {"event_type": "TemperatureReading",
              "fields": {"sensor_id": "s1", "zone": "dc", "value": v}})

    status, r = _req(f"{server.url}/api/v1/pipelines/{pid}/logs", "GET")
    assert status == 200
    n = r["next_offset"]
    assert n >= 2 and len(r["logs"]) == n
    temps = [e["fields"].get("temperature") for e in r["logs"]
             if e["stream"] == "HighTempAlert"]
    assert temps == [32.0, 34.0]

    # window: since=next returns nothing new; since=n-1 returns the tail
    status, r2 = _req(f"{server.url}/api/v1/pipelines/{pid}/logs?since={n}",
                      "GET")
    assert r2["logs"] == [] and r2["next_offset"] == n
    status, r3 = _req(
        f"{server.url}/api/v1/pipelines/{pid}/logs?since={n-1}", "GET")
    assert len(r3["logs"]) == 1


def test_incremental_injection_reads_only_the_delta(server):
    """VERDICT r7 'what's missing' #1: injection cost must be independent
    of event-log length. With typed event decls the pipeline deploys in
    incremental mode (live Structured Streaming queries over a spool);
    each injection's micro-batch reads EXACTLY the injected rows — pinned
    via the queries' numInputRows, not wall time."""
    with open(HVAC_VPL) as f:
        source = f.read()
    status, resp = _req(f"{server.url}/api/v1/pipelines", "POST",
                        {"name": "inc", "source": source})
    assert status == 200 and resp["mode"] == "incremental"
    pid = resp["id"]
    p = server._pipelines[pid]
    ev = {"event_type": "TemperatureReading",
          "fields": {"sensor_id": "s9", "zone": "server_room", "value": 32.0}}
    for i in range(5):
        status, resp = _req(
            f"{server.url}/api/v1/pipelines/{pid}/events", "POST", ev)
        assert status == 200
        alerts = [e for e in resp["output_events"]
                  if e["stream"] == "HighTempAlert"]
        assert len(alerts) == 1, f"injection {i}"
        # every live query's last micro-batch saw at most the 1 injected
        # row (0 when the query's pushed-down type filter excludes it) —
        # never the growing log
        assert all(n <= 1 for n in p.runner.last_batch_rows().values()), i
    # log grew to 5 events, reads stayed O(delta)
    assert len(p.events) == 5
    _req(f"{server.url}/api/v1/pipelines/{pid}", "DELETE")


def test_incremental_fallback_on_undeclared_field(server):
    """An injection with a field outside the typed declarations cannot fit
    the fixed spool schema: the pipeline falls back to replay mode
    losslessly (no re-announcement of already-delivered rows, and the
    new event still processes)."""
    with open(HVAC_VPL) as f:
        source = f.read()
    status, resp = _req(f"{server.url}/api/v1/pipelines", "POST",
                        {"name": "fb", "source": source})
    assert status == 200 and resp["mode"] == "incremental"
    pid = resp["id"]
    ev = {"event_type": "TemperatureReading",
          "fields": {"sensor_id": "s1", "zone": "server_room", "value": 33.0}}
    status, resp = _req(f"{server.url}/api/v1/pipelines/{pid}/events", "POST", ev)
    assert status == 200 and len(resp["output_events"]) >= 1

    # undeclared field -> replay fallback, event still alerts exactly once
    ev2 = {"event_type": "TemperatureReading",
           "fields": {"sensor_id": "s1", "zone": "server_room",
                      "value": 34.0, "mystery": "x"}}
    status, resp = _req(f"{server.url}/api/v1/pipelines/{pid}/events", "POST", ev2)
    assert status == 200
    alerts = [e for e in resp["output_events"] if e["stream"] == "HighTempAlert"]
    assert len(alerts) == 1 and alerts[0]["fields"]["temperature"] == 34.0
    # the first injection's alert was NOT re-announced by the replay run
    assert all(e["fields"].get("temperature") != 33.0
               for e in resp["output_events"])
    status, info = _req(f"{server.url}/api/v1/pipelines/{pid}")
    assert info["mode"] == "replay"
    _req(f"{server.url}/api/v1/pipelines/{pid}", "DELETE")


def test_incremental_fallback_on_non_coercible_value(server):
    """ADVICE r8: a DECLARED field carrying a value the spool column type
    cannot coerce (string "abc" in a float field) must not 500 after the
    event log advanced — check_declared validates coercibility and the
    injection falls back to replay like any undeclared shape."""
    with open(HVAC_VPL) as f:
        source = f.read()
    status, resp = _req(f"{server.url}/api/v1/pipelines", "POST",
                        {"name": "fbcoerce", "source": source})
    assert status == 200 and resp["mode"] == "incremental"
    pid = resp["id"]
    ev = {"event_type": "TemperatureReading",
          "fields": {"sensor_id": "s1", "zone": "server_room", "value": 33.0}}
    status, resp = _req(f"{server.url}/api/v1/pipelines/{pid}/events", "POST", ev)
    assert status == 200 and len(resp["output_events"]) >= 1

    # declared field, non-coercible value -> replay fallback, not a 500
    bad = {"event_type": "TemperatureReading",
           "fields": {"sensor_id": "s1", "zone": "server_room",
                      "value": "abc"}}
    status, resp = _req(f"{server.url}/api/v1/pipelines/{pid}/events", "POST", bad)
    assert status == 200, resp
    status, info = _req(f"{server.url}/api/v1/pipelines/{pid}")
    assert info["mode"] == "replay"
    # both events stayed in the log (lossless fallback)
    assert info["events_ingested"] == 2
    # the first injection's 33.0 alert was not re-announced
    assert all(e["fields"].get("temperature") != 33.0
               for e in resp["output_events"])
    _req(f"{server.url}/api/v1/pipelines/{pid}", "DELETE")


def test_prometheus_metrics_endpoint(server, spark):
    """GET /metrics serves Prometheus exposition text (metrics.rs families:
    events_total by type, events_processed / output_events_total by
    stream, active_streams gauge, processing-latency histogram). Exact
    counts are pinned on a FRESH handler (the shared server accumulates
    counts across tests); the HTTP content type on the live server."""
    with open(HVAC_VPL) as f:
        source = f.read()
    # content type + transport over real HTTP
    req = urllib.request.Request(f"{server.url}/metrics")
    with urllib.request.urlopen(req, timeout=60) as r:
        assert r.status == 200
        assert r.headers["Content-Type"].startswith("text/plain")

    srv = PipelineServer(spark)
    st, resp = srv.handle("POST", "/api/v1/pipelines",
                          json.dumps({"name": "prom", "source": source}).encode(), {})
    pid = resp["id"]
    srv.handle("POST", f"/api/v1/pipelines/{pid}/events", json.dumps(
        {"event_type": "TemperatureReading",
         "fields": {"sensor_id": "s1", "zone": "server_room",
                    "value": 31.0}}).encode(), {})
    st, text = srv.handle("GET", "/metrics", b"", {})
    assert st == 200 and isinstance(text, str)
    assert '# TYPE varpulis_events_total counter' in text
    assert 'varpulis_events_total{event_type="TemperatureReading"} 1' in text
    assert 'varpulis_output_events_total{stream="HighTempAlert"' in text
    assert "# TYPE varpulis_active_streams gauge" in text
    assert "varpulis_processing_latency_seconds_bucket" in text
    assert 'le="+Inf"' in text
    srv.stop()


def test_deploy_rejects_validation_errors(server):
    """Deploy gates on semantic validation like the reference's
    Engine::load_with_source (engine/mod.rs:337): a program with a
    validation ERROR is rejected with the diagnostics."""
    status, resp = _req(f"{server.url}/api/v1/pipelines", "POST",
                        {"name": "bad", "source": "stream S = A\n    .where(42)\n"})
    assert status == 400 and resp["error"] == "validation_error"
    assert any("E060" in d for d in resp["diagnostics"])


def test_incremental_pattern_state_carries_across_injections(server, spark):
    """The push-engine claim, end to end: a SASE sequence deployed in
    incremental mode matches across SEPARATE injections — the Order from
    injection 1 lives in the streaming twin's keyed state and completes
    when the Payment arrives in injection 2 (the reference's per-event
    process loop does exactly this; replay mode only got there by
    re-running the log)."""
    src = """
event Order:
    id: int
    user: str

event Payment:
    order_id: int
    user: str
    amount: float

stream Paid = Order as o
    -> Payment where order_id == o.id as p
    .partition_by(user)
    .emit(status: "paid", order_id: o.id, amount: p.amount)
"""
    srv = PipelineServer(spark)
    st, r = srv.handle("POST", "/api/v1/pipelines",
                       json.dumps({"name": "pat", "source": src}).encode(), {})
    assert st == 200 and r["mode"] == "incremental"
    pid = r["id"]

    def inject(ev):
        st, r = srv.handle("POST", f"/api/v1/pipelines/{pid}/events",
                           json.dumps(ev).encode(), {})
        assert st == 200
        return r["output_events"]

    assert inject({"event_type": "Order",
                   "fields": {"id": 1, "user": "alice"}}) == []
    out = inject({"event_type": "Payment",
                  "fields": {"order_id": 1, "user": "alice", "amount": 99.5}})
    (row,) = out
    assert row["stream"] == "Paid"
    assert row["fields"]["order_id"] == 1 and row["fields"]["amount"] == 99.5
    # a Payment for an order never seen stays unmatched
    assert inject({"event_type": "Payment",
                   "fields": {"order_id": 7, "user": "bob", "amount": 1.0}}) == []
    srv.stop()


def test_incremental_query_state_partitions_follow_task_slots(spark):
    """Control-plane queries get the streaming rule's state partition
    count, min(task slots, 8), whatever the session's batch value is: Spark
    reads the count at .start(), so a pin held only around plan building
    never reached the query."""
    src = """
event Order:
    id: int
    user: str

event Payment:
    order_id: int
    user: str

stream Paid = Order as o
    -> Payment where order_id == o.id as p
    .partition_by(user)
    .emit(order_id: o.id)
"""
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "3")
    srv = PipelineServer(spark)
    try:
        st, r = srv.handle("POST", "/api/v1/pipelines",
                           json.dumps({"name": "parts", "source": src}).encode(), {})
        assert st == 200 and r["mode"] == "incremental"
        st, _ = srv.handle(
            "POST", f"/api/v1/pipelines/{r['id']}/events",
            json.dumps({"event_type": "Order",
                        "fields": {"id": 1, "user": "alice"}}).encode(), {})
        assert st == 200
        q = srv._pipelines[r["id"]].runner.queries["Paid"]
        parts = {o["numShufflePartitions"]
                 for p in q.recentProgress for o in p["stateOperators"]}
        assert parts == {min(spark.sparkContext.defaultParallelism, 8)}
    finally:
        srv.stop()
        spark.conf.set("spark.sql.shuffle.partitions", prev)


def test_live_reload_preserves_pattern_state(server, spark):
    """VERDICT r8 task 5, end to end: deploy incremental, inject an Order
    (opens a SASE run in the streaming twin's state store), hot-reload with
    a COMPATIBLE edit (filter-constant change — the reference's 'filter
    changes preserve state' rule), inject the Payment — the pre-reload
    Order's run completes WITHOUT replaying the log: the pipeline stays in
    incremental mode and the post-reload micro-batches read only the
    injected delta (the replay path would re-read the whole log)."""
    src_v1 = """
event Order:
    id: int
    user: str

event Payment:
    order_id: int
    user: str
    amount: float

stream Paid = Order as o
    -> Payment where order_id == o.id as p
    .partition_by(user)
    .where(p.amount > 50.0)
    .emit(status: "paid", order_id: o.id, amount: p.amount)
"""
    srv = PipelineServer(spark)
    st, r = srv.handle("POST", "/api/v1/pipelines",
                       json.dumps({"name": "lr", "source": src_v1}).encode(), {})
    assert st == 200 and r["mode"] == "incremental"
    pid = r["id"]
    p = srv._pipelines[pid]

    def inject(ev):
        st, r = srv.handle("POST", f"/api/v1/pipelines/{pid}/events",
                           json.dumps(ev).encode(), {})
        assert st == 200
        return r["output_events"]

    assert inject({"event_type": "Order",
                   "fields": {"id": 1, "user": "alice"}}) == []
    runner_before = p.runner
    assert runner_before is not None

    # compatible edit: same steps/ops, different filter constant
    src_v2 = src_v1.replace("> 50.0", "> 10.0")
    st, rep = srv.handle("POST", f"/api/v1/pipelines/{pid}/reload",
                         json.dumps({"source": src_v2}).encode(), {})
    assert st == 200 and rep["mode"] == "incremental"
    assert rep["state_preserved"] == ["Paid"] and rep["state_reset"] == []
    # SAME runner object — no teardown, no replay
    assert p.runner is runner_before

    # the Order injected BEFORE the reload completes now: its run survived
    # the swap inside the streaming state store
    out = inject({"event_type": "Payment",
                  "fields": {"order_id": 1, "user": "alice", "amount": 20.0}})
    (row,) = out
    assert row["stream"] == "Paid" and row["fields"]["amount"] == 20.0
    # and the post-reload batch read ONLY the injected delta, not the log
    assert all(n <= 1 for n in p.runner.last_batch_rows().values())
    srv.stop()


def test_live_reload_resets_updated_stream_and_announces_rederivation(
    server, spark
):
    """An UPDATED stream under live reload gets a fresh checkpoint and
    re-derives from the spool; its catch-up rows announce with the next
    injection (replay-reload parity), while the pipeline stays
    incremental."""
    src_v1 = """
event Reading:
    value: float

stream Hot = Reading
    .where(value > 1.0)
    .emit(alert: "hot", v: value)
"""
    srv = PipelineServer(spark)
    st, r = srv.handle("POST", "/api/v1/pipelines",
                       json.dumps({"name": "lr2", "source": src_v1}).encode(), {})
    assert st == 200 and r["mode"] == "incremental"
    pid = r["id"]

    def inject(ev):
        st, r = srv.handle("POST", f"/api/v1/pipelines/{pid}/events",
                           json.dumps(ev).encode(), {})
        assert st == 200
        return r["output_events"]

    assert [e["fields"]["v"] for e in inject(
        {"event_type": "Reading", "fields": {"value": 7.0}})] == [7.0]

    # v2 adds an op to Hot → sig change → state reset (fresh checkpoint)
    src_v2 = """
event Reading:
    value: float

stream Hot = Reading
    .where(value > 1.0)
    .distinct(value)
    .emit(alert: "hot", v: value)
"""
    st, rep = srv.handle("POST", f"/api/v1/pipelines/{pid}/reload",
                         json.dumps({"source": src_v2}).encode(), {})
    assert st == 200 and rep["mode"] == "incremental"
    assert rep["streams_updated"] == ["Hot"] == rep["state_reset"]
    # next injection announces the catch-up re-derivation (7.0) + the new
    # event, exactly like the replay-mode reload contract
    got = sorted(e["fields"]["v"] for e in inject(
        {"event_type": "Reading", "fields": {"value": 9.0}}))
    assert got == [7.0, 9.0]
    srv.stop()


def test_live_reload_schema_change_falls_back_to_replay(server, spark):
    """A reload that CHANGES the declared event schema cannot keep the
    fixed-schema spool: the pipeline falls back to replay mode, losslessly
    (the event log re-derives everything; announced rows stay baseline)."""
    src_v1 = """
event Reading:
    value: float

stream Hot = Reading
    .where(value > 1.0)
    .emit(alert: "hot", v: value)
"""
    srv = PipelineServer(spark)
    st, r = srv.handle("POST", "/api/v1/pipelines",
                       json.dumps({"name": "lr3", "source": src_v1}).encode(), {})
    assert st == 200 and r["mode"] == "incremental"
    pid = r["id"]
    st, r = srv.handle(
        "POST", f"/api/v1/pipelines/{pid}/events",
        json.dumps({"event_type": "Reading",
                    "fields": {"value": 7.0}}).encode(), {})
    assert [e["fields"]["v"] for e in r["output_events"]] == [7.0]

    src_v2 = src_v1.replace("value: float", "value: float\n    unit: str")
    st, rep = srv.handle("POST", f"/api/v1/pipelines/{pid}/reload",
                         json.dumps({"source": src_v2}).encode(), {})
    assert st == 200 and rep["mode"] == "replay"
    assert rep["state_preserved"] == ["Hot"]
    # preserved baseline: 7.0 not re-announced; the new event still alerts
    st, r = srv.handle(
        "POST", f"/api/v1/pipelines/{pid}/events",
        json.dumps({"event_type": "Reading",
                    "fields": {"value": 9.0, "unit": "C"}}).encode(), {})
    assert [e["fields"]["v"] for e in r["output_events"]] == [9.0]
    srv.stop()


def test_incremental_pattern_with_trailing_where(server, spark):
    """r9 regression: a post-pattern `.where(p.amount > ...)` references
    the final step through its alias; the streaming NFA evaluated it while
    the alias was still unbound (KeyError → False → no match, ever). Batch
    hid the bug behind the join-compiled path."""
    src = """
event Order:
    id: int
    user: str

event Payment:
    order_id: int
    user: str
    amount: float

stream Paid = Order as o
    -> Payment where order_id == o.id as p
    .partition_by(user)
    .where(p.amount > 50.0)
    .emit(status: "paid", order_id: o.id, amount: p.amount)
"""
    srv = PipelineServer(spark)
    st, r = srv.handle("POST", "/api/v1/pipelines",
                       json.dumps({"name": "pw", "source": src}).encode(), {})
    assert st == 200 and r["mode"] == "incremental"
    pid = r["id"]

    def inject(ev):
        st, r = srv.handle("POST", f"/api/v1/pipelines/{pid}/events",
                           json.dumps(ev).encode(), {})
        assert st == 200
        return r["output_events"]

    assert inject({"event_type": "Order",
                   "fields": {"id": 1, "user": "alice"}}) == []
    out = inject({"event_type": "Payment",
                  "fields": {"order_id": 1, "user": "alice", "amount": 60.0}})
    assert [e["fields"]["amount"] for e in out] == [60.0]
    # below the threshold: filtered by the merged step predicate
    assert inject({"event_type": "Order",
                   "fields": {"id": 2, "user": "bob"}}) == []
    assert inject({"event_type": "Payment",
                   "fields": {"order_id": 2, "user": "bob", "amount": 10.0}}) == []
    srv.stop()


def test_reload_report_transitive_reset(spark):
    """A stream downstream of an UPDATED derived stream compiles to a
    different plan even with an unchanged signature: it must land in
    state_reset (transitively), never resume on its old checkpoint
    (ADVICE r9 #2)."""
    import json as _json

    from varpulis_spark.api import _reload_report
    from varpulis_spark.vpl.parser import parse_full

    v1 = (
        "stream Hot = Reading\n"
        "    .where(value > 10)\n"
        "stream Loud = Hot\n"
        "    .emit(v: value)\n"
        "stream Other = Reading\n"
        "    .where(value < 0)\n"
        "    .emit(v: value)\n"
    )
    # Hot gains an op → updated; Loud's own signature is unchanged but it
    # reads Hot; Other is genuinely independent
    v2 = v1.replace(".where(value > 10)\n", ".where(value > 10)\n    .distinct(value)\n")
    rep = _reload_report(parse_full(v1), parse_full(v2))
    assert rep["streams_updated"] == ["Hot"]
    assert rep["state_reset"] == ["Hot", "Loud"]
    assert rep["state_preserved"] == ["Other"]

    # chain depth 2: Loud2 reads Loud reads Hot — all reset
    v1c = v1 + "stream Loud2 = Loud\n    .emit(v: value)\n"
    v2c = v2 + "stream Loud2 = Loud\n    .emit(v: value)\n"
    repc = _reload_report(parse_full(v1c), parse_full(v2c))
    assert repc["state_reset"] == ["Hot", "Loud", "Loud2"]

    # a REMOVED upstream also dirties its readers
    v2r = (
        "stream Loud = Hot\n"
        "    .emit(v: value)\n"
        "stream Other = Reading\n"
        "    .where(value < 0)\n"
        "    .emit(v: value)\n"
    )
    repr_ = _reload_report(parse_full(v1), parse_full(v2r))
    assert repr_["streams_removed"] == ["Hot"]
    assert "Loud" in repr_["state_reset"]
    assert repr_["state_preserved"] == ["Other"]
    _ = _json  # silence linter


def test_inject_failure_rolls_back_log_in_replay_mode(spark):
    """A replay-mode (_run_delta) failure must not leave the failed events
    in the log for later replays/checkpoints to silently include
    (ADVICE r9 #4)."""
    srv = PipelineServer(spark)
    src = (
        "stream Hot = Reading\n"
        "    .where(value > 10)\n"
        "    .emit(v: value)\n"
    )
    st, resp = srv.handle(
        "POST", "/api/v1/pipelines",
        json.dumps({"name": "rb", "source": src}).encode(), {})
    pid = resp["id"]
    p = srv._pipelines[pid]
    srv._fallback_to_replay(p)  # force replay mode
    assert p.runner is None
    orig = srv._run_delta
    calls = {"n": 0}

    def boom(pipeline):
        calls["n"] += 1
        if calls["n"] == 1:
            raise RuntimeError("injected delta failure")
        return orig(pipeline)

    srv._run_delta = boom
    st, resp = srv.handle(
        "POST", f"/api/v1/pipelines/{pid}/events",
        json.dumps({"event_type": "Reading", "fields": {"value": 20.0}}).encode(), {})
    assert st == 500
    assert p.events == []  # rolled back in replay mode too
    # retry succeeds and announces exactly once
    st, resp = srv.handle(
        "POST", f"/api/v1/pipelines/{pid}/events",
        json.dumps({"event_type": "Reading", "fields": {"value": 20.0}}).encode(), {})
    assert st == 200
    assert [e["fields"]["v"] for e in resp["output_events"]] == [20.0]
    assert len(p.events) == 1


def test_inject_failure_in_runner_mode_falls_back_to_replay(spark):
    """A runner-mode inject failure leaves the runner's streaming state
    ahead of the rolled-back log; the server must tear the runner down and
    rebuild from the consistent log instead of 500ing forever
    (ADVICE r9 #2/#4)."""
    srv = PipelineServer(spark)
    src = (
        "event Reading:\n"
        "    value: float\n"
        "\n"
        "stream Hot = Reading\n"
        "    .where(value > 10)\n"
        "    .emit(v: value)\n"
    )
    st, resp = srv.handle(
        "POST", "/api/v1/pipelines",
        json.dumps({"name": "fb", "source": src}).encode(), {})
    pid = resp["id"]
    p = srv._pipelines[pid]
    assert p.runner is not None

    class BoomRunner:
        def __init__(self, inner):
            self.inner = inner

        def check_declared(self, ev):
            return self.inner.check_declared(ev)

        def inject(self, ev):
            raise RuntimeError("injected runner failure")

        def close(self):
            return self.inner.close()

    p.runner = BoomRunner(p.runner)
    st, resp = srv.handle(
        "POST", f"/api/v1/pipelines/{pid}/events",
        json.dumps({"event_type": "Reading", "fields": {"value": 20.0}}).encode(), {})
    assert st == 500
    assert p.events == []  # rolled back
    assert p.runner is None  # fell back to replay mode
    # the pipeline is NOT wedged: next inject answers 200 with the row
    st, resp = srv.handle(
        "POST", f"/api/v1/pipelines/{pid}/events",
        json.dumps({"event_type": "Reading", "fields": {"value": 21.0}}).encode(), {})
    assert st == 200
    assert [e["fields"]["v"] for e in resp["output_events"]] == [21.0]


def test_usage_endpoint_single_tenant(server):
    """GET /api/v1/usage (handle_usage api.rs:853-893): the last reference
    control-plane route that 404'd here. Single-tenant semantics — the
    server aggregates as one enterprise-quota tenant (multi-tenancy itself
    is a declared non-goal); counters move with injections."""
    status, before = _req(f"{server.url}/api/v1/usage")
    assert status == 200
    for k in ("tenant_id", "events_processed", "output_events_emitted",
              "active_pipelines", "quota"):
        assert k in before, f"missing UsageResponse field {k}"
    assert before["quota"] == {
        "max_pipelines": 1000,
        "max_events_per_second": 500_000,
        "max_streams_per_pipeline": 500,
    }  # TenantQuota::enterprise() (tenant.rs:83-89)

    with open(HVAC_VPL) as f:
        source = f.read()
    status, resp = _req(f"{server.url}/api/v1/pipelines", "POST",
                        {"name": "usage_probe", "source": source})
    assert status == 200
    pid = resp["id"]
    status, _ = _req(
        f"{server.url}/api/v1/pipelines/{pid}/events", "POST",
        {"event_type": "TemperatureReading",
         "fields": {"sensor_id": "u1", "zone": "lab", "value": 35.0}})
    assert status == 200
    status, after = _req(f"{server.url}/api/v1/usage")
    assert status == 200
    assert after["events_processed"] >= before["events_processed"] + 1
    assert after["output_events_emitted"] > before["output_events_emitted"]
    assert after["active_pipelines"] >= 1
    _req(f"{server.url}/api/v1/pipelines/{pid}", "DELETE")
