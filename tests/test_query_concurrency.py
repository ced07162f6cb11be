"""Read routes plan under the API lock and execute outside it.

Pins the split: a query held inside its collect blocks neither another
query nor ingest nor /counts; a frame planned before a compaction swap
still answers from the pre-swap files; a streamed answer never reads
past its deadline, so never past the grace that keeps swapped-out files
on disk; no Spark action runs while the API lock is held on any read
route; and the request window prunes the
manifest (and keeps hours-old staged events of a time-partitioned
stream) without changing an answer.
"""

from __future__ import annotations

import functools
import json
import os
import threading
import time
from datetime import datetime, timedelta

import pytest

from parseable_spark import server as server_mod
from parseable_spark.server import ParseableAPI

BASE = datetime(2024, 3, 1, 10, 0)


def _iso(d: datetime) -> str:
    return d.strftime("%Y-%m-%dT%H:%M:%SZ")


def _minute_files(api: ParseableAPI, name: str, minutes: int = 6) -> None:
    """One flushed parquet file per minute, 10 rows each, v = minute."""
    store = api.get_or_create_stream(name)
    for m in range(minutes):
        store.ingest(
            [{"v": m, "k": i} for i in range(10)],
            p_timestamp=BASE + timedelta(minutes=m, seconds=10),
        )
        store.flush()


def _q(sql: str, start: datetime, end: datetime) -> dict:
    return {"query": sql, "startTime": _iso(start), "endTime": _iso(end)}


def _lock_free(lock) -> bool:
    """Is the lock free of EVERY thread? Probed from a fresh thread: an
    RLock owned by the calling thread would re-enter, not report."""
    got: list[bool] = []

    def probe() -> None:
        ok = lock.acquire(blocking=False)
        if ok:
            lock.release()
        got.append(ok)

    t = threading.Thread(target=probe)
    t.start()
    t.join()
    return got[0]


def test_query_held_in_collect_blocks_no_other_request(spark, tmp_path, monkeypatch):
    api = ParseableAPI(spark, str(tmp_path))
    _minute_files(api, "app")
    entered, release = threading.Event(), threading.Event()
    calls = []
    orig = server_mod.query_response

    def held(df, **kw):
        calls.append(1)
        if len(calls) == 1:  # only the first query parks in its collect
            entered.set()
            assert release.wait(60)
        return orig(df, **kw)

    monkeypatch.setattr(server_mod, "query_response", held)
    window = (BASE - timedelta(hours=1), BASE + timedelta(hours=1))
    sql = "SELECT SUM(v) AS total FROM app"
    out: dict = {}
    t = threading.Thread(target=lambda: out.setdefault("a", api.query(_q(sql, *window))))
    t.start()
    try:
        assert entered.wait(60)
        # the API lock is free while the first query executes
        assert api._lock.acquire(timeout=5)
        api._lock.release()
        # and a second query, an ingest and /counts all complete
        assert api.query(_q(sql, *window)) == [{"total": 150}]
        assert api.ingest("app", [{"v": 100}]) == 1
        counts = api.counts(
            {"stream": "app", "startTime": _iso(window[0]),
             "endTime": _iso(window[1]), "numBins": 1}
        )
        assert counts["records"][0]["count"] == 60
    finally:
        release.set()
        t.join(60)
    assert out["a"] == [{"total": 150}]


def test_frame_planned_before_compaction_answers_after_swap(spark, tmp_path):
    api = ParseableAPI(spark, str(tmp_path))
    _minute_files(api, "app")
    store = api._stores["app"]
    before = {f.file_path for f in store.manifest.files}
    assert len(before) == 6
    payload = _q(
        "SELECT SUM(v) AS total, COUNT(*) AS n FROM app",
        BASE - timedelta(hours=1), BASE + timedelta(hours=1),
    )
    with api._lock:  # the plan phase of /query
        df = api._query_df(payload)
    assert api.run_compaction(level="hour")["app"] >= 1  # default grace
    after = {f.file_path for f in store.manifest.files}
    assert after and not (after & before)  # every planned file swapped out
    expected = [{"total": 150, "n": 60}]
    assert server_mod.query_response(df) == expected
    assert api.query(payload) == expected  # a fresh plan reads the new files


def _short_deadline(api: ParseableAPI, monkeypatch, seconds: float) -> None:
    """Give every streamed query of ``api`` a ``seconds`` deadline."""
    monkeypatch.setattr(
        api.engine,
        "iter_with_deadline",
        functools.partial(api.engine.iter_with_deadline, timeout_seconds=seconds),
    )


def test_ndjson_drain_across_compaction_and_reap(spark, tmp_path, monkeypatch):
    """A stream drained across a compaction swap and a tombstone reap.
    Inside its deadline every planned file is still on disk (the grace
    outlasts the deadline) and the whole answer streams. Past the
    deadline, once a grace just longer than it has run out and the reap
    has deleted the planned files, the reader gets TimeoutError — never
    a stream that simply ends short."""
    api = ParseableAPI(spark, str(tmp_path))
    window = (BASE - timedelta(hours=1), BASE + timedelta(hours=1))

    _minute_files(api, "app")
    planned = [f.file_path for f in api._stores["app"].manifest.files]
    lines = api.query_ndjson(_q("SELECT v, k FROM app", *window))
    got = [next(lines)]
    assert api.run_compaction(level="hour")["app"] >= 1
    api.reap_tombstones()  # default grace: nothing is old enough yet
    assert all(os.path.exists(p) for p in planned)
    got += list(lines)
    assert sorted(json.loads(line)["v"] for line in got) == sorted(
        m for m in range(6) for _ in range(10)
    )

    deadline = 1.0
    _short_deadline(api, monkeypatch, deadline)
    _minute_files(api, "late")
    planned = [f.file_path for f in api._stores["late"].manifest.files]
    lines = api.query_ndjson(_q("SELECT v, k FROM late", *window))
    next(lines)
    assert api.run_compaction(level="hour")["late"] >= 1
    time.sleep(deadline * 1.5)
    api.reap_tombstones(grace_seconds=deadline * 1.2)
    assert not any(os.path.exists(p) for p in planned)
    with pytest.raises(TimeoutError):
        list(lines)


def test_ndjson_cut_by_its_deadline_ends_in_an_incomplete_body(
    spark, tmp_path, monkeypatch
):
    """The 200 and its headers are out before the first line, so a
    stream that fails later must not end like a complete one: the
    server closes the connection without the terminating chunk (and
    without writing an error response into the body)."""
    import socket
    from urllib.parse import urlparse

    from parseable_spark.server import serve_background

    api = ParseableAPI(spark, str(tmp_path))
    _minute_files(api, "app")
    _short_deadline(api, monkeypatch, 0.0)
    srv, base = serve_background(api)
    u = urlparse(base)
    body = json.dumps(
        {**_q("SELECT v, k FROM app", BASE, BASE + timedelta(hours=1)), "streaming": True}
    ).encode()
    head = (
        "POST /api/v1/query HTTP/1.1\r\nHost: {}\r\nContent-Type: application/json"
        "\r\nContent-Length: {}\r\n\r\n"
    ).format(u.netloc, len(body))
    raw = b""
    try:
        with socket.create_connection((u.hostname, u.port), timeout=30) as sock:
            sock.sendall(head.encode() + body)
            while chunk := sock.recv(65536):  # until the server closes
                raw += chunk
    finally:
        srv.shutdown()
    assert raw.startswith(b"HTTP/1.1 200")
    assert raw.count(b"HTTP/1.") == 1
    assert b"Transfer-Encoding: chunked" in raw
    assert not raw.endswith(b"0\r\n\r\n")


def _trace_rows(root_name: str) -> list[dict]:
    base = {"service_name": "svc", "span_trace_id": "t1",
            "span_start_time_unix_nano_epoch": 1, "span_duration_ns": 5}
    return [
        {**base, "span_span_id": "root", "span_parent_span_id": "",
         "span_status_code": 0, "span_name": root_name},
        {**base, "span_span_id": "child", "span_parent_span_id": "root",
         "span_status_code": 2, "span_name": "db"},
    ]


def test_no_spark_action_under_the_api_lock(spark, tmp_path, monkeypatch):
    from pyspark.sql.classic.dataframe import DataFrame

    api = ParseableAPI(spark, str(tmp_path))
    api.ingest("spans", _trace_rows("GET /"))
    api.ingest("other", [{"span_span_id": "root", "code": 500}])
    now = datetime.utcnow()
    lo, hi = _iso(now - timedelta(days=1)), _iso(now + timedelta(days=1))
    window = {"startTime": lo, "endTime": hi}
    cid = api.save_correlation({
        "title": "spans x other",
        "tableConfigs": [
            {"tableName": "spans", "selectedFields": ["span_name"]},
            {"tableName": "other", "selectedFields": ["code"]},
        ],
        "joinConfig": {"joinConditions": [
            {"tableName": "spans", "field": "span_span_id"},
            {"tableName": "other", "field": "span_span_id"},
        ]},
    })["id"]
    aid = api.create_alert(
        {"stream": "spans", "aggregate": "count", "operator": ">", "threshold": 0}
    )["id"]
    anchor = api.query(
        {"query": "SELECT p_timestamp FROM spans LIMIT 1", **window}
    )[0]["p_timestamp"]

    actions: list[tuple[str, bool]] = []
    for name in ("collect", "toLocalIterator", "count", "toArrow"):
        orig = getattr(DataFrame, name)

        def spy(self, *a, _orig=orig, _name=name, **kw):
            actions.append((_name, _lock_free(api._lock)))
            return _orig(self, *a, **kw)

        monkeypatch.setattr(DataFrame, name, spy)

    routes = {
        "query": lambda: api.query({"query": "SELECT * FROM spans", **window}),
        "count": lambda: api.query({"query": "SELECT COUNT(*) AS n FROM spans", **window}),
        "ndjson": lambda: list(api.query_ndjson({"query": "SELECT * FROM spans", **window})),
        "counts": lambda: api.counts({"stream": "spans", "numBins": 2, **window}),
        "traces_list": lambda: api.traces_list({"dataset": "spans", **window}),
        "trace_detail": lambda: api.trace_detail_api(
            {"dataset": "spans", "traceId": "t1", **window}),
        "context": lambda: api.query_context(
            {"dataset": "spans", "pTimestamp": anchor, "pageSize": 4}),
        "dataset_stats": lambda: api.dataset_stats({"dataset_name": "spans"}),
        "correlation": lambda: api.run_correlation(cid, lo, hi),
        "alert": lambda: api.evaluate_alert(aid),
    }
    for route, call in routes.items():
        actions.clear()
        call()
        assert actions, f"{route}: no Spark action observed"
        held = [n for n, free in actions if not free]
        assert not held, f"{route}: {held} ran under the API lock"


@pytest.fixture()
def pruned(monkeypatch):
    """Records (files total, files kept) of every manifest prune."""
    from parseable_spark.catalog.manifest import Manifest

    seen: list[tuple[int, int]] = []
    orig = Manifest.prune_paths

    def spy(self, *a, **kw):
        kept = orig(self, *a, **kw)
        seen.append((len(self.files), len(kept)))
        return kept

    monkeypatch.setattr(Manifest, "prune_paths", spy)
    return seen


def test_request_window_prunes_the_manifest(spark, tmp_path, pruned):
    api = ParseableAPI(spark, str(tmp_path))
    _minute_files(api, "app")
    narrow = (BASE + timedelta(minutes=2), BASE + timedelta(minutes=3))
    pruned.clear()
    assert api.query(_q("SELECT SUM(v) AS total FROM app", *narrow)) == [{"total": 20}]
    assert pruned and all(kept < total for total, kept in pruned)
    # the COUNT(*) fast-path probe and the query share one pruned scan
    for sql in ("SELECT COUNT(*) AS n FROM app", "SELECT COUNT(*) AS n FROM app WHERE k >= 0"):
        pruned.clear()
        assert api.query(_q(sql, *narrow)) == [{"n": 10}]
        assert pruned == [(6, 1)]
    pruned.clear()
    counts = api.counts(
        {"stream": "app", "startTime": _iso(narrow[0]),
         "endTime": _iso(narrow[1]), "numBins": 1}
    )
    assert counts["records"][0]["count"] == 10
    assert pruned and all(kept < total for total, kept in pruned)


def test_query_constraining_time_itself_is_not_pruned(spark, tmp_path, pruned):
    """The request window is not injected when the SQL filters the time
    column, so it must not prune either: the answer covers the SQL's
    own range, outside the request window."""
    api = ParseableAPI(spark, str(tmp_path))
    _minute_files(api, "app")
    narrow = (BASE + timedelta(minutes=2), BASE + timedelta(minutes=3))
    sql = (
        "SELECT SUM(v) AS total FROM app "
        f"WHERE p_timestamp >= TIMESTAMP_NTZ '{BASE:%Y-%m-%d %H:%M:%S}'"
    )
    pruned.clear()
    assert api.query(_q(sql, *narrow)) == [{"total": 150}]
    assert pruned and all(kept == total for total, kept in pruned)


def test_alert_plans_only_its_stream_over_its_window(spark, tmp_path, pruned):
    """An evaluation, from the route or the background scheduler,
    scans only the alert's own stream, pruned to the alert's rolling
    window (the 2024 files here all lie before it)."""
    api = ParseableAPI(spark, str(tmp_path))
    _minute_files(api, "app")
    _minute_files(api, "other")
    aid = api.create_alert(
        {"stream": "app", "aggregate": "count", "operator": ">", "threshold": 0}
    )["id"]
    pruned.clear()
    assert api.evaluate_alert(aid)["state"] == "not-triggered"
    assert pruned == [(6, 0)]
    pruned.clear()
    assert api.scheduler.run_pending() == 1
    assert pruned == [(6, 0)]


def test_hours_old_staged_event_of_time_partitioned_stream(spark, tmp_path):
    """A time-partitioned stream stages events at their own (event)
    time: a windowed scan and /counts must still see one staged hours
    ago, though the window ends long before the staging freshness
    window the reference gates on."""
    api = ParseableAPI(spark, str(tmp_path))
    api.create_stream("tp", time_partition="ts", time_partition_limit_days=36500)
    old = datetime.utcnow().replace(microsecond=0) - timedelta(hours=5)
    assert api.ingest("tp", [{"ts": old.isoformat() + "Z", "n": 1}]) == 1
    store = api._stores["tp"]
    assert store._staging and not store.manifest.files  # staged only
    lo, hi = old - timedelta(hours=1), old + timedelta(hours=1)
    assert store.scan(lo, hi).count() == 1
    assert store.scan(hi, hi + timedelta(hours=1)).count() == 0
    counts = api.counts(
        {"stream": "tp", "startTime": _iso(lo), "endTime": _iso(hi), "numBins": 1}
    )
    assert counts["records"][0]["count"] == 1
    assert api.query(_q("SELECT n FROM tp", lo, hi)) == [{"n": 1}]


def test_concurrent_reads_writes_and_compaction_keep_answers(spark, tmp_path):
    """More clients than cores, with a short switch interval: readers of
    a historical window see exactly its rows while a writer ingests and
    syncs fresh events and a compaction swaps the window's files."""
    import sys

    api = ParseableAPI(spark, str(tmp_path))
    _minute_files(api, "app")
    window = (BASE - timedelta(hours=1), BASE + timedelta(hours=1))
    errors: list[BaseException] = []
    stop = threading.Event()

    def reader(i: int) -> None:
        try:
            for _ in range(3):
                if i % 3 == 0:
                    got = api.query(_q("SELECT SUM(v) AS t, COUNT(*) AS n FROM app", *window))
                    assert got == [{"t": 150, "n": 60}], got
                elif i % 3 == 1:
                    got = api.counts({"stream": "app", "startTime": _iso(window[0]),
                                      "endTime": _iso(window[1]), "numBins": 1})
                    assert got["records"][0]["count"] == 60, got
                else:
                    lines = list(api.query_ndjson(_q("SELECT k FROM app", *window)))
                    assert len(lines) == 60, len(lines)
        except BaseException as e:  # noqa: BLE001 — surfaced below
            errors.append(e)

    def writer() -> None:
        try:
            while not stop.is_set():
                api.ingest("app", [{"v": 1000}])
                api.run_sync()
        except BaseException as e:  # noqa: BLE001 — surfaced below
            errors.append(e)

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        threads = [threading.Thread(target=reader, args=(i,)) for i in range(6)]
        w = threading.Thread(target=writer)
        for t in [*threads, w]:
            t.start()
        assert api.run_compaction(level="hour")["app"] >= 1
        for t in threads:
            t.join(240)
        stop.set()
        w.join(60)
    finally:
        sys.setswitchinterval(old)
        stop.set()
    assert not any(t.is_alive() for t in [*threads, w])
    assert not errors, errors
