"""The `search` and `ingest` workloads: the log-lake path through the
engine's HTTP API (ingest -> staging -> minute Parquet -> manifest
pruning -> Spark SQL -> JSON)."""

from __future__ import annotations

import contextlib
import json
import os
import random
import threading
import time
from datetime import datetime, timedelta, timezone

import duckdb
import pandas as pd

from . import inputs
from .common import (
    SEARCH_SETUP_REPEATS, SETUP_REPEATS, Outcome, iso, post, post_json, read_manifest,
)
from .stats import median, tail

SEARCH_CLIENTS = 2
SEARCH_KINDS = ("narrow", "count", "groupby", "counts", "select10")
NARROW_LIMIT = 20

INGEST_STREAM = "ingest_logs"
COMPACT_EVERY_SYNCS = 3  # hour-level run_compaction every K syncs
READER_WINDOW = timedelta(minutes=5)


def _span(tracer, name: str, rid: str):
    """A root span when tracing, else a no-op context."""
    if tracer is None:
        return contextlib.nullcontext()
    return tracer.span(name, rid=rid)


def _trace_header(tracer, sp) -> dict:
    if tracer is None:
        return {}
    return {"X-Bench-Trace": f"{sp.rid}/{sp.id}"}


def _latency_note(prefix: str, samples: list[float], out: Outcome) -> None:
    """Notes the sample count, p50 and p90 (flagged when too few samples
    lie beyond it)."""
    p50 = median(samples) * 1000
    p90, flag = tail(samples)
    out.flags.append(
        f"{prefix}: {len(samples)} samples, p50 {p50:.1f} ms, p90 {p90 * 1000:.1f} ms"
        + (f" (flagged: {flag})" if flag else "")
    )


def _query_total(per_kind: dict, out: Outcome) -> float:
    """Sum over query kinds of each kind's median latency (s): unlike a
    pooled median of a mix whose kinds differ several-fold in cost, it
    does not jump between kinds from run to run."""
    out.flags.append("median ms per kind: " + ", ".join(
        f"{k} {median(v) * 1000:.0f} (n={len(v)})" for k, v in sorted(per_kind.items())))
    return sum(median(v) for v in per_kind.values())


# --- search -----------------------------------------------------------------

def _build_search_store(spark, root: str, batches: dict, instr, tracer, lat: list,
                        rates: list):
    """One store build; appends each ingest call's latency to `lat` and,
    per stream, events made durable per second (first ingest call to the
    end of its run_sync) to `rates`."""
    from parseable_spark.server import ParseableAPI

    api = ParseableAPI(spark, root)
    if instr is not None:
        instr.trace_api(api)
    for stream in inputs.SEARCH_STREAMS:
        api.create_stream(stream, time_partition="ts", time_partition_limit_days=36500)
    hourly, minutely = inputs.SEARCH_STREAMS
    for stream in (hourly, minutely):
        t_first = time.perf_counter()
        for i, body in enumerate(batches[stream]):
            records = json.loads(body)
            with _span(tracer, "setup.ingest", f"{root}:{stream}:{i}"):
                t0 = time.perf_counter()
                api.ingest(stream, records)
                lat.append(time.perf_counter() - t0)
        with _span(tracer, "maint.sync", f"{root}:{stream}:sync"):
            flushed = api.run_sync()
        rates.append(flushed[stream] / (time.perf_counter() - t_first))
        if stream == hourly:  # only the first stream exists with files yet
            with _span(tracer, "maint.compact", f"{root}:compact"):
                api.run_compaction(level="hour")
    return api


def _search_requests(seed: int, client: int):
    """Endless seeded request sequence of one client: rounds of the
    fixed mix (every kind on every stream), shuffled per round."""
    rng = random.Random(f"search-client:{seed}:{client}")
    a = inputs.SEARCH_ANCHOR
    minutes = inputs.SEARCH_HOURS * 60
    while True:
        mix = [(k, s) for k in SEARCH_KINDS for s in inputs.SEARCH_STREAMS]
        rng.shuffle(mix)
        for kind, stream in mix:
            if kind == "narrow":
                m0 = rng.randrange(minutes - 5)
                lvl = rng.choice(("error", "warn"))
                sql = (
                    f"SELECT id, host, level, status FROM {stream} "
                    f"WHERE level = '{lvl}' LIMIT {NARROW_LIMIT}"
                )
                span = (m0, m0 + 5)
            elif kind == "count":
                h0 = rng.randrange(inputs.SEARCH_HOURS)
                h1 = rng.randrange(h0 + 1, inputs.SEARCH_HOURS + 1)
                sql, span = f"SELECT COUNT(*) AS n FROM {stream}", (h0 * 60, h1 * 60)
            elif kind == "groupby":
                m0 = rng.randrange(minutes - 120)
                sql = (
                    f"SELECT host, level, COUNT(*) AS n, SUM(status) AS status_sum, "
                    f"MAX(latency_ms) AS max_latency FROM {stream} GROUP BY host, level"
                )
                span = (m0, m0 + 120)
            elif kind == "counts":
                m0 = rng.randrange(0, minutes - 120 + 1, 10)
                sql, span = None, (m0, m0 + 120)
            else:  # select10
                m0 = rng.randrange(minutes - 10)
                sql, span = f"SELECT * FROM {stream}", (m0, m0 + 10)
            start = iso(a + timedelta(minutes=span[0]))
            end = iso(a + timedelta(minutes=span[1]))
            if sql is None:
                yield kind, stream, "/api/v1/counts", {
                    "stream": stream, "startTime": start, "endTime": end, "numBins": 12,
                }
            else:
                yield kind, stream, "/api/v1/query", {
                    "query": sql, "startTime": start, "endTime": end,
                }


def _search_oracle(seed: int) -> duckdb.DuckDBPyConnection:
    """The generated events in DuckDB, independent of the engine."""
    rows = []
    for stream in inputs.SEARCH_STREAMS:
        for e in inputs.search_events(seed, stream):
            rows.append(
                (stream, e["id"], pd.Timestamp(e["ts"].rstrip("Z")), e["host"],
                 e["level"], float(e["status"]), e["latency_ms"])
            )
    frame = pd.DataFrame(
        rows, columns=["stream", "id", "t", "host", "level", "status", "latency_ms"]
    )
    con = duckdb.connect()
    con.register("ev", frame)
    return con


def _check_search(con, kind: str, stream: str, body: dict, resp) -> str | None:
    """None when the response is right, else what is wrong."""
    lo = pd.Timestamp(body["startTime"].rstrip("Z"))
    hi = pd.Timestamp(body["endTime"].rstrip("Z"))
    where = "stream = ? AND t >= ? AND t < ?"
    args = [stream, lo, hi]
    if kind == "narrow":
        lvl = body["query"].split("level = '")[1].split("'")[0]
        want = {r[0] for r in con.execute(
            f"SELECT id FROM ev WHERE {where} AND level = ?", args + [lvl]).fetchall()}
        got = [int(r["id"]) for r in resp]
        ok = (len(got) == min(NARROW_LIMIT, len(want)) and set(got) <= want
              and all(r["level"] == lvl for r in resp))
        return None if ok else f"narrow: {len(got)} rows, {len(want)} expected"
    if kind == "count":
        (want,) = con.execute(f"SELECT COUNT(*) FROM ev WHERE {where}", args).fetchone()
        return None if resp == [{"n": want}] else f"count: {resp} != {want}"
    if kind == "groupby":
        want = sorted(con.execute(
            f"SELECT host, level, COUNT(*), SUM(status), MAX(latency_ms) FROM ev "
            f"WHERE {where} GROUP BY host, level", args).fetchall())
        got = sorted(
            (r["host"], r["level"], r["n"], r["status_sum"], r["max_latency"]) for r in resp
        )
        return None if got == [tuple(w) for w in want] else "groupby: rows differ"
    if kind == "counts":
        width = (hi - lo) / 12
        want = [0] * 12
        for (t,) in con.execute(f"SELECT t FROM ev WHERE {where}", args).fetchall():
            want[min(11, int((pd.Timestamp(t) - lo) / width))] += 1
        got = [r["count"] for r in resp["records"]]
        return None if got == want else f"counts: {got} != {want}"
    want = sorted(r[0] for r in con.execute(f"SELECT id FROM ev WHERE {where}", args).fetchall())
    got = sorted(int(r["id"]) for r in resp)
    return None if got == want else f"select10: {len(got)} rows, {len(want)} expected"


def run_search(spark, seed: int, seconds: float, work: str, instr, tracer) -> Outcome:
    from parseable_spark.server import serve_background

    out = Outcome()
    batches = inputs.search_batches(seed)
    raw_bytes = sum(len(b) for bs in batches.values() for b in bs)
    setup_s, rates, ingest_lat = [], [], []
    # an untimed build of each stream's first batch warms the write path,
    # so every timed build runs on a warm JVM
    _build_search_store(spark, os.path.join(work, "search-warm"),
                        {s: bs[:1] for s, bs in batches.items()}, None, None, [], [])
    api = root = None
    for r in range(SEARCH_SETUP_REPEATS):
        root = os.path.join(work, f"search-store-{r}")
        t0 = time.perf_counter()
        api = _build_search_store(spark, root, batches, instr, tracer, ingest_lat, rates)
        setup_s.append(time.perf_counter() - t0)
    out.attempted += len(ingest_lat)
    out.flags.append("set-up builds (s): " + ", ".join(f"{x:.2f}" for x in setup_s))
    srv, base = serve_background(api)
    deadline = time.perf_counter() + seconds
    results: list[tuple] = []  # (kind, stream, body, status, resp, secs, nbytes)

    def client(c: int) -> None:
        for i, (kind, stream, path, body) in enumerate(_search_requests(seed, c)):
            if time.perf_counter() >= deadline:
                return
            with _span(tracer, f"client.{'counts' if kind == 'counts' else 'query'}",
                       f"c{c}:{i}") as sp:
                status, resp, secs, nbytes = post_json(base, path, body, _trace_header(tracer, sp))
            results.append((kind, stream, body, status, resp, secs, nbytes))

    t_start = time.perf_counter()
    threads = [threading.Thread(target=client, args=(c,)) for c in range(SEARCH_CLIENTS)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    elapsed = time.perf_counter() - t_start
    srv.shutdown()
    srv.server_close()

    con = _search_oracle(seed)
    for kind, stream, body, status, resp, _, _ in results:
        problem = f"HTTP {status}" if status != 200 else _check_search(con, kind, stream, body, resp)
        out.op(problem is None, f"{kind}/{stream}: {problem}")
    rows, stored = 0, 0
    for stream in inputs.SEARCH_STREAMS:
        r_rows, r_bytes = read_manifest(root, stream)
        rows += r_rows
        stored += r_bytes
    want_rows = sum(len(json.loads(b)) for bs in batches.values() for b in bs)
    out.op(rows == want_rows, f"manifest rows {rows} != ingested {want_rows}")

    lat = [r[5] for r in results]
    _latency_note("query", lat, out)
    _latency_note("ingest", ingest_lat, out)
    per_kind = {}
    for kind, stream, _, _, _, secs, _ in results:
        per_kind.setdefault(f"{kind}/{stream}", []).append(secs)
    out.metrics.update(
        setup_s=median(setup_s),
        query_total_s=_query_total(per_kind, out),
        queries_per_s=len(results) / elapsed,
        ingest_events_per_s=median(rates),
        stored_bytes_per_input_byte=stored / raw_bytes,
    )
    out.layer_inputs = {
        "raw_bytes": raw_bytes * SEARCH_SETUP_REPEATS,
        "response_bytes": [r[6] for r in results if r[0] != "counts"],
        "rejected": 0,
    }
    return out


# --- ingest -----------------------------------------------------------------

def _ingest_setup(spark, root: str, warm: bytes, instr):
    """API + HTTP server on a fresh root, one warm batch acked and synced."""
    from parseable_spark.server import ParseableAPI, serve_background

    api = ParseableAPI(spark, root)
    if instr is not None:
        instr.trace_api(api)
    srv, base = serve_background(api)
    status, data, _ = post(base, "/api/v1/ingest", warm, {"X-P-Stream": INGEST_STREAM})
    if status != 200:
        raise RuntimeError(f"warm ingest failed: HTTP {status} {data[:200]!r}")
    api.run_sync()
    return api, srv, base


def run_ingest(spark, seed: int, seconds: float, work: str, instr, tracer) -> Outcome:
    """One load thread runs a fixed cycle until the deadline: POST a
    batch, refresh the dashboard (its answers must count every acked
    event), run_sync, and an hour compaction every COMPACT_EVERY_SYNCS
    cycles. A final compaction settles the layout, so stored bytes do
    not depend on where the run stopped in the compaction cadence."""
    out = Outcome()
    batches = inputs.ingest_batches(seed)
    setup_s = []
    api = srv = base = root = None
    for r in range(SETUP_REPEATS):
        if srv is not None:
            srv.shutdown()
            srv.server_close()
        root = os.path.join(work, f"ingest-store-{r}")
        t0 = time.perf_counter()
        api, srv, base = _ingest_setup(spark, root, batches[0], instr)
        setup_s.append(time.perf_counter() - t0)

    acked = {"events": inputs.INGEST_BATCH_EVENTS, "bytes": len(batches[0])}
    ingest_lat, read_lat = [], {"counts": [], "count": []}
    rejected = 0

    def refresh(i: int, timed: bool) -> None:
        """/counts then COUNT(*) over the last 5 minutes: both read the
        staging memtable, and both must count every acked event."""
        now = datetime.now(timezone.utc).replace(tzinfo=None)
        start, end = iso(now - READER_WINDOW), iso(now + timedelta(minutes=2))
        for kind in ("counts", "count"):
            with _span(tracer, f"client.{'counts' if kind == 'counts' else 'query'}",
                       f"r{i}{kind}") as sp:
                if kind == "counts":
                    status, resp, secs, _ = post_json(base, "/api/v1/counts", {
                        "stream": INGEST_STREAM, "startTime": start, "endTime": end,
                        "numBins": 6}, _trace_header(tracer, sp))
                else:
                    status, resp, secs, _ = post_json(base, "/api/v1/query", {
                        "query": f"SELECT COUNT(*) AS n FROM {INGEST_STREAM}",
                        "startTime": start, "endTime": end}, _trace_header(tracer, sp))
            value = None
            if status == 200:
                value = (sum(r["count"] for r in resp["records"]) if kind == "counts"
                         else resp[0]["n"])
            out.op(value == acked["events"],
                   f"reader {kind}: {value} != acked {acked['events']} (HTTP {status})")
            if timed:
                read_lat[kind].append(secs)

    refresh(-1, timed=False)  # warm the read path; checked, not timed
    deadline = time.perf_counter() + seconds
    t_first = time.perf_counter()
    i = syncs = 0
    while time.perf_counter() < deadline:
        body = batches[1 + i % (len(batches) - 1)]
        with _span(tracer, "client.ingest", f"w{i}") as sp:
            status, data, secs = post(
                base, "/api/v1/ingest", body,
                {"X-P-Stream": INGEST_STREAM, **_trace_header(tracer, sp)},
            )
        ok = status == 200 and json.loads(data).get("records") == inputs.INGEST_BATCH_EVENTS
        out.op(ok, f"ingest batch {i}: HTTP {status}")
        if ok:
            ingest_lat.append(secs)
            acked["events"] += inputs.INGEST_BATCH_EVENTS
            acked["bytes"] += len(body)
        else:
            rejected += 1
        refresh(i, timed=True)
        with _span(tracer, "maint.sync", f"sync{syncs}"):
            flushed = api.run_sync().get(INGEST_STREAM, 0)
        want = inputs.INGEST_BATCH_EVENTS if ok else 0
        out.op(flushed == want, f"sync {syncs} flushed {flushed} != staged {want}")
        syncs += 1
        if syncs % COMPACT_EVERY_SYNCS == 0:
            with _span(tracer, "maint.compact", f"compact{syncs}"):
                api.run_compaction(level="hour")
        i += 1
    if syncs % COMPACT_EVERY_SYNCS:
        with _span(tracer, "maint.compact", "compact-final"):
            api.run_compaction(level="hour")
    elapsed = time.perf_counter() - t_first

    now = datetime.now(timezone.utc).replace(tzinfo=None)
    status, resp, _, _ = post_json(base, "/api/v1/query", {
        "query": f"SELECT COUNT(*) AS n FROM {INGEST_STREAM}",
        "startTime": iso(now - timedelta(hours=1)), "endTime": iso(now + timedelta(minutes=2)),
    })
    srv.shutdown()
    srv.server_close()
    total = acked["events"]
    out.op(status == 200 and resp == [{"n": total}], f"final COUNT(*) {resp} != acked {total}")
    rows, stored = read_manifest(root, INGEST_STREAM)
    out.op(rows == total, f"manifest rows {rows} != acked {total}")

    _latency_note("query", read_lat["counts"] + read_lat["count"], out)
    _latency_note("ingest", ingest_lat, out)
    out.flags.append(f"{syncs} cycles, {-(-syncs // COMPACT_EVERY_SYNCS)} compactions, "
                     f"in {elapsed:.1f} s")
    n_reads = len(read_lat["counts"]) + len(read_lat["count"])
    out.metrics.update(
        setup_s=median(setup_s),
        query_total_s=_query_total(read_lat, out),
        queries_per_s=n_reads / elapsed,
        ingest_events_per_s=(total - inputs.INGEST_BATCH_EVENTS) / elapsed,
        stored_bytes_per_input_byte=stored / acked["bytes"],
    )
    out.layer_inputs = {
        "raw_bytes": acked["bytes"],
        "response_bytes": [],
        "rejected": rejected,
    }
    return out
