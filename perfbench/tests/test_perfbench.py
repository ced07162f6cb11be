"""Tests for the benchmark's own code (no Spark needed).

Run from the repository root: python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import sys
import threading
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parents[2]
sys.path.insert(0, str(ROOT))

from perfbench import inputs, run, stats, tracing  # noqa: E402
from perfbench.tracing import Span, Tracer, TracedLock, self_times, union_length  # noqa: E402


# --- generator determinism ---------------------------------------------------

def test_search_inputs_are_byte_identical_per_seed():
    a, b = inputs.search_batches(7), inputs.search_batches(7)
    assert a == b
    assert a != inputs.search_batches(8)
    events = [e for body in a["app_hourly"] for e in json.loads(body)]
    assert len(events) == (
        inputs.SEARCH_HOURS * 60 // inputs.SEARCH_MINUTE_STEP * inputs.SEARCH_EVENTS_PER_MINUTE
    )
    assert [e["ts"] for e in events] == sorted(e["ts"] for e in events)


def test_ingest_inputs_are_byte_identical_per_seed():
    a = inputs.ingest_batches(3)
    assert a == inputs.ingest_batches(3)
    assert a != inputs.ingest_batches(4)
    assert all(len(json.loads(b)) == inputs.INGEST_BATCH_EVENTS for b in a)
    events = [e for b in a for e in json.loads(b)]
    assert any(isinstance(e["msg"], int) for e in events)  # type conflicts
    assert any(k.startswith("extra_") for e in events for k in e)  # drift


def test_analytics_tables_are_byte_identical_per_seed(tmp_path):
    inputs.write_analytics_tables(5, str(tmp_path / "a"))
    inputs.write_analytics_tables(5, str(tmp_path / "b"))
    inputs.write_analytics_tables(6, str(tmp_path / "c"))
    names = sorted(p.name for p in (tmp_path / "a").iterdir())
    assert len(names) == 10
    for n in names:
        assert (tmp_path / "a" / n).read_bytes() == (tmp_path / "b" / n).read_bytes()
    assert (tmp_path / "a" / "lineitem.parquet").read_bytes() != (
        tmp_path / "c" / "lineitem.parquet"
    ).read_bytes()


# --- self time ---------------------------------------------------------------

def _span(i, parent, start, end, name="x"):
    return Span(i, parent, "r", name, start, end)


def test_union_length_merges_overlaps():
    assert union_length([]) == 0
    assert union_length([(0, 2), (1, 3), (5, 6), (5.5, 5.7)]) == pytest.approx(4.0)
    assert union_length([(3, 1)]) == 0  # empty interval


def test_self_time_with_nested_and_overlapping_children():
    spans = [
        _span(1, None, 0.0, 10.0),  # root
        _span(2, 1, 1.0, 4.0),  # child
        _span(3, 1, 3.0, 6.0),  # overlaps child 2 on [3, 4]
        _span(4, 2, 1.5, 2.0),  # grandchild inside 2
        _span(5, 1, 9.0, 12.0),  # runs past the parent's end: clipped
        _span(6, 3, 2.0, 3.5),  # starts before its parent: clipped
    ]
    st = self_times(spans)
    assert st[1] == pytest.approx(10 - (5 + 1))  # covered [1,6] and [9,10]
    assert st[2] == pytest.approx(3 - 0.5)
    assert st[3] == pytest.approx(3 - 0.5)
    assert st[4] == pytest.approx(0.5)
    assert st[5] == pytest.approx(3.0)
    assert st[6] == pytest.approx(1.5)


def test_self_times_of_a_well_nested_request_add_up_to_its_duration():
    spans = [
        _span(1, None, 0.0, 1.0),
        _span(2, 1, 0.1, 0.6),
        _span(3, 2, 0.2, 0.3),
        _span(4, 2, 0.3, 0.5),
        _span(5, 1, 0.7, 0.95),
    ]
    assert sum(self_times(spans).values()) == pytest.approx(1.0)


def test_spans_nest_per_thread_and_cross_threads_by_adoption():
    tr = Tracer()
    with tr.span("client.query", rid="q1") as root:
        with tr.span("server.api") as api:
            ctx = tr.context()
            t = threading.Thread(target=lambda: _child(tr, ctx))
            t.start()
            t.join(timeout=5)
            assert not t.is_alive()
    by_name = {s.name: s for s in tr.spans}
    assert by_name["server.api"].parent == root.id
    assert by_name["worker"].parent == api.id
    assert {s.rid for s in tr.spans} == {"q1"}
    assert root.parent is None


def _child(tr, ctx):
    with tr.adopt(ctx), tr.span("worker"):
        pass


def test_traced_lock_counts_outer_wait_and_held_time_once():
    tr = Tracer()
    lock = TracedLock(threading.RLock(), tr, "wait", count_held=True)
    with tr.span("client.query", rid="q"):
        with lock:
            with lock:  # re-entrant: no second wait span
                pass
    waits = [s for s in tr.spans if s.name == "wait"]
    assert len(waits) == 1
    assert tr.held["q"] > 0
    assert lock.acquire(blocking=False)
    lock.release()


# --- percentile rule ----------------------------------------------------------

def test_percentile_is_nearest_rank():
    xs = list(range(1, 11))
    assert stats.percentile(xs, 0.5) == 5
    assert stats.percentile(xs, 0.9) == 9
    assert stats.percentile([4.0], 0.9) == 4.0


def test_p90_flagged_below_ten_samples_beyond_it():
    value, flag = stats.tail([float(i) for i in range(99)])
    assert flag is not None and "9 beyond" in flag
    value, flag = stats.tail([float(i) for i in range(100)])
    assert flag is None and value == 89.0
    assert stats.samples_beyond(100, 0.9) == 10


def test_spread_is_iqr_over_median():
    s = stats.spread([1.0, 2.0, 3.0, 4.0, 5.0])
    assert s["median"] == 3.0
    assert s["iqr_share"] == pytest.approx((4.5 - 1.5) / 3.0)


# --- BENCHMARK.json matches what the command prints ------------------------------

def test_benchmark_json_matches_printed_metrics():
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    assert spec["command"] == ["python3", "perfbench/run.py"]
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert [m["name"] for m in spec["per_layer"]] == list(run.LAKE_PER_LAYER)
    for m in spec["per_layer"]:
        assert m["unit"] == run.per_layer_unit(m["name"])
    setup = next(m for m in spec["end_to_end"] if m["name"] == "setup_s")
    assert setup["bound"] == max(m["bound"] for m in spec["end_to_end"])
    assert {w["name"] for w in spec["workloads"]} <= {"search", "ingest", "analytics"}


def test_layer_metrics_on_a_synthetic_request():
    tr = Tracer()
    tr.spans = [
        Span(1, None, "q", "client.query", 0.0, 1.0),
        Span(2, 1, "q", "server.handle", 0.01, 0.99),
        Span(3, 2, "q", "server.api_lock_wait", 0.02, 0.22),
        Span(4, 2, "q", "engine.query", 0.3, 0.5),
        Span(5, 2, "q", "response.serialize", 0.5, 0.9, {"rows": 4}),
        Span(6, 5, "q", "spark.collect", 0.55, 0.85),
    ]
    m = tracing.layer_metrics(tr)
    assert m["server.api_lock_wait_ms"] == pytest.approx(200)
    assert m["engine.query_ms"] == pytest.approx(200)
    assert m["spark.exec_ms"] == pytest.approx(300)
    assert m["response.serialize_ms"] == pytest.approx(100)
    assert m["response.rows"] == 4
    assert m["trace.attributed_ratio"] == pytest.approx(0.98)
    # server.handle self time: 0.98 - 0.2 - 0.2 - 0.4
    assert m["server.self_ms"] == pytest.approx(180)


def test_write_events_match_the_write_they_were_planned_in():
    offset = 1000.0  # epoch = perf + offset
    act = Span(1, None, "r", "spark.write", 5.0, 6.0)
    untraced = {"qe_id": 1, "phases": {"planning": ((offset + 2.0) * 1000, 0)}}
    traced = {"qe_id": 2, "phases": {"planning": ((offset + 5.5) * 1000, 0)}}
    writes = [untraced, traced]
    assert tracing.match_write(writes, act, offset) is traced
    assert writes == [untraced]
    assert tracing.match_write(writes, act, offset) is None
