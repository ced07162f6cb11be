"""Spans around the calls into each layer, for the traced run.

Nothing here is imported by the untraced run's timed path: the
end-to-end metrics come from runs with no wrapper installed, and a
traced run of the same workload gives the per-layer split. The wrappers
live in the benchmark's own files and are installed at the name each
caller resolves (a module attribute for a function imported by name, a
class attribute for a method, an instance attribute for a lock).

A span records name, start, end, parent and request id; spans stay in
memory until the run ends. A span's self time is its duration minus the
part of its interval that its children cover.
"""

from __future__ import annotations

import functools
import itertools
import statistics
import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    id: int
    parent: int | None
    rid: str | None
    name: str
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)


class Tracer:
    """Collects spans; the current (request id, span id) context is
    per thread and is handed across threads explicitly with adopt()."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.held: dict[str, float] = defaultdict(float)  # rid -> lock-held s
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._held_lock = threading.Lock()
        # maps the JVM's epoch-millisecond phase stamps onto perf_counter
        self.epoch_offset = time.time() - time.perf_counter()

    def _stack(self) -> list:
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        return stack

    def context(self) -> tuple[str, int] | None:
        stack = self._stack()
        return stack[-1] if stack else None

    @contextmanager
    def span(self, name: str, rid: str | None = None, **attrs):
        """A child of the current context, or a new root when `rid` is
        given."""
        stack = self._stack()
        parent = None
        if rid is None and stack:
            rid, parent = stack[-1]
        sp = Span(next(self._ids), parent, rid, name, time.perf_counter(), attrs=attrs)
        stack.append((rid, sp.id))
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            stack.pop()
            self.spans.append(sp)

    @contextmanager
    def adopt(self, ctx: tuple[str, int] | None):
        """Continue `ctx` (taken from another thread) on this thread."""
        if ctx is None:
            yield
            return
        stack = self._stack()
        stack.append(ctx)
        try:
            yield
        finally:
            stack.pop()

    def record(self, name: str, start: float, end: float, **attrs) -> None:
        """A finished child span of the current context."""
        ctx = self.context()
        if ctx is not None:
            rid, parent = ctx
            self.spans.append(Span(next(self._ids), parent, rid, name, start, end, attrs))

    def add_held(self, seconds: float) -> None:
        ctx = self.context()
        if ctx is not None:
            with self._held_lock:
                self.held[ctx[0]] += seconds

    def dump(self) -> list[dict]:
        return [asdict(s) for s in self.spans]


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by possibly overlapping intervals."""
    total = 0.0
    cur_start = cur_end = None
    for a, b in sorted(i for i in intervals if i[1] > i[0]):
        if cur_end is None or a > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = a, b
        else:
            cur_end = max(cur_end, b)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id -> duration minus the union of its children's intervals,
    each clipped to the parent's interval."""
    children: dict[int, list[Span]] = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            children[s.parent].append(s)
    out = {}
    for s in spans:
        covered = union_length(
            [(max(c.start, s.start), min(c.end, s.end)) for c in children[s.id]]
        )
        out[s.id] = (s.end - s.start) - covered
    return out


class TracedLock:
    """Re-entrant lock wrapper: records the wait for the outermost
    acquire as a span and the time the lock is then held per request."""

    def __init__(self, inner, tracer: Tracer, wait_name: str, count_held: bool) -> None:
        self._inner = inner
        self._tracer = tracer
        self._wait_name = wait_name
        self._count_held = count_held
        self._local = threading.local()

    def acquire(self, blocking: bool = True, timeout: float = -1) -> bool:
        depth = getattr(self._local, "depth", 0)
        t0 = time.perf_counter()
        ok = self._inner.acquire(blocking, timeout)
        if not ok:
            return False
        if depth == 0:
            t1 = time.perf_counter()
            self._tracer.record(self._wait_name, t0, t1)
            self._local.since = t1
        self._local.depth = depth + 1
        return True

    def release(self) -> None:
        self._local.depth -= 1
        if self._local.depth == 0 and self._count_held:
            self._tracer.add_held(time.perf_counter() - self._local.since)
        self._inner.release()

    def __enter__(self):
        self.acquire()
        return self

    def __exit__(self, *exc) -> None:
        self.release()


class QueryListener:
    """py4j QueryExecutionListener: keeps, for every Spark action, the
    QueryExecution that actually ran (for a noop or parquet write that
    is the write's own QE): its Catalyst phase stamps and the summed
    SQL metrics of the executed (adaptive) plan."""

    def __init__(self) -> None:
        self.events: list[dict] = []

    def onSuccess(self, funcName, qe, durationNs):  # noqa: N802 (Java API)
        try:
            self.events.append(describe_execution(funcName, qe))
        except Exception as e:  # noqa: BLE001 — must not break the listener bus
            self.events.append({"func": funcName, "error": repr(e)})

    def onFailure(self, funcName, qe, exception):  # noqa: N802
        self.events.append({"func": funcName, "failed": True})

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


def describe_execution(func: str, qe) -> dict:
    phases = {}
    it = qe.tracker().phases().iterator()
    while it.hasNext():
        kv = it.next()
        phases[kv._1()] = (kv._2().startTimeMs(), kv._2().endTimeMs())
    metrics: dict[str, int] = defaultdict(int)

    def walk(plan) -> None:
        cls = plan.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            return walk(plan.executedPlan())
        if cls.endswith("QueryStageExec"):
            return walk(plan.plan())
        it = plan.metrics().iterator()
        while it.hasNext():
            kv = it.next()
            metrics[f"{cls}.{kv._1()}"] += kv._2().value()
        kids = plan.children().iterator()
        while kids.hasNext():
            walk(kids.next())

    walk(qe.executedPlan())
    return {"func": func, "qe_id": qe.id(), "phases": phases, "metrics": dict(metrics)}


class Instrumentation:
    """Installs and removes the span wrappers."""

    def __init__(self, tracer: Tracer, spark) -> None:
        self.tracer = tracer
        self.spark = spark
        self.listener = QueryListener()
        self._undo: list = []

    # -- generic wrapper --------------------------------------------------
    def wrap(self, owner, attr: str, name: str, after=None, before=None) -> None:
        orig = vars(owner)[attr] if attr in vars(owner) else getattr(owner, attr)
        tracer = self.tracer

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            if tracer.context() is None:
                return orig(*args, **kwargs)
            with tracer.span(name) as sp:
                state = before(args) if before else None
                result = orig(*args, **kwargs)
                if after:
                    after(sp, args, result, state)
                return result

        self._undo.append((owner, attr, orig))
        setattr(owner, attr, traced)

    def _set(self, owner, attr: str, value) -> None:
        self._undo.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, value)

    def install(self, engine: bool) -> None:
        """Spark action wrappers and the listener; with `engine`, also
        the wrappers around the engine's layers."""
        from pyspark.java_gateway import ensure_callback_server_started
        from pyspark.sql import DataFrameWriter
        from pyspark.sql.classic.dataframe import DataFrame

        ensure_callback_server_started(self.spark.sparkContext._gateway)
        self.spark._jsparkSession.listenerManager().register(self.listener)

        def qe_id(sp, args, result, state):
            sp.attrs["qe_id"] = args[0]._jdf.queryExecution().id()

        self.wrap(DataFrame, "collect", "spark.collect", after=qe_id)
        self.wrap(DataFrameWriter, "parquet", "spark.write")
        self.wrap(DataFrameWriter, "save", "spark.write")
        if engine:
            self._install_engine()

    def trace_api(self, api) -> None:
        """Wrap one ParseableAPI's lock and its engine's view lock."""
        tr = self.tracer
        self._set(api, "_lock", TracedLock(api._lock, tr, "server.api_lock_wait", True))
        self._set(
            api.engine, "_view_lock",
            TracedLock(api.engine._view_lock, tr, "engine.view_lock_wait", False),
        )

    def _install_engine(self) -> None:
        from parseable_spark import server
        from parseable_spark.catalog.manifest import Manifest
        from parseable_spark.query import counts, engine
        from parseable_spark.storage import store

        tr = self.tracer
        orig_post = server._Handler.do_POST

        @functools.wraps(orig_post)
        def do_post(handler):
            header = handler.headers.get("X-Bench-Trace")
            if not header:
                return orig_post(handler)
            rid, parent = header.rsplit("/", 1)
            with tr.adopt((rid, int(parent))), tr.span("server.handle"):
                return orig_post(handler)

        self._set(server._Handler, "do_POST", do_post)

        orig_deadline = engine.QueryEngine.run_with_deadline

        @functools.wraps(orig_deadline)
        def run_with_deadline(eng, fn, *args, **kwargs):
            ctx = tr.context()
            if ctx is None:
                return orig_deadline(eng, fn, *args, **kwargs)

            def in_ctx():
                with tr.adopt(ctx):
                    return fn()

            with tr.span("engine.run_with_deadline"):
                return orig_deadline(eng, in_ctx, *args, **kwargs)

        self._set(engine.QueryEngine, "run_with_deadline", run_with_deadline)

        def manifest_files(args):
            return {f.file_path: f.file_size for f in args[0].manifest.files}

        def flush_out(sp, args, result, before):
            after = manifest_files(args)
            new = [p for p in after if p not in before]
            sp.attrs.update(rows=result, files=len(new), bytes=sum(after[p] for p in new))

        def compact_out(sp, args, result, before):
            after = manifest_files(args)
            gone = [p for p in before if p not in after]
            new = [p for p in after if p not in before]
            sp.attrs.update(
                groups=result, files_in=len(gone), files_out=len(new),
                bytes_in=sum(before[p] for p in gone), bytes=sum(after[p] for p in new),
            )

        def set_attr(key, fn):
            def after(sp, args, result, state):
                sp.attrs[key] = fn(args, result)
            return after

        w = self.wrap
        w(server.ParseableAPI, "query", "server.api")
        w(server.ParseableAPI, "ingest", "server.api")
        w(server.ParseableAPI, "counts", "counts.histogram")
        w(server, "query_response", "response.serialize", after=set_attr(
            "rows", lambda a, r: len(r["records"] if isinstance(r, dict) else r)))
        w(counts, "fast_count", "counts.fast_count",
          after=set_attr("hit", lambda a, r: r is not None))
        w(engine, "extract_table_names", "engine.extract_tables")
        w(engine.QueryEngine, "register_stream", "engine.register")
        w(engine.QueryEngine, "query", "engine.query")
        w(Manifest, "prune_paths", "catalog.prune", after=lambda sp, a, r, s: sp.attrs.update(
            total=len(a[0].files), kept=len(r)))
        w(store.StreamStore, "scan", "storage.scan")
        w(store.StreamStore, "staging_df", "storage.staging_df",
          after=set_attr("nonempty", lambda a, r: r is not None))
        w(store.StreamStore, "_batches_df", "storage.to_dataframe")
        w(store.StreamStore, "ingest", "ingest.stage")
        w(store, "prepare_batch", "ingest.prepare",
          after=set_attr("events", lambda a, r: len(r.records)))
        w(store.StreamStore, "flush", "flush", before=manifest_files, after=flush_out)
        w(store, "write_stream_batch", "flush.write")
        w(store.StreamStore, "compact", "compact", before=manifest_files, after=compact_out)

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._undo):
            setattr(owner, attr, orig)
        self._undo.clear()
        try:
            self.spark._jsparkSession.listenerManager().unregister(self.listener)
        except Exception:  # noqa: BLE001 — session may already be stopping
            pass

    def wait_for_listener(self, timeout: float = 20.0, quiet: float = 1.0) -> None:
        """The listener bus is asynchronous: wait until it has delivered
        at least one event per traced Spark action and then gone quiet
        (untraced actions, such as set-up syncs, deliver events too)."""
        want = sum(1 for s in self.tracer.spans if s.name in ("spark.collect", "spark.write"))
        deadline = time.monotonic() + timeout
        seen, since = -1, time.monotonic()
        while time.monotonic() < deadline:
            n = len(self.listener.events)
            if n != seen:
                seen, since = n, time.monotonic()
            elif n >= want and time.monotonic() - since >= quiet:
                return
            time.sleep(0.05)

    # -- Spark phases as child spans --------------------------------------
    def attach_spark_phases(self) -> None:
        """Match listener events to the traced actions (collects by QE
        id, writes in order) and add Catalyst phase spans: optimization
        and planning under the action, analysis under whichever span of
        the same request was open when it ran. What stays as the
        action's self time is execution."""
        tr = self.tracer
        actions = sorted(
            (s for s in tr.spans if s.name in ("spark.collect", "spark.write")),
            key=lambda s: s.start,
        )
        events = [e for e in self.listener.events if "qe_id" in e]
        by_qe = {e["qe_id"]: e for e in events}
        collect_ids = {s.attrs.get("qe_id") for s in actions if s.name == "spark.collect"}
        writes = [e for e in events if e["qe_id"] not in collect_ids and "planning" in e["phases"]]
        by_rid: dict[str, list[Span]] = defaultdict(list)
        for s in tr.spans:
            by_rid[s.rid].append(s)
        extra = []
        for act in actions:
            if act.name == "spark.collect":
                ev = by_qe.get(act.attrs.get("qe_id"))
            else:  # a write's own QE is planned inside the write call
                ev = match_write(writes, act, tr.epoch_offset)
            if ev is None:
                continue
            act.attrs["spark"] = ev
            for phase, (a_ms, b_ms) in ev["phases"].items():
                a = a_ms / 1000 - tr.epoch_offset
                b = b_ms / 1000 - tr.epoch_offset
                host = act
                if not (act.start <= a <= act.end):
                    holders = [s for s in by_rid[act.rid] if s.start <= a <= s.end]
                    if not holders:
                        continue
                    host = max(holders, key=lambda s: s.start)  # innermost
                a, b = max(a, host.start), min(b, host.end)
                extra.append(Span(next(tr._ids), host.id, act.rid, f"spark.{phase}", a, max(a, b)))
        tr.spans.extend(extra)


def match_write(writes: list[dict], act: Span, epoch_offset: float) -> dict | None:
    """Take from `writes` the QE event planned inside the write span
    `act` (JVM epoch-millisecond stamps, 5 ms of clock slack)."""
    for i, ev in enumerate(writes):
        planned = ev["phases"]["planning"][0] / 1000 - epoch_offset
        if act.start - 0.005 <= planned <= act.end + 0.005:
            return writes.pop(i)
    return None


# --- per-layer aggregation -------------------------------------------------

QUERY_ROOTS = ("client.query", "client.counts")
INGEST_ROOTS = ("client.ingest", "setup.ingest")
HTTP_ROOTS = ("client.query", "client.counts", "client.ingest")
ENGINE_SPANS = ("engine.query", "engine.extract_tables", "engine.run_with_deadline")


def _plan_sum(metrics: dict, name: str, scans_only: bool = False) -> int:
    return sum(
        v for k, v in metrics.items()
        if k.endswith(f".{name}") and (not scans_only or "Scan" in k.split(".")[0])
    )


def _spark_metrics(spans, selft, rids, n, actions) -> dict[str, float]:
    """Catalyst phases, execution time and plan metrics of the traced
    Spark actions under the given requests, per request."""
    def total(name: str) -> float:
        return sum(selft[s.id] for s in spans if s.name == name and s.rid in rids)

    m = {f"spark.{p}_ms": total(f"spark.{p}") / n * 1000
         for p in ("analysis", "optimization", "planning")}
    m["spark.exec_ms"] = sum(total(a) for a in actions) / n * 1000
    execs = [
        s.attrs["spark"]["metrics"]
        for s in spans
        if s.name in actions and s.rid in rids and "spark" in s.attrs
    ]
    m["spark.files_read"] = sum(_plan_sum(x, "numFiles", True) for x in execs) / n
    m["spark.bytes_read"] = sum(_plan_sum(x, "filesSize", True) for x in execs) / n
    m["spark.rows_read"] = sum(_plan_sum(x, "numOutputRows", True) for x in execs)
    m["spark.shuffle_bytes"] = sum(_plan_sum(x, "shuffleBytesWritten") for x in execs) / n
    m["spark.peak_memory_bytes"] = max((_plan_sum(x, "peakMemory") for x in execs), default=0)
    return m


def spark_phase_metrics(tracer: Tracer, roots_prefix: str) -> dict[str, float]:
    """The Spark layer split for requests whose root span name starts
    with `roots_prefix` (the analytics workload's query runs)."""
    spans = tracer.spans
    selft = self_times(spans)
    rids = {s.rid for s in spans if s.parent is None and s.name.startswith(roots_prefix)}
    m = _spark_metrics(spans, selft, rids, max(1, len(rids)), ("spark.collect", "spark.write"))
    m.pop("spark.rows_read")
    return m


def layer_metrics(tracer: Tracer) -> dict[str, float]:
    """The per-layer metrics of one traced run (see README.md for what
    each should move). Means are per request of the stated kind."""
    spans = tracer.spans
    selft = self_times(spans)
    roots = {s.rid: s for s in spans if s.parent is None and s.rid is not None}
    kind = {rid: r.name for rid, r in roots.items()}
    q_rids = [rid for rid, k in kind.items() if k in QUERY_ROOTS]
    h_rids = [rid for rid, k in kind.items() if k in HTTP_ROOTS]
    nq, nh = max(1, len(q_rids)), max(1, len(h_rids))
    in_q = set(q_rids)
    in_h = set(h_rids)

    def total(names, rids, dur=False) -> float:
        return sum(
            (s.end - s.start) if dur else selft[s.id]
            for s in spans
            if s.name in names and s.rid in rids
        )

    ms = 1000.0
    m: dict[str, float] = {}
    server_names = ("server.handle", "server.api")
    m["server.self_ms"] = total(server_names, in_h) / nh * ms
    m["server.api_lock_wait_ms"] = total(("server.api_lock_wait",), in_h) / nh * ms
    m["server.api_lock_held_ms"] = sum(tracer.held[r] for r in h_rids) / nh * ms
    m["engine.register_ms"] = total(("engine.register",), in_q) / nq * ms
    m["engine.query_ms"] = total(ENGINE_SPANS, in_q) / nq * ms
    m["engine.view_lock_wait_ms"] = total(("engine.view_lock_wait",), in_q) / nq * ms

    prunes = [s for s in spans if s.name == "catalog.prune" and s.rid in in_q]
    m["catalog.prune_ms"] = total(("catalog.prune",), in_q) / nq * ms
    n_prunes = max(1, len(prunes))
    files_total = sum(s.attrs.get("total", 0) for s in prunes)
    files_kept = sum(s.attrs.get("kept", 0) for s in prunes)
    m["catalog.files_total"] = files_total / n_prunes
    m["catalog.files_kept"] = files_kept / n_prunes
    m["catalog.kept_ratio"] = files_kept / files_total if files_total else 0.0

    m["storage.scan_ms"] = total(("storage.scan",), in_q) / nq * ms
    m["storage.staging_df_ms"] = total(("storage.staging_df",), in_q, dur=True) / nq * ms
    child_names: dict[int, set] = defaultdict(set)
    for s in spans:
        if s.parent is not None:
            child_names[s.parent].add(s.name)
    staged = [
        s for s in spans
        if s.name == "storage.staging_df" and s.rid in in_q and s.attrs.get("nonempty")
    ]
    hits = sum(1 for s in staged if "storage.to_dataframe" not in child_names[s.id])
    m["storage.staging_cache_hit_ratio"] = hits / len(staged) if staged else 0.0

    m.update(_spark_metrics(spans, selft, in_q, nq, ("spark.collect",)))
    m.pop("spark.rows_read")
    # rows read per row returned: the /query route only, where both ends
    # are known (a /counts answer is bins, not rows)
    query_route = {rid for rid, k in kind.items() if k == "client.query"}
    serialized = [s for s in spans if s.name == "response.serialize" and s.rid in query_route]
    rows_returned = sum(s.attrs.get("rows", 0) for s in serialized)
    rows_read = _spark_metrics(spans, selft, query_route, 1, ("spark.collect",))["spark.rows_read"]
    m["spark.rows_read_per_row_returned"] = rows_read / rows_returned if rows_returned else 0.0

    n_query_route = max(1, len(query_route))
    m["response.serialize_ms"] = total(("response.serialize",), in_q) / n_query_route * ms
    m["response.rows"] = rows_returned / n_query_route

    m["counts.ms"] = total(("counts.histogram", "counts.fast_count"), in_q) / nq * ms
    fast = [s for s in spans if s.name == "counts.fast_count" and s.rid in in_q]
    m["counts.fast_path_hit_ratio"] = (
        sum(1 for s in fast if s.attrs.get("hit")) / len(fast) if fast else 0.0
    )

    i_rids = {rid for rid, k in kind.items() if k in INGEST_ROOTS}
    prep = [s for s in spans if s.name == "ingest.prepare" and s.rid in i_rids]
    events = sum(s.attrs.get("events", 0) for s in prep)
    m["ingest.prepare_ms_per_1k"] = (
        sum(s.end - s.start for s in prep) / events * 1e6 if events else 0.0
    )
    m["ingest.events"] = events

    def child_total(parent: Span, name: str) -> float:
        return sum(
            s.end - s.start for s in spans if s.parent == parent.id and s.name == name
        )

    flushes = [s for s in spans if s.name == "flush" and s.attrs.get("files")]
    nf = max(1, len(flushes))
    m["flush.ms"] = sum(s.end - s.start for s in flushes) / nf * ms
    m["flush.to_dataframe_ms"] = sum(child_total(s, "storage.to_dataframe") for s in flushes) / nf * ms
    m["flush.write_ms"] = sum(child_total(s, "flush.write") for s in flushes) / nf * ms
    m["flush.commit_ms"] = sum(selft[s.id] for s in flushes) / nf * ms
    m["flush.files_written"] = sum(s.attrs["files"] for s in flushes) / nf
    m["flush.bytes_written"] = sum(s.attrs["bytes"] for s in flushes) / nf

    compacts = [s for s in spans if s.name == "compact" and s.attrs.get("files_in")]
    nc = max(1, len(compacts))
    m["compact.ms"] = sum(s.end - s.start for s in compacts) / nc * ms
    m["compact.swap_ms"] = sum(selft[s.id] for s in compacts) / nc * ms
    m["compact.files_in"] = sum(s.attrs["files_in"] for s in compacts) / nc
    m["compact.files_out"] = sum(s.attrs["files_out"] for s in compacts) / nc
    m["compact.bytes_rewritten"] = sum(s.attrs["bytes"] for s in compacts) / nc
    m["storage.bytes_written"] = sum(s.attrs["bytes"] for s in flushes) + sum(
        s.attrs["bytes"] for s in compacts
    )

    ratios = [
        1.0 - selft[roots[rid].id] / (roots[rid].end - roots[rid].start)
        for rid in h_rids
        if roots[rid].end > roots[rid].start
    ]
    m["trace.attributed_ratio"] = statistics.median(ratios) if ratios else 0.0
    m["trace.attributed_ratio_min"] = min(ratios) if ratios else 0.0
    return m
