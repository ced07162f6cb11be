"""The `analytics` workload: bench.py's 16 headline queries, run
serially by one client through the noop sink on seeded tables. No HTTP,
catalog or ingest work: the control for path-layer changes."""

from __future__ import annotations

import os
import time

from . import inputs
from .common import SETUP_REPEATS, Outcome
from .stats import median, tail

MIN_PASSES = 3


def _query_fns():
    import bench
    from parseable_spark.queries import registry

    specs = registry()
    fns = {}
    for name in bench.HEADLINE:
        fns[name] = bench._q25_production if name not in specs else specs[name].fn
    return fns


def run_analytics(spark, seed: int, seconds: float, work: str, instr, tracer) -> Outcome:
    out = Outcome()
    setup_s = []
    sf_dir = None
    for r in range(SETUP_REPEATS):
        sf_dir = os.path.join(work, f"tables-{r}")
        t0 = time.perf_counter()
        inputs.write_analytics_tables(seed, sf_dir)
        setup_s.append(time.perf_counter() - t0)
    fns = _query_fns()

    def run(name: str, rid: str | None) -> float:
        t0 = time.perf_counter()
        if tracer is None or rid is None:
            fns[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
        else:
            with tracer.span(f"query.{name}", rid=rid):
                fns[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t0

    for name in fns:  # warm, untraced: JVM, codegen and page cache
        run(name, None)
    timings: dict[str, list[float]] = {name: [] for name in fns}
    t_start = time.perf_counter()
    passes = 0
    while passes < MIN_PASSES or time.perf_counter() - t_start < seconds:
        for name in fns:
            timings[name].append(run(name, f"p{passes}:{name}"))
        passes += 1
    elapsed = time.perf_counter() - t_start

    _check(spark, sf_dir, fns, out)
    samples = [s for v in timings.values() for s in v]
    p90, flag = tail(samples)
    out.flags.append(
        f"query: {len(samples)} samples over {passes} passes, p50 {median(samples) * 1000:.1f} ms,"
        f" p90 {p90 * 1000:.1f} ms" + (f" (flagged: {flag})" if flag else "")
    )
    out.metrics.update(
        setup_s=median(setup_s),
        query_total_s=sum(median(v) for v in timings.values()),
        queries_per_s=len(samples) / elapsed,
    )
    out.layer_inputs = {"per_query_s": {n: median(v) for n, v in timings.items()}}
    return out


def _check(spark, sf_dir: str, fns: dict, out: Outcome) -> None:
    """Every headline answer against the DuckDB oracle
    (tools/check_oracle.compare), outside the timed region. The
    production q25 plan has no oracle twin: its row count must equal the
    verified q25's oracle row count (no band bucket reaches the cap at
    this corpus size, so the star guard never fires)."""
    from tools import check_oracle

    import __spark_entry__ as entry

    oracles = entry.oracle_sql()
    con = check_oracle.duck_connection(sf_dir)
    for name, fn in fns.items():
        try:
            got = fn(spark, sf_dir).toPandas()
            if name in oracles:
                ok, msg = check_oracle.compare(name, got, con.sql(oracles[name]).df())
            else:
                want = len(con.sql(oracles["q25_dedup_minhash_verified"]).df())
                ok, msg = len(got) == want, f"{len(got)} rows, {want} expected"
        except Exception as e:  # noqa: BLE001 — a failing query is a wrong answer
            ok, msg = False, f"{type(e).__name__}: {str(e)[:200]}"
        out.op(ok, f"{name}: {msg}")
