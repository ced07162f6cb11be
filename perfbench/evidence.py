"""Repeat the benchmark over seeds and summarize its steadiness.

    python3 perfbench/evidence.py run --workload search --seeds 1-10 \
        --seconds 25 [--trace 1] --out perfbench/results/search-set1.json
    python3 perfbench/evidence.py compare A.json B.json
    python3 perfbench/evidence.py layers T1.json [T2.json ...]

`run` executes perfbench/run.py once per seed, one after another, and
writes every run's result plus, per metric, the median, quartiles and
inter-quartile distance as a share of the median
(statistics.quantiles, n=4). `compare` prints, per metric, how far the
second set's median moved from the first's, against BENCHMARK.json's
bounds; a traced set compared with an untraced one of the same
workload gives the tracing overhead (each trace.<metric> against the
untraced <metric>).
"""

from __future__ import annotations

import argparse
import json
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE.parent))

from perfbench.stats import spread  # noqa: E402


def _seeds(text: str) -> list[int]:
    if "-" in text:
        lo, hi = text.split("-")
        return list(range(int(lo), int(hi) + 1))
    return [int(x) for x in text.split(",")]


def run_set(args) -> None:
    runs = []
    for seed in _seeds(args.seeds):
        t0 = time.monotonic()
        proc = subprocess.run(
            [sys.executable, str(HERE / "run.py"), "--workload", args.workload,
             "--seed", str(seed), "--seconds", str(args.seconds), "--trace", str(args.trace)],
            capture_output=True, text=True, cwd=HERE.parent,
        )
        lines = proc.stdout.strip().splitlines()
        result = json.loads(lines[-1]) if lines and lines[-1].startswith("{") else None
        runs.append({
            "seed": seed, "exit": proc.returncode, "wall_s": round(time.monotonic() - t0, 1),
            "notes": [x for x in lines if x.startswith("#")], "result": result,
        })
        print(f"seed {seed}: exit {proc.returncode} in {runs[-1]['wall_s']} s", flush=True)
    values: dict[str, list[float]] = {}
    for r in runs:
        for name, m in ((r["result"] or {}).get("metrics") or {}).items():
            values.setdefault(name, []).append(m["value"])
    summary = {
        name: spread(v) if len(v) >= 2 else {"median": v[0], "q1": v[0], "q3": v[0],
                                             "iqr_share": 0.0, "n": 1}
        for name, v in values.items()
    }
    doc = {"workload": args.workload, "seconds": args.seconds, "trace": args.trace,
           "runs": runs, "summary": summary}
    Path(args.out).parent.mkdir(parents=True, exist_ok=True)
    Path(args.out).write_text(json.dumps(doc, indent=1) + "\n")
    print(table(doc))


def table(doc: dict) -> str:
    rows = [f"{doc['workload']} (trace {doc['trace']}, {len(doc['runs'])} runs)",
            "| metric | median | q1 | q3 | IQR/median |", "|---|---|---|---|---|"]
    for name, s in doc["summary"].items():
        rows.append(f"| {name} | {s['median']:.4g} | {s['q1']:.4g} | {s['q3']:.4g} "
                    f"| {s['iqr_share']:.3f} |")
    return "\n".join(rows)


def compare(args) -> None:
    a, b = (json.loads(Path(p).read_text()) for p in (args.first, args.second))
    bounds = {m["name"]: m for m in json.loads((HERE.parent / "BENCHMARK.json").read_text())[
        "end_to_end"]}
    print(f"| metric | first median | second median | change | bound |\n|---|---|---|---|---|")
    for name, sb in b["summary"].items():
        ref = name.removeprefix("trace.") if b["trace"] != a["trace"] else name
        sa = a["summary"].get(ref)
        if sa is None:
            continue
        change = sb["median"] / sa["median"] - 1
        bound = bounds.get(ref, {}).get("bound", "")
        print(f"| {name} | {sa['median']:.4g} | {sb['median']:.4g} | {change:+.3f} | {bound} |")


def layers(args) -> None:
    """Per-layer table: the median of each traced metric per set."""
    docs = [json.loads(Path(p).read_text()) for p in args.files]
    names = list(dict.fromkeys(n for d in docs for n in d["summary"]))
    print("| metric | " + " | ".join(d["workload"] for d in docs) + " |")
    print("|---|" + "---|" * len(docs))
    for name in names:
        cells = [
            f"{d['summary'][name]['median']:.4g}" if name in d["summary"] else "" for d in docs
        ]
        print(f"| {name} | " + " | ".join(cells) + " |")


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    sub = ap.add_subparsers(dest="cmd", required=True)
    r = sub.add_parser("run")
    r.add_argument("--workload", required=True)
    r.add_argument("--seeds", required=True)
    r.add_argument("--seconds", type=float, required=True)
    r.add_argument("--trace", type=int, default=0)
    r.add_argument("--out", required=True)
    c = sub.add_parser("compare")
    c.add_argument("first")
    c.add_argument("second")
    lay = sub.add_parser("layers")
    lay.add_argument("files", nargs="+")
    args = ap.parse_args()
    {"run": run_set, "compare": compare, "layers": layers}[args.cmd](args)


if __name__ == "__main__":
    main()
