"""Helpers shared by the workloads: the HTTP client, process counters,
and the result every workload returns."""

from __future__ import annotations

import http.client
import json
import os
import threading
import time
from dataclasses import dataclass, field
from datetime import datetime

# setup_s is the median of this many set-ups per run; a search store
# build costs seconds, so it repeats fewer times than the cheap ones
SETUP_REPEATS = 5
SEARCH_SETUP_REPEATS = 3


@dataclass
class Outcome:
    """What one run measured; run.py turns it into the JSON line."""

    attempted: int = 0
    failed: int = 0
    errors: list[str] = field(default_factory=list)
    metrics: dict[str, float] = field(default_factory=dict)  # end-to-end
    layers: dict[str, float] = field(default_factory=dict)  # traced run only
    flags: list[str] = field(default_factory=list)
    # client-side figures the traced run's per-layer table needs
    layer_inputs: dict = field(default_factory=dict)
    _lock: threading.Lock = field(default_factory=threading.Lock, repr=False)

    def op(self, ok: bool, what: str = "") -> None:
        with self._lock:
            self.attempted += 1
            if not ok:
                self.failed += 1
                if len(self.errors) < 20:
                    self.errors.append(what)


def post(base: str, path: str, body: bytes, headers: dict | None = None):
    """POST and read the whole body; returns (status, body, seconds)
    measured from connect to the last byte. A transport failure is
    status 0, so callers count it as a failed operation."""
    host, port = base.removeprefix("http://").rsplit(":", 1)
    t0 = time.perf_counter()
    conn = http.client.HTTPConnection(host, int(port), timeout=300)
    try:
        conn.request(
            "POST", path, body=body,
            headers={"Content-Type": "application/json", **(headers or {})},
        )
        resp = conn.getresponse()
        status, data = resp.status, resp.read()
    except (OSError, http.client.HTTPException) as e:
        status, data = 0, repr(e).encode()
    finally:
        conn.close()
    return status, data, time.perf_counter() - t0


def post_json(base: str, path: str, obj, headers: dict | None = None):
    status, data, secs = post(base, path, json.dumps(obj).encode(), headers)
    try:
        parsed = json.loads(data) if data else None
    except ValueError:
        parsed = None
    return status, parsed, secs, len(data)


def iso(ts: datetime) -> str:
    return ts.isoformat(timespec="milliseconds") + "Z"


def read_manifest(root: str, stream: str) -> tuple[int, int]:
    """(rows, bytes) of the stream's manifest as persisted on disk:
    what a restart would see as durable."""
    from parseable_spark.catalog.manifest import Manifest

    files = Manifest.load(os.path.join(root, stream, "manifest.json")).files
    return sum(f.num_rows for f in files), sum(f.file_size for f in files)


class ProcessCounters:
    """CPU seconds, bytes written and peak RSS of this process plus the
    Spark JVM it launched, read from /proc."""

    def __init__(self, jvm_pid: int) -> None:
        self.pids = [os.getpid(), jvm_pid]
        self.start = self._sample()

    @staticmethod
    def _cpu(pid: int) -> float:
        with open(f"/proc/{pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
        return (int(fields[11]) + int(fields[12])) / os.sysconf("SC_CLK_TCK")

    @staticmethod
    def _wchar(pid: int) -> int:
        with open(f"/proc/{pid}/io") as f:
            for line in f:
                if line.startswith("wchar:"):
                    return int(line.split()[1])
        return 0

    @staticmethod
    def _hwm_kb(pid: int) -> int:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
        return 0

    def _sample(self) -> tuple[float, int]:
        return (
            sum(self._cpu(p) for p in self.pids),
            sum(self._wchar(p) for p in self.pids),
        )

    def peak_rss_mb(self) -> float:
        return sum(self._hwm_kb(p) for p in self.pids) / 1024

    def deltas(self) -> dict[str, float]:
        cpu, wchar = self._sample()
        return {
            "process.cpu_s": cpu - self.start[0],
            "process.write_bytes": wchar - self.start[1],
        }
