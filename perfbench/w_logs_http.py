"""``logs_http`` workload: the HTTP product path, closed loop.

Set-up (timed as ``setup_s``): start the server in its own process
(``server_proc.py``), create the time-partitioned stream ``hist``,
ingest its seeded history (100 one-minute files) in two large
``/api/v1/ingest`` batches, flush it with one ``run_sync``, then warm
up with one aggregate, one fetch and one ``/api/v1/counts`` read and
one shipper batch.

Measured phase, two reader threads and one shipper, repeating their
sequences ``max(1, round(seconds / 15))`` times:

- each reader runs a seeded order of the five read kinds over windows
  of ``hist``, which nothing writes to during the run: an aggregate
  over a wide window (80 files, past Spark's 32-path parallel-listing
  threshold), a top-k over a narrow one (8 files), a 1,000-row fetch,
  a bare ``COUNT(*)`` (the manifest fast path) and ``/api/v1/counts``;
- the shipper sends small nested batches to the stream ``ship`` (new
  fields every fourth batch), queries the fresh window (staging plus
  recent parquet) every ``FRESH_EVERY`` batches and asks for
  ``run_sync`` every ``SYNC_EVERY`` batches.

The phase ends when both sequences have ended; then one
``run_compaction`` and the final checks run. The generator knows every
answer: each read, each fresh-window count and each stream's total.
History times are laid out from four hours before the run's start hour
(the stream's time-partition limit rejects old events), so the seed
fixes every value but the absolute clock.
"""

from __future__ import annotations

import base64
import json
import os
import random
import signal
import subprocess
import sys
import threading
import time
import urllib.request
from datetime import datetime, timedelta, timezone

import numpy as np

from harness import WORK, java_child, peak_rss_mb, proc_io, tree_cpu_s, wait_gone
from server_proc import AUTH
from stats import median, rchar_delta, tail, wchar_delta

HIST_MINUTES = 100
HIST_BATCHES = 2
READERS = 2
SHIP_BATCHES = 6
SHIP_SIZE = 25
FRESH_EVERY = 3
SYNC_EVERY = 4
WIDE, NARROW, FETCH_WINDOW, COUNT_WINDOW, COUNTS_WINDOW = 80, 8, 40, 60, 50
LEVELS = ("debug", "info", "info", "info", "warn", "error")
PATHS = [f"/api/v1/{p}" for p in "users orders cart search login items pay ship rate help".split()]
HOSTS = [f"host-{i}" for i in range(8)]


def _iso(dt: datetime) -> str:
    return dt.strftime("%Y-%m-%dT%H:%M:%S.") + f"{dt.microsecond // 1000:03d}Z"


def history(seed: int, base: datetime) -> list[dict]:
    """Events over ``HIST_MINUTES`` minutes from ``base``, sorted by time,
    millisecond timestamps (the engine's event-time precision)."""
    rng = np.random.default_rng(seed)
    events = []
    for m in range(HIST_MINUTES):
        n = int(rng.integers(30, 41))
        for ms in np.sort(rng.integers(0, 60_000, n)):
            events.append(
                {
                    "id": len(events),
                    "ts": _iso(base + timedelta(minutes=m, milliseconds=int(ms))),
                    "host": HOSTS[int(rng.integers(0, len(HOSTS)))],
                    "level": LEVELS[int(rng.integers(0, len(LEVELS)))],
                    "status": int(rng.choice([200, 200, 200, 201, 301, 404, 500])),
                    "path": PATHS[int(rng.integers(0, len(PATHS)))],
                    "latency_ms": int(rng.integers(1, 2000)),
                    "req": {"method": "GET" if rng.random() < 0.7 else "POST",
                            "bytes": int(rng.integers(100, 10_000))},
                }
            )
    return events


class Client:
    def __init__(self, url: str) -> None:
        self.url = url
        token = base64.b64encode(f"{AUTH[0]}:{AUTH[1]}".encode()).decode()
        self.headers = {"Authorization": f"Basic {token}", "Content-Type": "application/json"}

    def call(self, method: str, path: str, body=None, headers: dict | None = None):
        data = None if body is None else json.dumps(body).encode()
        req = urllib.request.Request(
            self.url + path, data=data, method=method, headers={**self.headers, **(headers or {})}
        )
        with urllib.request.urlopen(req, timeout=120) as resp:
            raw = resp.read()
        return json.loads(raw) if raw else None

    def ingest(self, stream: str, events: list[dict]) -> int:
        self.call("POST", "/api/v1/ingest", events, {"x-p-stream": stream})
        return len(json.dumps(events))


class Server:
    """The server process and its stdin command channel."""

    def __init__(self, run) -> None:
        spans = WORK / "traces" / f"logs_http-s{run.seed}-server.json"
        self.proc = subprocess.Popen(
            [sys.executable, os.path.join(os.path.dirname(__file__), "server_proc.py"),
             run.dir("storage"), "1" if run.trace else "0", str(spans)],
            stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True,
        )
        self.lock = threading.Lock()

    def ready(self) -> str:
        line = self.proc.stdout.readline()
        if not line.startswith("READY "):
            raise RuntimeError(f"server did not start: {line!r}")
        return line.split()[1]

    def command(self, cmd: str) -> dict:
        with self.lock:
            self.proc.stdin.write(cmd + "\n")
            self.proc.stdin.flush()
            line = self.proc.stdout.readline()
        if not line:
            raise RuntimeError(f"server exited during {cmd!r}")
        return json.loads(line)

    def close(self) -> dict:
        try:
            reply = self.command("exit")
        finally:
            try:
                self.proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                self.proc.kill()
                self.proc.wait()
        return reply

    def kill(self) -> None:
        """Error path: kill the server and its JVM, and wait for both."""
        if self.proc.poll() is not None:
            return
        jvm = java_child(self.proc.pid)
        self.proc.kill()
        self.proc.wait()
        if jvm is not None:
            try:
                os.kill(jvm, signal.SIGKILL)
            except ProcessLookupError:
                return
            wait_gone(jvm)


class Reads:
    """The five read kinds over ``hist``, each with its true answer."""

    def __init__(self, events: list[dict], base: datetime) -> None:
        self.events = events
        self.base = base

    def _window(self, a: int, length: int) -> tuple[str, str, list[dict]]:
        lo = self.base + timedelta(minutes=a)
        hi = lo + timedelta(minutes=length)
        los, his = _iso(lo), _iso(hi)
        return los, his, [e for e in self.events if los <= e["ts"] < his]

    def make(self, kind: str, rng: random.Random):
        """``(request, expected)`` for one read of ``kind``."""
        if kind == "agg_wide":
            lo, hi, evs = self._window(rng.randrange(HIST_MINUTES - WIDE + 1), WIDE)
            sql = "SELECT level, COUNT(*) AS c, SUM(latency_ms) AS s FROM hist GROUP BY level ORDER BY level"
            want = {}
            for e in evs:
                c, s = want.get(e["level"], (0, 0))
                want[e["level"]] = (c + 1, s + e["latency_ms"])
            expected = [{"level": k, "c": c, "s": s} for k, (c, s) in sorted(want.items())]
            return ("query", {"query": sql, "startTime": lo, "endTime": hi}), expected
        if kind == "topk_narrow":
            lo, hi, evs = self._window(rng.randrange(HIST_MINUTES - NARROW + 1), NARROW)
            sql = "SELECT path, COUNT(*) AS c FROM hist GROUP BY path ORDER BY c DESC, path LIMIT 5"
            counts: dict[str, int] = {}
            for e in evs:
                counts[e["path"]] = counts.get(e["path"], 0) + 1
            top = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))[:5]
            return ("query", {"query": sql, "startTime": lo, "endTime": hi}), [
                {"path": p, "c": c} for p, c in top
            ]
        if kind == "fetch":
            lo, hi, evs = self._window(rng.randrange(HIST_MINUTES - FETCH_WINDOW + 1), FETCH_WINDOW)
            sql = "SELECT id, host, status FROM hist ORDER BY id LIMIT 1000"
            rows = sorted(evs, key=lambda e: e["id"])[:1000]
            return ("query", {"query": sql, "startTime": lo, "endTime": hi}), [
                {"id": e["id"], "host": e["host"], "status": e["status"]} for e in rows
            ]
        if kind == "count":
            lo, hi, evs = self._window(rng.randrange(HIST_MINUTES - COUNT_WINDOW + 1), COUNT_WINDOW)
            return ("query", {"query": "SELECT COUNT(*) AS c FROM hist", "startTime": lo,
                              "endTime": hi}), [{"c": len(evs)}]
        lo, hi, evs = self._window(rng.randrange(HIST_MINUTES - COUNTS_WINDOW + 1), COUNTS_WINDOW)
        # the server's binning: floor(offset_us / width_us), last bin capped
        bins = 10
        t_lo = datetime.strptime(lo, "%Y-%m-%dT%H:%M:%S.%fZ")
        width_us = COUNTS_WINDOW * 60 / bins * 1e6
        got = [0] * bins
        for e in evs:
            t = datetime.strptime(e["ts"], "%Y-%m-%dT%H:%M:%S.%fZ")
            off = (t - t_lo) // timedelta(microseconds=1)
            got[min(int(off // width_us), bins - 1)] += 1
        return ("counts", {"stream": "hist", "startTime": lo, "endTime": hi, "numBins": bins}), got

    @staticmethod
    def matches(kind: str, answer, expected) -> bool:
        if kind == "counts":
            return [r["count"] for r in answer["records"]] == expected
        if kind == "count":
            return len(answer) == 1 and list(answer[0].values()) == [expected[0]["c"]]
        return answer == expected


KINDS = ("agg_wide", "topk_narrow", "fetch", "count", "counts")
WARM_KINDS = ("agg_wide", "fetch", "counts")


def _read(client: Client, request, kind: str, expected) -> tuple[float, bool]:
    route, body = request
    t0 = time.perf_counter()
    answer = client.call("POST", "/api/v1/query" if route == "query" else "/api/v1/counts", body)
    dt = 1e3 * (time.perf_counter() - t0)
    return dt, Reads.matches(kind, answer, expected)


def ship_batch(rng: np.random.Generator, seq0: int, j: int) -> list[dict]:
    """A small nested batch; every fourth adds a field never seen before."""
    out = []
    for i in range(SHIP_SIZE):
        e = {
            "seq": seq0 + i,
            "host": HOSTS[int(rng.integers(0, len(HOSTS)))],
            "msg": f"event {seq0 + i}",
            "ctx": {"user": f"u{int(rng.integers(0, 50))}", "attrs": {"k": int(rng.integers(0, 9))}},
        }
        if j % 4 == 3:
            e[f"extra_{j}"] = int(rng.integers(0, 100))
        out.append(e)
    return out


def run(run, tracer, trace: bool) -> dict:
    server = Server(run)
    try:
        return _run(run, server, trace)
    finally:
        server.kill()


def _run(run, server: Server, trace: bool) -> dict:
    now = datetime.now(timezone.utc).replace(tzinfo=None)
    base = now.replace(minute=0, second=0, microsecond=0) - timedelta(hours=4)
    events = history(run.seed, base)
    reads = Reads(events, base)
    client = Client(server.ready())
    phases = {"server_ready": time.perf_counter() - run.t0}
    errors: list[str] = []
    json_bytes = 0

    client.call("PUT", "/api/v1/logstream/hist", None, {"x-p-time-partition": "ts"})
    per = -(-len(events) // HIST_BATCHES)
    for i in range(HIST_BATCHES):
        json_bytes += client.ingest("hist", events[i * per:(i + 1) * per])
    phases["ingested"] = time.perf_counter() - run.t0
    server.command("sync")
    phases["synced"] = time.perf_counter() - run.t0

    rng = random.Random(run.seed)
    ship_rng = np.random.default_rng(run.seed + 7)
    shipped: list[dict] = []
    t_ship0 = datetime.now(timezone.utc)

    def fresh_query() -> tuple[float, bool]:
        lo = _iso((t_ship0 - timedelta(minutes=5)).replace(tzinfo=None))
        hi = _iso((datetime.now(timezone.utc) + timedelta(minutes=5)).replace(tzinfo=None))
        sql = "SELECT COUNT(*) AS c, COUNT(DISTINCT host) AS h FROM ship"
        want = [{"c": len(shipped), "h": len({e["host"] for e in shipped})}]
        t0 = time.perf_counter()
        answer = client.call("POST", "/api/v1/query", {"query": sql, "startTime": lo, "endTime": hi})
        return 1e3 * (time.perf_counter() - t0), answer == want

    # warm-up: one read per plan shape (the top-k and the bare COUNT(*)
    # share the aggregate's scan and analysis path), one shipper batch
    for kind in WARM_KINDS:
        request, expected = reads.make(kind, rng)
        _, ok = _read(client, request, kind, expected)
        if not ok:
            errors.append(f"warm-up {kind} read returned a wrong answer")
    batch = ship_batch(ship_rng, 0, 0)
    json_bytes += client.ingest("ship", batch)
    shipped += batch
    setup_s = phases["warmed"] = time.perf_counter() - run.t0

    # -- measured phase ---------------------------------------------------
    cycles = max(1, round(run.seconds / 15))
    plans = []
    for r in range(READERS):
        order_rng = random.Random(run.seed * 31 + r)
        order = [k for _ in range(cycles) for k in order_rng.sample(KINDS, len(KINDS))]
        plans.append([(k, *reads.make(k, rng)) for k in order])
    read_ms: list[float] = []
    read_end: list[float] = []
    lock = threading.Lock()

    def reader(plan) -> None:
        for kind, request, expected in plan:
            try:
                dt, ok = _read(client, request, kind, expected)
            except Exception as e:  # noqa: BLE001 — counted as a failed read
                dt, ok = float("nan"), False
                kind = f"{kind} ({e})"
            with lock:
                read_ms.append(dt)
                if not ok:
                    errors.append(f"{kind} read returned a wrong answer")
        with lock:
            read_end.append(time.perf_counter())

    ingest_ms: list[float] = []
    fresh_ms: list[float] = []
    flush_s: list[float] = []
    server.command("mark")
    jvm = java_child(server.proc.pid)
    cpu0 = tree_cpu_s(server.proc.pid)
    io0 = proc_io(jvm)
    t_start = time.perf_counter()
    threads = [threading.Thread(target=reader, args=(p,)) for p in plans]
    for t in threads:
        t.start()
    for j in range(1, cycles * SHIP_BATCHES + 1):
        batch = ship_batch(ship_rng, len(shipped), j)
        t0 = time.perf_counter()
        json_bytes += client.ingest("ship", batch)
        ingest_ms.append(1e3 * (time.perf_counter() - t0))
        shipped += batch
        if j % FRESH_EVERY == 0:
            dt, ok = fresh_query()
            fresh_ms.append(dt)
            if not ok:
                errors.append(f"fresh-window count wrong after batch {j}")
        if j % SYNC_EVERY == 0:
            flush_s.append(server.command("sync")["seconds"])
    for t in threads:
        t.join()
    read_phase_s = max(read_end) - t_start
    cpu_s = tree_cpu_s(server.proc.pid) - cpu0
    io1 = proc_io(jvm)
    read_bytes, write_bytes = rchar_delta(io0, io1), wchar_delta(io0, io1)
    server.command("mark")
    peak = peak_rss_mb([server.proc.pid, jvm])
    parquet_bytes = sum(
        os.path.getsize(os.path.join(dp, f))
        for dp, _, files in os.walk(run.dir("storage"))
        for f in files
        if f.endswith(".parquet")
    )

    compact_s = server.command("compact")["seconds"]
    for stream, want in (("hist", len(events)), ("ship", len(shipped))):
        got = client.call(
            "POST", "/api/v1/query",
            {"query": f"SELECT COUNT(*) AS c FROM {stream}", "startTime": _iso(base - timedelta(days=1)),
             "endTime": _iso(now + timedelta(days=1))},
        )
        if got != [{"c": want}]:
            errors.append(f"{stream} total {got} != {want} events acknowledged")
    reply = server.close()

    ingest_tail = tail(ingest_ms)
    extra = {
        "ingest_p50_ms": (median(ingest_ms), "ms"),
        "fresh_p50_ms": (median(fresh_ms), "ms"),
        "flush_s": (median(flush_s), "s"),
        "stored_bytes_ratio": (parquet_bytes / json_bytes, "ratio"),
        "compact_s": (compact_s, "s"),
    }
    if ingest_tail is not None:
        extra["ingest_tail_ms"] = (ingest_tail[0], f"ms p{ingest_tail[1]:.0f}")
    layers = dict(reply.get("layers", {}))
    if trace:
        layers["trace.spans"] = reply["span_count"]
    return {
        "samples_ms": read_ms,
        "attempted": len(read_ms) + len(ingest_ms) + len(fresh_ms),
        "errors": errors,
        "setup_s": setup_s,
        "elapsed_s": read_phase_s,
        "cpu_s": cpu_s,
        "read_bytes": read_bytes,
        "write_bytes": write_bytes,
        "peak_mem_mb": peak,
        "extra": extra,
        "layers": layers,
        "phases": phases,
        "spans": reply.get("spans", {}),
        "scale": f"hist_events={len(events)} hist_files={HIST_MINUTES} ship={len(ingest_ms)}x{SHIP_SIZE}",
    }
