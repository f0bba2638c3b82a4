"""Spark-free helpers of the benchmark: percentiles, operation accounting,
freshness mapping through a checkpoint's file-source log and the sink
ledger, order-independent result digests, spans and a process-tree RSS
sampler. Everything here is plain Python so ``perfbench/tests`` can pin
it without a JVM."""

from __future__ import annotations

import datetime
import decimal
import hashlib
import json
import math
import os
import threading
import time
import urllib.parse
from contextlib import contextmanager

# a high percentile is reported only when at least this many samples lie
# beyond it; otherwise the metric counts as failed
MIN_BEYOND = 10


def median(xs):
    """Median of a non-empty sample, or None for an empty one."""
    if not xs:
        return None
    s = sorted(xs)
    n = len(s)
    return s[n // 2] if n % 2 else (s[n // 2 - 1] + s[n // 2]) / 2


def percentile(xs, q: float, min_beyond: int = MIN_BEYOND):
    """Nearest-rank q-quantile (0 < q < 1), or None when fewer than
    ``min_beyond`` samples lie beyond it (a p95 needs n >= 200)."""
    n = len(xs)
    if n == 0:
        return None
    k = max(1, math.ceil(q * n))  # 1-based rank
    if n - k < min_beyond:
        return None
    return sorted(xs)[k - 1]


class Ops:
    """Operations attempted and failed by one workload. A workload that
    raises mid-run marks every operation it had not finished as failed, so
    the result line stays parseable."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []

    def record(self, n: int = 1, failed: int = 0, error: str | None = None):
        self.attempted += n
        self.failed += failed
        if error:
            self.errors.append(error)

    def fail(self, error: str, n: int = 1):
        self.record(n, failed=n, error=error)

    @property
    def correct(self) -> bool:
        return self.attempted > 0 and self.failed == 0


# -- freshness: file -> batch -> ledger commit ------------------------------


def read_source_log(checkpoint_dir: str, source: int = 0) -> dict[str, int]:
    """Map each input file's basename to the micro-batch that read it, from
    the file source's metadata log (``sources/<n>/<batch>`` plus the
    ``<batch>.compact`` files Spark folds older entries into)."""
    d = os.path.join(checkpoint_dir, "sources", str(source))
    out: dict[str, int] = {}
    if not os.path.isdir(d):
        return out
    for name in os.listdir(d):
        if name.startswith(".") or not name.split(".")[0].isdigit():
            continue
        with open(os.path.join(d, name)) as fh:
            for line in fh:
                line = line.strip()
                if not line.startswith("{"):
                    continue  # the "v1" version header
                e = json.loads(line)
                path = urllib.parse.unquote(urllib.parse.urlparse(e["path"]).path)
                out[os.path.basename(path)] = int(e["batchId"])
    return out


def ledger_commit_times(table_dir: str) -> dict[int, float]:
    """Wall-clock commit time of each batch: when the sink's
    ``_ledger/<batch>.json`` landed (it is written by atomic replace)."""
    d = os.path.join(table_dir, "_ledger")
    out: dict[int, float] = {}
    if not os.path.isdir(d):
        return out
    for name in os.listdir(d):
        stem = name[: -len(".json")]
        if name.endswith(".json") and stem.isdigit():
            out[int(stem)] = os.stat(os.path.join(d, name)).st_mtime
    return out


def ledger_rows(table_dir: str) -> int:
    """Rows the sink committed, summed over its ``_ledger/<batch>.json``."""
    d = os.path.join(table_dir, "_ledger")
    total = 0
    for b in ledger_commit_times(table_dir):
        with open(os.path.join(d, f"{b}.json")) as fh:
            total += int(json.load(fh)["rows"])
    return total


def file_latencies(
    due: dict[str, float],
    file_batch: dict[str, int],
    commit_time: dict[int, float],
    deadline: float | None = None,
) -> dict[str, float | None]:
    """Latency in ms of each input file from its due time to the ledger
    commit of the batch carrying it; None for a file not committed (by the
    deadline, when given)."""
    out: dict[str, float | None] = {}
    for name, t_due in due.items():
        b = file_batch.get(name)
        t = commit_time.get(b) if b is not None else None
        if t is None or (deadline is not None and t > deadline):
            out[name] = None
        else:
            out[name] = (t - t_due) * 1000.0
    return out


def backlog_max(publish: dict[str, float], done: dict[str, float | None]) -> int:
    """Largest number of published-but-uncommitted files seen at any
    publish instant (``done`` maps a file to its commit wall time)."""
    worst = 0
    for t in publish.values():
        n = sum(
            1
            for f, tp in publish.items()
            if tp <= t and (done.get(f) is None or done[f] > t)
        )
        worst = max(worst, n)
    return worst


# -- result digests -----------------------------------------------------------


def _num_str(v) -> str:
    if v != v:  # NaN reads as null
        return NULL
    f = float(v)
    if f.is_integer() and abs(f) < 2**53:
        return str(int(f))  # 3.0 from one engine and 3 from the other agree
    return f"{f:.10g}"


def _value_str(v) -> str:
    """Canonical text of one value of an object column: strings as they
    are, Spark decimals and numbers as numbers, timestamps as epoch µs."""
    if v is None:
        return NULL
    if isinstance(v, str):
        return v
    if isinstance(v, (int, float, decimal.Decimal)):
        return _num_str(v)
    if isinstance(v, datetime.datetime):
        return str((v.replace(tzinfo=None) - EPOCH) // datetime.timedelta(microseconds=1))
    return str(v)


NULL = "\x00null"
EPOCH = datetime.datetime(1970, 1, 1)


def _column_strings(col):
    """A pandas column as canonical strings, whatever dtype the engine gave
    it: integral numbers without a fraction, other floats to 10
    significant digits, timestamps as epoch microseconds, nulls as NULL."""
    import pandas as pd

    if pd.api.types.is_bool_dtype(col):
        return col.map(lambda v: NULL if v is None else ("true" if v else "false"))
    if pd.api.types.is_integer_dtype(col) or pd.api.types.is_float_dtype(col):
        return col.map(_num_str, na_action=None).where(col.notna(), NULL)
    if pd.api.types.is_datetime64_any_dtype(col):
        if getattr(col.dt, "tz", None) is not None:
            col = col.dt.tz_localize(None)
        us = col.astype("datetime64[us]").astype("int64").astype(str)
        return us.where(col.notna(), NULL)
    return col.map(_value_str)


def frame_digest(pdf) -> str:
    """Order-independent digest of a result frame: its column names
    (sorted), its row count and the multiset of its rows, each value in
    canonical text (see :func:`_column_strings`)."""
    import numpy as np
    import pandas as pd

    cols = sorted(pdf.columns)
    canon = pd.DataFrame({c: _column_strings(pdf[c]).astype(str) for c in cols}, columns=cols)
    rows = np.sort(pd.util.hash_pandas_object(canon, index=False).to_numpy())
    h = hashlib.sha256(json.dumps(cols).encode())
    h.update(str(len(canon)).encode())
    h.update(rows.tobytes())
    return h.hexdigest()


# -- spans ----------------------------------------------------------------


class Tracer:
    """In-memory spans (name, start, end, parent) recorded around calls
    into the program's layers; written out once, when the run ends. A
    disabled tracer records nothing and costs one branch per span."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        # open spans across threads: a span opened by the sink's callback
        # thread nests under the main thread's open span (e.g. query.await)
        self._open: list[int] = []
        self._lock = threading.Lock()

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        with self._lock:
            sid = len(self.spans)
            rec = {"id": sid, "name": name, "parent": self._open[-1] if self._open else None,
                   "start": time.monotonic(), "end": None}
            rec.update(attrs)
            self.spans.append(rec)
            self._open.append(sid)
        try:
            yield rec
        finally:
            with self._lock:
                self._open.remove(sid)
                rec["end"] = time.monotonic()

    def write(self, path: str):
        if not self.enabled:
            return
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump(self.spans, fh)


def self_times_ms(spans: list[dict]) -> dict[str, float]:
    """Total self time per span name: each span's duration minus the part
    of its interval that its children cover (children's union)."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None and s["end"] is not None:
            kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out: dict[str, float] = {}
    for s in spans:
        if s["end"] is None:
            continue
        covered = 0.0
        cur_s = cur_e = None
        for a, b in sorted(kids.get(s["id"], [])):
            a, b = max(a, s["start"]), min(b, s["end"])
            if b <= a:
                continue
            if cur_e is None or a > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = a, b
            else:
                cur_e = max(cur_e, b)
        if cur_e is not None:
            covered += cur_e - cur_s
        out[s["name"]] = out.get(s["name"], 0.0) + (s["end"] - s["start"] - covered) * 1000.0
    return out


# -- memory ---------------------------------------------------------------


def tree_rss_bytes(root_pid: int) -> int:
    """Resident set size of a process and all its descendants (Linux)."""
    children: dict[int, list[int]] = {}
    rss: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                stat = fh.read()
            with open(f"/proc/{d}/statm") as fh:
                pages = int(fh.read().split()[1])
        except (OSError, IndexError, ValueError):
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(d))
        rss[int(d)] = pages * os.sysconf("SC_PAGE_SIZE")
    total, todo = 0, [root_pid]
    while todo:
        p = todo.pop()
        total += rss.get(p, 0)
        todo.extend(children.get(p, []))
    return total


class RssSampler:
    """Samples the RSS of a process tree on a background thread while
    ``active``; ``peak`` holds the largest sample in bytes."""

    def __init__(self, root_pid: int, period_s: float = 0.2):
        self.root_pid = root_pid
        self.period_s = period_s
        self.peak = 0
        self.active = False
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="rss-sampler", daemon=True)

    def _loop(self):
        while not self._stop.wait(self.period_s):
            if self.active:
                self.peak = max(self.peak, tree_rss_bytes(self.root_pid))

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)

    @contextmanager
    def window(self):
        """Sample only inside this block (plus one sample at each edge)."""
        self.peak = max(self.peak, tree_rss_bytes(self.root_pid))
        self.active = True
        try:
            yield
        finally:
            self.active = False
            self.peak = max(self.peak, tree_rss_bytes(self.root_pid))


# -- host speed -----------------------------------------------------------------

PROBE_LOOPS = 100_000  # one probe sample: this many iterations of a pure-Python loop
PROBE_PERIOD_S = 0.2  # one sample every period: about a twentieth of one core
# the reference host speed end-to-end metrics are scaled to, in probe loops
# per ms: about what the probe reads on an idle 4-vCPU x86 VM
PROBE_REF_RATE = 8000.0


def probe_main() -> None:
    """Body of the host-speed probe process: every PROBE_PERIOD_S, time a
    fixed pure-Python loop and print ``<wall start> <loops per ms>``, until
    stdin closes."""
    import select
    import sys

    while True:
        t0 = time.time()
        c0 = time.perf_counter()
        s = 0
        for i in range(PROBE_LOOPS):
            s += i * i % 7
        dt = time.perf_counter() - c0
        print(f"{t0:.4f} {PROBE_LOOPS / dt / 1000:.3f}", flush=True)
        ready, _, _ = select.select([sys.stdin], [], [], max(0.0, PROBE_PERIOD_S - dt))
        if ready and not sys.stdin.read(1):
            return


class SpeedProbe:
    """Samples this host's single-core speed from a separate process while
    open. ``rate(t0, t1)`` is the 90th percentile of the loop rates sampled
    in [t0, t1]: the speed of a core the benchmark's own threads left free,
    so it follows the host (shared with other machines' load) rather than
    the program's use of it."""

    def __init__(self, here: str):
        self.here = here
        self.samples: list[tuple[float, float]] = []
        self.proc = None

    def __enter__(self):
        import subprocess
        import sys

        self.proc = subprocess.Popen(
            [sys.executable, "-c", "import harness; harness.probe_main()"],
            cwd=self.here, stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True)
        self._reader = threading.Thread(target=self._read, name="speed-probe", daemon=True)
        self._reader.start()
        return self

    def _read(self):
        for line in self.proc.stdout:
            t, r = line.split()
            self.samples.append((float(t), float(r)))

    def __exit__(self, *exc):
        try:
            self.proc.stdin.close()
            self.proc.wait(timeout=10)
        except Exception:  # noqa: BLE001 - still running: kill and reap
            self.proc.kill()
            self.proc.wait(timeout=10)
        self._reader.join(timeout=5)

    def rate(self, t0: float, t1: float):
        """The 90th percentile (nearest rank) of the rates sampled in [t0, t1]."""
        xs = sorted(r for t, r in self.samples if t0 <= t <= t1)
        return xs[min(len(xs) - 1, int(0.9 * len(xs)))] if xs else None
