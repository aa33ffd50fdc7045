"""Measurement plumbing shared by the workloads: spans, Spark status-store
harvesting, streaming progress, process-tree memory, percentiles and the
machine record.

Nothing here changes what the engine does. Spans only record wall-clock
intervals; Spark's own SQL metrics, stage metrics and streaming progress
are read back from the in-process status stores once, when the run ends,
and attributed to the innermost span whose interval contains each
execution's submission time (one job is in flight at a time, so the
attribution is unambiguous).
"""

from __future__ import annotations

import json
import os
import platform
import re
import threading
import time
from contextlib import contextmanager

# ---------------------------------------------------------------------------
# Spark metric strings
# ---------------------------------------------------------------------------

_UNITS = {
    "ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
    "B": 1.0, "KiB": 1024.0, "MiB": 1024.0 ** 2, "GiB": 1024.0 ** 3,
    "TiB": 1024.0 ** 4, "PiB": 1024.0 ** 5,
}
_QTY = r"(-?[\d,]+(?:\.\d+)?)\s*([A-Za-z]+)?"


def _qty(num: str, unit: str | None) -> float:
    v = float(num.replace(",", ""))
    if unit is None:
        return v
    if unit not in _UNITS:
        raise ValueError(f"unknown metric unit {unit!r}")
    return v * _UNITS[unit]


def parse_metric(text: str) -> dict[str, float]:
    """Parse one value of Spark's SQL metric strings into base units
    (seconds, bytes or a plain count).

    A metric updated by one task reads ``"2.9 s"``, ``"16.5 MiB"`` or
    ``"10,000"``. One updated by several tasks reads
    ``"total (min, med, max (stageId: taskId))\\n3.1 s (12 ms, 40 ms, 2.7 s
    (stage 4.0: task 17))"``. Returns ``{"total": ...}`` and, for the
    second form, ``min``, ``med`` and ``max`` too.
    """
    text = text.strip()
    if text.startswith("total ("):
        body = text.split("\n", 1)[1].strip() if "\n" in text else ""
        m = re.match(
            rf"{_QTY}\s*\(\s*{_QTY}\s*,\s*{_QTY}\s*,\s*{_QTY}\s*\(", body
        )
        if m is None:
            raise ValueError(f"unparsable metric value {text!r}")
        g = m.groups()
        return {
            "total": _qty(g[0], g[1]), "min": _qty(g[2], g[3]),
            "med": _qty(g[4], g[5]), "max": _qty(g[6], g[7]),
        }
    m = re.fullmatch(_QTY, text)
    if m is None:
        raise ValueError(f"unparsable metric value {text!r}")
    return {"total": _qty(*m.groups())}


# ---------------------------------------------------------------------------
# percentiles
# ---------------------------------------------------------------------------

_TAIL_PERMILLE = (999, 990, 900)


def tail_percentile(n: int) -> float | None:
    """The highest of p99.9, p99 and p90 that has at least ten of ``n``
    samples beyond it, or ``None`` when even p90 has fewer (n < 100)."""
    for pm in _TAIL_PERMILLE:
        if n * (1000 - pm) >= 10_000:
            return pm / 10
    return None


def quantile(values, q: float) -> float:
    """Linear-interpolated quantile, ``q`` in [0, 1]."""
    xs = sorted(values)
    if not xs:
        raise ValueError("quantile of an empty sample")
    pos = q * (len(xs) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


# ---------------------------------------------------------------------------
# spans
# ---------------------------------------------------------------------------


class Tracer:
    """In-memory spans around each call into a layer of the engine.

    With ``enabled=False`` every ``span`` is a no-op, so the untraced
    passes run the same code with nothing recorded.
    """

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, layer: str, name: str):
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        rec = {
            "id": sid, "layer": layer, "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "t0_ms": time.time() * 1000.0, "t1_ms": None,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield
        finally:
            self._stack.pop()
            rec["t1_ms"] = time.time() * 1000.0

    def innermost(self, t_ms: float) -> dict | None:
        """The deepest span whose interval contains ``t_ms``."""
        best = None
        for s in self.spans:
            if s["t1_ms"] is not None and s["t0_ms"] <= t_ms <= s["t1_ms"]:
                if best is None or s["t0_ms"] >= best["t0_ms"]:
                    best = s
        return best

    def wall_s(self, layer: str) -> float:
        """Summed wall of the top-most spans of ``layer`` (nested spans of
        the same layer are not counted twice)."""
        total = 0.0
        for s in self.spans:
            if s["layer"] != layer or s["t1_ms"] is None:
                continue
            p = s["parent"]
            nested = False
            while p is not None:
                if self.spans[p]["layer"] == layer:
                    nested = True
                    break
                p = self.spans[p]["parent"]
            if not nested:
                total += (s["t1_ms"] - s["t0_ms"]) / 1000.0
        return total


# ---------------------------------------------------------------------------
# status-store harvesting
# ---------------------------------------------------------------------------

# SQL metric name -> short key; every other metric is ignored
SQL_METRICS = {
    "time to run Python workers": "python_run_s",
    "time to start Python workers": "python_start_s",
    "time to initialize Python workers": "python_init_s",
    "data sent to Python workers": "bytes_to_python",
    "data returned from Python workers": "bytes_from_python",
    "sort time": "sort_s",
    "time in aggregation build": "agg_s",
    "shuffle bytes written": "shuffle_bytes",
    "scan time": "scan_s",
}


def _as_java(spark, scala_obj):
    return spark._jvm.scala.jdk.javaapi.CollectionConverters.asJava(scala_obj)


def wait_listener_idle(spark, timeout_s: float = 30.0) -> None:
    """Block until the listener bus has delivered every queued event, so
    the status stores hold the final values of finished executions."""
    bus = spark.sparkContext._jsc.sc().listenerBus()
    bus.waitUntilEmpty(int(timeout_s * 1000))


def harvest_sql(spark) -> list[dict]:
    """Every SQL execution in the status store with the metrics named in
    ``SQL_METRICS`` summed per execution (``*_max``/``*_med`` keep the
    largest per-node task maximum and median for skew)."""
    store = spark._jsparkSession.sharedState().statusStore()
    out = []
    for e in _as_java(spark, store.executionsList()):
        eid = e.executionId()
        values = _as_java(spark, store.executionMetrics(eid))
        seen: set[int] = set()
        agg: dict[str, float] = {}
        for m in _as_java(spark, e.metrics()):
            key = SQL_METRICS.get(m.name())
            acc = m.accumulatorId()
            if key is None or acc in seen:
                continue
            seen.add(acc)
            text = values.get(acc)
            if text is None:
                continue
            v = parse_metric(text)
            agg[key] = agg.get(key, 0.0) + v["total"]
            if "max" in v and v["max"] > agg.get(key + "_max", 0.0):
                agg[key + "_max"] = v["max"]
                agg[key + "_med"] = v["med"]
        out.append({"id": eid, "t_ms": float(e.submissionTime()), "metrics": agg})
    return out


def harvest_stages(spark) -> list[dict]:
    """Per-stage task counts, executor run time, GC time and spill from
    the application status store."""
    gw = spark.sparkContext._gateway
    ss = spark.sparkContext._jsc.sc().statusStore()
    stages = ss.stageList(None, False, False, gw.new_array(gw.jvm.double, 0),
                          gw.jvm.java.util.ArrayList())
    out = []
    for s in _as_java(spark, stages):
        sub = s.submissionTime()
        if not sub.isDefined():
            continue  # skipped stage: never ran
        out.append({
            "t_ms": float(sub.get().getTime()),
            "tasks": s.numTasks(),
            "run_s": s.executorRunTime() / 1000.0,
            "gc_s": s.jvmGcTime() / 1000.0,
            "spill_bytes": s.memoryBytesSpilled() + s.diskBytesSpilled(),
        })
    return out


class ProgressLog:
    """Collects ``StreamingQueryProgress`` of every query on the session
    through a listener, since the engine's drain helpers own (and await)
    their queries."""

    def __init__(self, spark):
        from pyspark.sql.streaming import StreamingQueryListener

        log = self
        self.started: list[str] = []
        self.progress: list[dict] = []
        self.terminated: set[str] = set()
        self._lock = threading.Lock()

        class _L(StreamingQueryListener):
            def onQueryStarted(self, event):
                # delivered before ``start()`` returns
                with log._lock:
                    log.started.append(str(event.id))

            def onQueryProgress(self, event):
                p = json.loads(event.progress.json)
                with log._lock:
                    log.progress.append(p)

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                with log._lock:
                    log.terminated.add(str(event.id))

        self._listener = _L()
        spark.streams.addListener(self._listener)

    def batches(self, query_id: str, timeout_s: float = 60.0) -> list[dict]:
        """Progress of ``query_id``'s micro-batches, waiting for the
        query's termination event (posted after its last progress)."""
        deadline = time.monotonic() + timeout_s
        while True:
            with self._lock:
                done = query_id in self.terminated
                ps = [p for p in self.progress if p["id"] == query_id]
            if done or time.monotonic() > deadline:
                return sorted(ps, key=lambda p: p["batchId"])
            time.sleep(0.05)

    def query_ids(self) -> list[str]:
        """Ids of the queries started so far, in start order."""
        with self._lock:
            return list(self.started)


# ---------------------------------------------------------------------------
# process-tree memory
# ---------------------------------------------------------------------------

def _tree_pids(root_pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except (FileNotFoundError, ProcessLookupError, PermissionError):
            continue
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        children.setdefault(ppid, []).append(int(d))
    out, todo = [], [root_pid]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def _tree_pss_bytes(root_pid: int) -> int:
    """Summed proportional set size of a process tree: a page shared by
    forked Python workers counts once overall, not once per worker."""
    total = 0
    for pid in _tree_pids(root_pid):
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1]) * 1024
                        break
        except (FileNotFoundError, ProcessLookupError, PermissionError):
            continue
    return total


class RssSampler:
    """Peak resident memory of this process and all its descendants
    (driver Python, the JVM, Python workers) as summed PSS, sampled from
    ``/proc``."""

    def __init__(self, interval_s: float = 0.25):
        self.interval_s = interval_s
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self):
        pid = os.getpid()
        while not self._stop.is_set():
            self.peak_bytes = max(self.peak_bytes, _tree_pss_bytes(pid))
            self._stop.wait(self.interval_s)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()


# ---------------------------------------------------------------------------
# machine record
# ---------------------------------------------------------------------------


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def mem_total_bytes() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) * 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def driver_memory(mem_bytes: int) -> str:
    """Driver JVM heap sized from the box: a sixteenth of RAM, within
    [1 GiB, 4 GiB] (the benchmark's inputs are a few MB)."""
    mb = mem_bytes // (16 * 1024 * 1024)
    return f"{min(max(mb, 1024), 4096)}m"


def scale_pair(cores: int) -> tuple[int, int]:
    """The N -> 4N scaling pair derived from the core count."""
    n = max(1, cores // 4)
    return n, 4 * n


def machine_record() -> dict:
    import numpy
    import pyarrow
    import pyspark

    return {
        "nproc": nproc(),
        "mem_total_gb": round(mem_total_bytes() / 1024 ** 3, 2),
        "loadavg": list(os.getloadavg()),
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "numpy": numpy.__version__,
        "pyarrow": pyarrow.__version__,
    }


# ---------------------------------------------------------------------------
# result line
# ---------------------------------------------------------------------------


def result_line(correct: bool, attempted: int, failed: int,
                metrics: dict[str, tuple[float, str]]) -> str:
    """The compact last line of standard output."""
    return json.dumps(
        {
            "correct": correct, "attempted": attempted, "failed": failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        },
        separators=(",", ":"),
    )
