"""Tracing for the benchmark's traced run: spans around public calls,
Spark stage metrics over the UI's REST endpoint, CPU pinning of the Spark
process tree and a sampler of its resident memory.

Everything here observes the engine from outside.  Spans are recorded in
this process around calls into ``graby_spark``; the in-process extraction
ledger wraps module attributes of ``graby_spark`` *in this process only*
(the Spark workers run the code untouched) and restores them afterwards.
"""

from __future__ import annotations

import functools
import json
import os
import threading
import time
import urllib.request
from contextlib import contextmanager

from . import stats


class Tracer:
    """Spans ``(id, name, parent, start, end)`` kept in memory, written out
    by :meth:`dump` when the run ends."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    @contextmanager
    def wrapped(self, targets: list[tuple[str, object, str]]):
        """Record a span around every call of ``owner.attr`` for each
        ``(span name, owner, attr)`` while the block runs."""
        saved = []
        for name, owner, attr in targets:
            original = getattr(owner, attr)
            saved.append((owner, attr, original))

            def make(fn, span_name):
                @functools.wraps(fn)
                def traced(*args, **kwargs):
                    with self.span(span_name):
                        return fn(*args, **kwargs)

                return traced

            setattr(owner, attr, make(original, name))
        try:
            yield self
        finally:
            for owner, attr, original in reversed(saved):
                setattr(owner, attr, original)

    def totals(self, spans: list[dict] | None = None) -> dict[str, dict[str, float]]:
        """Per span name: ``total`` seconds of its outermost occurrences (a
        call nested in a call of the same name is not counted twice),
        ``self`` seconds and ``count``."""
        spans = self.spans if spans is None else spans
        by_id = {s["id"]: s for s in self.spans}
        own = stats.self_times(spans)
        out: dict[str, dict[str, float]] = {}
        for s in spans:
            entry = out.setdefault(s["name"], {"total": 0.0, "self": 0.0, "count": 0})
            entry["self"] += own[s["id"]]
            entry["count"] += 1
            parent = s["parent"]
            while parent is not None and by_id[parent]["name"] != s["name"]:
                parent = by_id[parent]["parent"]
            if parent is None:
                entry["total"] += s["end"] - s["start"]
        return out

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w", encoding="utf-8") as fh:
            json.dump(self.spans, fh)


# ---------------------------------------------------------------------------
# Spark stage metrics (REST)
# ---------------------------------------------------------------------------


class StageMetrics:
    """Task and shuffle counters of the jobs run under a job group, read
    from the session's UI REST endpoint (``tools/shuffle_audit``'s base-URL
    and executor-totals helpers)."""

    def __init__(self, spark) -> None:
        from tools.shuffle_audit import _executor_totals, _rest_base

        self._sc = spark.sparkContext
        self._base = _rest_base(spark)
        self._app = self._sc.applicationId
        self._executor_totals = _executor_totals

    def _get(self, path: str):
        url = f"{self._base}/api/v1/applications/{self._app}/{path}"
        with urllib.request.urlopen(url, timeout=30) as resp:
            return json.load(resp)

    def executor_totals(self) -> dict[str, int]:
        return self._executor_totals(self._base, self._app)

    @contextmanager
    def group(self, name: str):
        """Run the block's Spark jobs under job group ``name``."""
        self._sc.setJobGroup(name, name)
        try:
            yield
        finally:
            self._sc.setJobGroup(None, None)

    def stages_of(self, group: str) -> list[dict]:
        """Finished stage attempts of every job in ``group``, each with its
        task durations (ms).  Waits briefly for the listener bus to
        publish the last task ends."""
        tracker = self._sc.statusTracker()
        stage_ids = sorted(
            {
                sid
                for jid in tracker.getJobIdsForGroup(group)
                for sid in (tracker.getJobInfo(jid).stageIds if tracker.getJobInfo(jid) else [])
            }
        )
        out = []
        for sid in stage_ids:
            for _ in range(50):
                attempts = self._get(f"stages/{sid}")
                if all(a["status"] not in ("ACTIVE", "PENDING") for a in attempts):
                    break
                time.sleep(0.02)
            for att in attempts:
                if att["status"] != "COMPLETE":
                    continue
                tasks = self._get(
                    f"stages/{sid}/{att['attemptId']}/taskList?length=100000"
                )
                att["task_ms"] = [t["duration"] for t in tasks if "duration" in t]
                out.append(att)
        return out

    @staticmethod
    def summarize(stages: list[dict]) -> dict[str, float]:
        task_ms = [ms for st in stages for ms in st["task_ms"]]
        return {
            "run_ms": float(sum(st["executorRunTime"] for st in stages)),
            "gc_ms": float(sum(st["jvmGcTime"] for st in stages)),
            "tasks": float(len(task_ms)),
            "shuffle_write_bytes": float(sum(st["shuffleWriteBytes"] for st in stages)),
            "task_ms": task_ms,
        }


# ---------------------------------------------------------------------------
# the Spark process tree: CPU pinning and resident memory
# ---------------------------------------------------------------------------


def descendants(root: int) -> list[int]:
    parent_of: dict[int, int] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat", "rb") as fh:
                stat = fh.read()
        except OSError:
            continue
        # the command name may hold spaces; fields resume after its ')'
        parent_of[int(entry)] = int(stat[stat.rindex(b")") + 2 :].split()[1])
    found, frontier = [], [root]
    while frontier:
        pid = frontier.pop()
        kids = [p for p, pp in parent_of.items() if pp == pid]
        found.extend(kids)
        frontier.extend(kids)
    return found


def _pin_tree(cpus: set[int]) -> None:
    """Set the CPU affinity of every thread of this process and of its
    descendants (the driver JVM and its Python workers)."""
    for pid in [os.getpid(), *descendants(os.getpid())]:
        try:
            tids = os.listdir(f"/proc/{pid}/task")
        except OSError:  # the process ended meanwhile
            continue
        for tid in tids:
            try:
                os.sched_setaffinity(int(tid), cpus)
            except OSError:  # the thread ended meanwhile
                pass


@contextmanager
def one_core():
    """Run the block with this process tree on its lowest CPU only.  Threads
    and processes started inside inherit the pin; all are released after."""
    everything = os.sched_getaffinity(0)
    _pin_tree({min(everything)})
    try:
        yield
    finally:
        _pin_tree(everything)


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm", "rb") as fh:
            return int(fh.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    except OSError:
        return 0


class RssSampler:
    """Peak summed RSS of this process's descendants (the driver JVM and
    its Python workers), sampled every ``interval`` seconds on a thread."""

    def __init__(self, interval: float = 0.05) -> None:
        self.interval = interval
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            total = sum(_rss_bytes(pid) for pid in descendants(me))
            self.peak_bytes = max(self.peak_bytes, total)
            self._stop.wait(self.interval)

    def __enter__(self) -> "RssSampler":
        self._thread = threading.Thread(target=self._run, name="rss-sampler", daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        if self._thread.is_alive():
            raise RuntimeError("rss sampler did not stop")
