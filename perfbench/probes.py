"""Measurements taken from outside the engine during a traced run: spans
kept in memory, timed wrappers around ``ManifestTable`` public methods,
a ``StreamingQueryListener``, a switch for Spark's event-log listener,
and resident-set sizes from ``/proc``."""

from __future__ import annotations

import functools
import os
import threading
import time
from datetime import datetime

COMMIT_METHODS = ("publish", "append", "upsert_matching", "apply_changes", "delete_matching")
READ_METHODS = ("read", "read_pruned", "read_point", "read_asof", "read_incremental", "read_changes")


class Spans:
    """Flat list of span records: kind (pass, key, call, fetch,
    manifest.commit, manifest.read), name, start and end (epoch s), and
    the pass and key that caused it."""

    def __init__(self) -> None:
        self.records: list[dict] = []
        self.pass_index = -1
        self.key: str | None = None

    def add(self, kind: str, name: str, t0: float, t1: float) -> None:
        self.records.append({
            "kind": kind, "name": name, "t0": t0, "t1": t1,
            "pass": self.pass_index, "key": None if kind == "pass" else self.key,
        })

    def in_pass(self, index: int, prefix: str) -> list[dict]:
        return [r for r in self.records if r["pass"] == index and r["kind"].startswith(prefix)]


class ManifestProbe:
    """Times the outermost public commit and read calls on every
    ManifestTable and counts commits and CommitConflict retries."""

    def __init__(self, spans: Spans) -> None:
        self.spans = spans
        self.depth = threading.local()
        self.commits = 0
        self.conflicts = 0
        self.saved: list[tuple[type, str, object]] = []

    def install(self) -> None:
        from tinymapreduce_spark.sources import manifest_sink as ms

        cls = ms.ManifestTable
        for name in COMMIT_METHODS + READ_METHODS:
            if hasattr(cls, name):
                self._wrap(cls, name, "commit" if name in COMMIT_METHODS else "read")
        original = cls._commit
        self.saved.append((cls, "_commit", original))
        probe = self

        @functools.wraps(original)
        def _commit(table, *args, **kwargs):
            try:
                version = original(table, *args, **kwargs)
            except ms.CommitConflict:
                probe.conflicts += 1
                raise
            if version is not None:
                probe.commits += 1
            return version

        cls._commit = _commit

    def _wrap(self, cls: type, name: str, group: str) -> None:
        original = getattr(cls, name)
        self.saved.append((cls, name, original))
        probe = self

        @functools.wraps(original)
        def timed(*args, **kwargs):
            depth = getattr(probe.depth, "n", 0)
            probe.depth.n = depth + 1
            t0 = time.time()
            try:
                return original(*args, **kwargs)
            finally:
                probe.depth.n = depth
                if depth == 0:
                    probe.spans.add(f"manifest.{group}", name, t0, time.time())

        setattr(cls, name, timed)

    def uninstall(self) -> None:
        for cls, name, original in reversed(self.saved):
            setattr(cls, name, original)
        self.saved.clear()


def make_stream_listener():
    """A StreamingQueryListener that keeps every progress report as
    (batch start epoch seconds, durationMs dict, input rows)."""
    from pyspark.sql.streaming import StreamingQueryListener

    class Listener(StreamingQueryListener):
        def __init__(self) -> None:
            self.progress: list[tuple[float, dict, int]] = []

        def onQueryStarted(self, event) -> None:
            pass

        def onQueryProgress(self, event) -> None:
            p = event.progress
            ts = datetime.fromisoformat(p.timestamp.replace("Z", "+00:00")).timestamp()
            self.progress.append((ts, dict(p.durationMs), int(p.numInputRows)))

        def onQueryIdle(self, event) -> None:
            pass

        def onQueryTerminated(self, event) -> None:
            pass

    return Listener()


class EventLogSwitch:
    """Detaches and re-attaches the session's event-log listener, so one
    session can run traced and untraced passes. Detaching drains the
    listener's queue; its file stays open until the session stops."""

    def __init__(self, spark) -> None:
        sc = spark.sparkContext._jsc.sc()
        self.bus = sc.listenerBus()
        self.listener = sc.eventLogger().get()
        self.attached = True

    def set(self, on: bool) -> None:
        if on == self.attached:
            return
        if on:
            self.bus.addToEventLogQueue(self.listener)
        else:
            self.bus.removeListener(self.listener)
        self.attached = on


def _status_kb(pid: int, field: str) -> float:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(field + ":"):
                    return float(line.split()[1])
    except OSError:
        pass
    return 0.0


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def tree_cpu_s(root: int) -> float:
    """CPU seconds (user + system, including reaped children) used so far
    by ``root`` and every live process below it."""
    kids = _children()
    total, stack = 0, [root]
    while stack:
        pid = stack.pop()
        stack.extend(kids.get(pid, []))
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += sum(int(x) for x in fields[11:15])
    return total / os.sysconf("SC_CLK_TCK")


def speed_loop_s(n: int = 2_000_000) -> float:
    """CPU seconds of a fixed Python loop on the calling thread. It runs
    no engine code and counts no other thread's CPU, so it changes only
    with the speed the host gives a thread at the time."""
    t0 = time.thread_time()
    x = 0
    for i in range(n):
        x += i & 7
    return time.thread_time() - t0


def host_cpu_ticks() -> tuple[int, int]:
    """(all CPU ticks, ticks stolen by the hypervisor) since boot, summed
    over this machine's CPUs."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return sum(fields), fields[7]


def _is_python(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return b"python" in f.read().split(b"\0", 1)[0]
    except OSError:
        return False


class RssProbe:
    """Peak resident sets: the JVM's own high-water mark, and the largest
    sampled sum over the driver and every Python worker under the JVM."""

    def __init__(self) -> None:
        self.jvm_pid: int | None = None
        self.python_peak_kb = 0.0

    def sample(self) -> None:
        if not os.path.isdir("/proc"):
            return
        kids = _children()
        total = _status_kb(os.getpid(), "VmRSS")
        stack = list(kids.get(self.jvm_pid, [])) if self.jvm_pid else []
        while stack:
            pid = stack.pop()
            stack.extend(kids.get(pid, []))
            if _is_python(pid):
                total += _status_kb(pid, "VmRSS")
        self.python_peak_kb = max(self.python_peak_kb, total)

    def jvm_peak_mb(self) -> float:
        return _status_kb(self.jvm_pid, "VmHWM") / 1024.0 if self.jvm_pid else 0.0
