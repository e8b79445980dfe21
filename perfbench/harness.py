"""Measurement plumbing for the benchmark: spans, Spark job counters, the
peak-RSS sampler, process-tree helpers and summary statistics.

Nothing here knows about the engine. Spans are recorded from the
benchmark's side of each call into an engine layer; Spark work is
attributed to a span through its job group, read back from the status
tracker (the Spark UI is off, so the tracker is the only view of it).
"""

from __future__ import annotations

import json
import os
import statistics
import threading
import time
from contextlib import contextmanager
from pathlib import Path

# ---------------------------------------------------------------- stats

def median(xs):
    return float(statistics.median(xs))


def dir_bytes(path) -> int:
    """Bytes of the data files under ``path`` (Hadoop .crc sidecars and
    marker files excluded)."""
    total = 0
    for p in Path(path).rglob("*"):
        if p.is_file() and not p.name.endswith(".crc") and not p.name.startswith("_"):
            total += p.stat().st_size
    return total


# ------------------------------------------------------- process tree

def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat", "rb") as f:
                stat = f.read()
        except OSError:
            continue
        # field 4 (ppid) follows the parenthesised command name
        ppid = int(stat[stat.rindex(b")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    return kids


def process_tree(root: int | None = None) -> list[int]:
    """``root`` (default: this process) and all its descendants."""
    root = os.getpid() if root is None else root
    kids = _children_map()
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, ()))
    return out


def _pss_bytes(pid: int) -> int:
    """Proportional set size: resident memory with each shared page
    split between the processes mapping it, so a tree's sum counts the
    pages forked Python workers share with their parent once."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except (OSError, ValueError):
        pass
    return 0


class RssSampler:
    """Peak resident memory (summed PSS) of this process tree, JVM and
    Python workers included, sampled from /proc on a background thread."""

    def __init__(self, interval_s: float = 0.2):
        self.interval_s = interval_s
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.sample()
            self._stop.wait(self.interval_s)

    def sample(self) -> None:
        self.peak_bytes = max(
            self.peak_bytes, sum(_pss_bytes(p) for p in process_tree())
        )

    def __enter__(self):
        self._thread.start()
        return self

    def stop(self) -> None:
        if not self._stop.is_set():
            self._stop.set()
            self._thread.join()
            self.sample()

    def __exit__(self, *exc):
        self.stop()

    @property
    def peak_mb(self) -> float:
        return self.peak_bytes / 2**20


def cpu_ticks() -> list[int]:
    """Host-wide cpu time counters (/proc/stat: user nice system idle
    iowait irq softirq steal)."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of host cpu time stolen by the hypervisor between two
    cpu_ticks() readings: evidence of noise from other tenants."""
    d = [b - a for a, b in zip(before, after)]
    return d[7] / sum(d) if sum(d) else 0.0


def wait_gone(pids, timeout_s: float = 60.0) -> list[int]:
    """Wait until every pid has exited; returns the ones still alive."""
    deadline = time.monotonic() + timeout_s
    alive = list(pids)
    while alive and time.monotonic() < deadline:
        alive = [p for p in alive if Path(f"/proc/{p}").exists() and not _zombie(p)]
        if alive:
            time.sleep(0.1)
    return alive


def _zombie(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            stat = f.read()
        return stat[stat.rindex(b")") + 2:].split()[0] == b"Z"
    except OSError:
        return False


# -------------------------------------------------------------- tracing

class Tracer:
    """In-memory span recorder.

    A span has a name (``<layer>.<function>``), start and end (monotonic
    seconds), its parent span and a request id shared by every span of
    one request. While a span is open its Spark job group is set, so the
    jobs, stages and tasks it launched are read back exactly from the
    status tracker when it closes. Inactive tracers record nothing and
    set no job group: the untraced run executes the same calls bare.
    """

    def __init__(self, sc, active: bool):
        self.sc = sc
        self.active = active
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._status = sc.statusTracker()

    def _set_group(self, sid: int | None) -> None:
        if sid is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(f"perfbench-{sid}", self.spans[sid]["name"])

    def _spark_counts(self, sid: int) -> tuple[int, int, int]:
        jobs = self._status.getJobIdsForGroup(f"perfbench-{sid}")
        n_stages = n_tasks = 0
        for j in jobs:
            info = self._status.getJobInfo(j)
            for s in info.stageIds if info else ():
                st = self._status.getStageInfo(s)
                # skipped stages (reused shuffle output) ran no task
                if st is not None and st.numCompletedTasks > 0:
                    n_stages += 1
                    n_tasks += st.numCompletedTasks
        return len(jobs), n_stages, n_tasks

    @contextmanager
    def span(self, name: str, request_id: str | None = None):
        if not self.active:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        if request_id is None and parent is not None:
            request_id = self.spans[parent]["request_id"]
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "parent": parent, "request_id": request_id,
               "start": time.monotonic(), "end": None}
        self.spans.append(rec)
        self._stack.append(sid)
        self._set_group(sid)
        try:
            yield rec
        finally:
            rec["end"] = time.monotonic()
            self._stack.pop()
            self._set_group(parent)
            rec["jobs"], rec["stages"], rec["tasks"] = self._spark_counts(sid)

    def wrap(self, name: str, fn, force=None):
        """``fn`` run inside a span; while the tracer is active,
        ``force(result)`` (if given) runs the result's lazy Spark work
        inside the same span."""

        def traced(*args, **kwargs):
            with self.span(name):
                out = fn(*args, **kwargs)
                if force is not None and self.active:
                    force(out)
            return out

        traced.__wrapped__ = fn
        return traced

    # ---- derived views

    def closed(self, name: str | None = None) -> list[dict]:
        return [s for s in self.spans if s["end"] is not None
                and (name is None or s["name"] == name)]

    def self_time(self, rec: dict) -> float:
        kids = [s for s in self.spans if s["parent"] == rec["id"]]
        return (rec["end"] - rec["start"]) - sum(k["end"] - k["start"] for k in kids)

    def subtree(self, rec: dict) -> list[dict]:
        out, todo = [], [rec["id"]]
        while todo:
            sid = todo.pop()
            out.append(self.spans[sid])
            todo.extend(s["id"] for s in self.spans if s["parent"] == sid)
        return out

    def subtree_counts(self, rec: dict) -> tuple[int, int, int]:
        sub = self.subtree(rec)
        return (sum(s["jobs"] for s in sub), sum(s["stages"] for s in sub),
                sum(s["tasks"] for s in sub))

    def write(self, path) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")
